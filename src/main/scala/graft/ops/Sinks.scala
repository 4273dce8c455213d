package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD

/** File sink (reference O7): write reduce partition N to
  * `outputDirectory/outputfileNN` (1-based, zero-padded), clobbering any
  * pre-existing output directory — mirroring `_move_result_files`
  * (`/root/reference/mapreduce/manager/__main__.py:738-761`).
  *
  * Partition N's task writes `outputfileNN` under a name unique to its
  * attempt, then renames it over the target atomically. A failed attempt
  * deletes its temp file, so a retried or speculative attempt never leaves
  * a torn or stray file.
  */
object Sinks {

  /** Never follows symlinks: `Files.walk` without `FOLLOW_LINKS` deletes a
    * link as a LINK and leaves its target untouched. A traversal that
    * followed a symlinked directory would, in world-writable /tmp, turn a
    * planted link under a scratch name into a delete-anything primitive
    * running with this process's privileges.
    */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  /** [[deleteRecursively]] for exit-time and stale-scratch sweeps: a path
    * that cannot be deleted is skipped, so it never stops the others.
    */
  def deleteQuietly(p: Path): Unit =
    try deleteRecursively(p)
    catch { case NonFatal(_) => () }

  /** Write `reduced` as '\n'-terminated outputfileNN files, partition i's
    * task writing `outputfile(i+1)`; returns their paths.
    */
  def outputFiles(reduced: RDD[String], outputDirectory: String): Seq[String] = {
    val out = Paths.get(outputDirectory)
    deleteRecursively(out)
    Files.createDirectories(out)
    val dir = out.toAbsolutePath.toString
    reduced
      .mapPartitionsWithIndex { case (i, it) =>
        val name = f"outputfile${i + 1}%02d"
        val tmp  = Paths.get(dir, s".$name.${TaskContext.get().taskAttemptId()}")
        try {
          val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
          try it.foreach(line => w.append(line).append('\n'))
          finally w.close()
          Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
        } finally Files.deleteIfExists(tmp) // a no-op once moved
        Iterator.single(name)
      }
      .collect()
      .map(out.resolve(_).toString)
      .toSeq
  }
}
