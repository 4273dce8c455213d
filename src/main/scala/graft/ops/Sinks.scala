package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD

/** File sink (reference O7): write reduce partition N to
  * `outputDirectory/outputfileNN` (1-based, zero-padded), clobbering any
  * pre-existing output directory — mirroring `_move_result_files`
  * (`/root/reference/mapreduce/manager/__main__.py:738-761`).
  *
  * The data path is distributed: `saveAsTextFile` writes `part-NNNNN` files
  * executor-side (at cluster scale these land on the shared/object store);
  * only the final rename pass — a metadata operation over numReducers
  * entries, not a data copy — runs on the driver.
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

  /** Write `reduced` as outputfileNN files; returns the file paths. */
  def outputFiles(reduced: RDD[String], outputDirectory: String): Seq[String] = {
    val out = Paths.get(outputDirectory)
    deleteRecursively(out)
    val tmp = out.resolveSibling(out.getFileName.toString + ".spark-tmp")
    deleteRecursively(tmp)
    reduced.saveAsTextFile(tmp.toString)
    Files.createDirectories(out)
    val listing = Files.list(tmp)
    val parts =
      try listing
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .sorted()
        .toArray()
        .map(_.asInstanceOf[Path])
      finally listing.close()
    val moved = parts.zipWithIndex.map { case (part, i) =>
      val target = out.resolve(f"outputfile${i + 1}%02d")
      Files.move(part, target)
      target.toString
    }
    deleteRecursively(tmp)
    moved.toSeq
  }

  /** Byte-verbatim sink for the raw-parity tier: lines already CARRY their
    * real terminators (from [[graft.sources.ParityLines]] /
    * [[GroupStage.referenceGroup]]), so each partition's bytes are written
    * EXACTLY — no appended newline, reproducing the reference's output
    * files including a missing final newline (`saveAsTextFile` terminates
    * every record, which is the one byte it cannot represent). Partition i
    * writes `outputfileNN` directly; the write runs executor-side like the
    * text sink's (on a shared filesystem in cluster mode — parity jobs are
    * golden-fixture scale on a local session by definition).
    */
  def outputFilesRaw(grouped: RDD[String], outputDirectory: String): Seq[String] = {
    val out = Paths.get(outputDirectory)
    deleteRecursively(out)
    Files.createDirectories(out)
    val dirStr = out.toAbsolutePath.toString
    grouped
      .mapPartitionsWithIndex { case (i, it) =>
        val target = Paths.get(dirStr, f"outputfile${i + 1}%02d")
        val w = Files.newBufferedWriter(target, java.nio.charset.StandardCharsets.UTF_8)
        try it.foreach(w.write)
        finally w.close()
        Iterator.single(target.toString)
      }
      .collect()
      .toSeq
      .sorted
  }
}
