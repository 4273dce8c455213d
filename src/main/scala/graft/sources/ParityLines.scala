package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD

/** Newline-PRESERVING text reader for reference-parity byte semantics.
  *
  * A line reader that strips terminators ([[LineSource]], like Hadoop's
  * TextInputFormat) erases the one distinction the reference's group
  * stage can observe: its workers sort map output with `readlines()` —
  * lines KEEP their trailing newline, and a file's final line keeps its
  * real bytes, newline or not
  * (`/root/reference/mapreduce/worker/__main__.py:180-182`). So to the
  * reference, an unterminated final line `"foo"` is a DIFFERENT line from
  * `"foo\n"` elsewhere in the input: it sorts before it and increments the
  * distinct-line counter separately, shifting every subsequent rank-mod
  * bucket assignment ([[graft.ops.GroupStage]]'s documented parity
  * limitation through round 11).
  *
  * This reader returns each line WITH its true trailing `\n` (and the
  * final line without one when the file ends mid-line), so
  * [[graft.ops.GroupStage.rankModRaw]] can sort/distinct on the real
  * bytes — no appended sentinel, no merged distinct groups.
  *
  * It reads each file whole, as the reference's one-worker-per-file sort
  * does, which suits the PARITY tier only: parity fixtures are
  * file-per-mapper sized. The scalable tier (the hash router of [[graft.ops.GroupStage.counted]])
  * reads splits of files through [[LineSource]], stripping terminators —
  * at 100 TB the trailing byte of one file is not worth giving up
  * record-level splits, which is the same trade Hadoop's TextInputFormat
  * makes. (A splittable newline-preserving reader is possible — carry a
  * per-line has-terminator flag — but parity mode is the only consumer and
  * runs at golden-fixture scale by definition.) Both tiers list their
  * input with [[LineSource.files]].
  */
object ParityLines {

  /** Split one file's content into lines, each keeping its trailing
    * newline; a non-empty unterminated tail is emitted as-is.
    */
  private[graft] def splitKeepingNewlines(content: String): Seq[String] = {
    val out   = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var idx   = content.indexOf('\n')
    while (idx >= 0) {
      out += content.substring(start, idx + 1)
      start = idx + 1
      idx = content.indexOf('\n', start)
    }
    if (start < content.length) out += content.substring(start)
    out.toSeq
  }

  /** A whole file, malformed UTF-8 replaced as Hadoop's `Text` does. */
  private def content(file: String): String =
    new String(Files.readAllBytes(Paths.get(file)), StandardCharsets.UTF_8)

  /** The reference's SORT-TASK grain, byte-exact (round 13, closing the
    * multi-file-per-task gap ADVICE r12 flagged): the manager sorts the
    * input file list by path and deals files round-robin over `numTasks`
    * task lists (`/root/reference/mapreduce/manager/__main__.py:403-415`
    * `partition[index % num_worker].append(file)`), and each sort task
    * CONCATENATES its files' raw bytes before splitting into lines
    * (`worker/__main__.py:174-177` `input_merge += file.read()`) — so a
    * file that ends mid-line merges its tail with the NEXT file's first
    * line within the same task. Empty files take their turn in the deal,
    * as they do in the reference's glob. Returns one element per task
    * that holds a file: (taskIndex, lines-with-real-newlines after the
    * concat).
    *
    * The listing is the same driver-side metadata pass the reference's
    * manager performs (its glob + sort); contents stay executor-side.
    */
  def sortTasks(sc: SparkContext, path: String, numTasks: Int): RDD[(Int, Seq[String])] = {
    val tasks = LineSource.files(path).map(_.toString).zipWithIndex.groupMap(_._2 % numTasks)(_._1).toSeq.sortBy(_._1)
    sc.parallelize(tasks, math.max(tasks.size, 1)).mapValues(fs => splitKeepingNewlines(fs.map(content).mkString))
  }
}
