package graft.sources

import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD

/** The Engine's input: the lines of a local directory's files, read
  * through java.nio, as the reference's workers read their input files
  * (its `mapreduce/worker/__main__.py`).
  *
  * Listing, splits and line breaks follow Hadoop's `TextInputFormat`, so a
  * job sees exactly the lines and map partitions a Hadoop read of the same
  * directory gives, without its per-call `Configuration` broadcast or its
  * per-file permission probes:
  *   - the files are [[files]]: hidden names skipped, sorted by name;
  *   - [[splits]] applies FileInputFormat's split rule;
  *   - each split is read by Hadoop's own `LineReader` (`\n`, `\r` and
  *     `\r\n` terminators, a UTF-8 byte-order mark dropped at a file's
  *     start, malformed UTF-8 replaced as `Text` does). A split skips its
  *     first line unless it starts at byte 0, and reads every line that
  *     starts at or before its end, so each line is read by exactly one
  *     split.
  * Files are read as plain text: no codec is chosen by file suffix.
  *
  * It is the Engine's one reader. Lines come back without their
  * terminators, so a file that ends mid-line yields its last line as if it
  * were terminated. The reference's `readlines()` keeps that distinction;
  * a job here does not (see [[graft.ops.GroupStage]]).
  */
object LineSource {

  /** The local file system's block size, which caps a split. */
  private val BlockSize = 32L << 20

  /** A file's last split may be up to this factor of the split size. */
  private val SplitSlop = 1.1

  /** `length` bytes of `file` from `start`; also the partition that reads them. */
  private[graft] final case class Split(index: Int, file: String, start: Long, length: Long) extends Partition

  /** The input files of `path`: the file itself, or the regular files of
    * the directory sorted by name. Names starting with `_` or `.` are
    * skipped (Hadoop's hidden-file rule: `_SUCCESS`, `.crc` files). A
    * missing path or a subdirectory is an `IllegalArgumentException`.
    */
  def files(path: String): Seq[Path] = {
    val p = Paths.get(path).toAbsolutePath
    if (Files.isRegularFile(p)) Seq(p)
    else {
      require(Files.isDirectory(p), s"input path $p does not exist or is not a file or directory")
      val listing = Files.list(p)
      def hidden(f: Path) = { val n = f.getFileName.toString; n.startsWith("_") || n.startsWith(".") }
      val visible =
        try listing.iterator.asScala.filterNot(hidden).toVector
        finally listing.close()
      visible.foreach(f => require(Files.isRegularFile(f), s"input $f is not a regular file"))
      visible.sortBy(_.getFileName.toString)
    }
  }

  /** FileInputFormat's split rule over `(file, length)` in order: the split
    * size is total bytes / `numMappers`, at least 1 and at most
    * [[BlockSize]]; a file is cut into splits of that size while more than
    * [[SplitSlop]] of one remains, and the rest is its last split. Empty
    * splits are dropped, as Spark drops them from a Hadoop read.
    */
  private[graft] def splits(files: Seq[(String, Long)], numMappers: Int): Seq[Split] = {
    val size = math.max(1L, math.min(files.map(_._2).sum / numMappers, BlockSize))
    files
      .flatMap { case (f, len) =>
        val whole = Iterator.iterate(0L)(_ + size).takeWhile(at => (len - at).toDouble / size > SplitSlop).toSeq
        val rest  = whole.size * size
        whole.map((f, _, size)) :+ ((f, rest, len - rest))
      }
      .filter(_._3 > 0)
      .zipWithIndex
      .map { case ((f, start, length), i) => Split(i, f, start, length) }
  }

  /** The lines of `path`'s [[files]], one partition per split. */
  def apply(sc: SparkContext, path: String, numMappers: Int): RDD[String] =
    new SplitLines(sc, splits(files(path).map(f => (f.toString, Files.size(f))), numMappers)).setName(path)

  private final class SplitLines(sc: SparkContext, parts: Seq[Split]) extends RDD[String](sc, Nil) {
    override protected def getPartitions: Array[Partition] = parts.toArray[Partition]
    override def compute(p: Partition, context: TaskContext): Iterator[String] = read(p.asInstanceOf[Split], context)
  }

  private val Bom = Array(0xef, 0xbb, 0xbf).map(_.toByte)

  private def read(s: Split, context: TaskContext): Iterator[String] = {
    val channel = FileChannel.open(Paths.get(s.file))
    // closes on success, failure and an early stop alike
    context.addTaskCompletionListener[Unit](_ => channel.close())
    channel.position(s.start)
    val in   = new LineReader(Channels.newInputStream(channel))
    val text = new Text()
    val end  = s.start + s.length
    // the previous split reads the line this split starts inside
    var pos = if (s.start == 0) 0L else s.start + in.readLine(text)

    def next(): Option[String] = if (pos > end) None else {
      val at = pos
      val n  = in.readLine(text)
      pos += n
      val bom = at == 0 && text.getLength >= 3 && java.util.Arrays.equals(text.getBytes, 0, 3, Bom, 0, 3)
      if (bom && n > 3) Some(Text.decode(text.getBytes, 3, text.getLength - 3))
      else if (n > 0 && !bom) Some(text.toString)
      else None
    }
    Iterator.continually(next()).takeWhile(_.isDefined).map(_.get)
  }
}
