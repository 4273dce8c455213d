package graft.ops

import org.apache.spark.{Aggregator, HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}

/** Group stage (reference O4+O5): globally sort the mapped `key\tvalue`
  * lines and split them into `numReducers` sorted reduce inputs.
  *
  * Its output is the counted stream [[counted]]: each distinct line with
  * its count, once, in the partition and place its copies would take. Each
  * map task has already counted its lines in its own table
  * ([[MapStage.counted]]: [[combine]] or the fused wc kernel), so
  * [[counted]] only routes, and a distinct line crosses the shuffle once
  * per map task. [[expand]] re-emits every copy for a pipe and for the
  * line-stream entry point [[apply]].
  *
  * Two routing modes, chosen by `parityMode`:
  *
  *   - hash (default, the scalable path): partition on
  *     `floorMod(line.hashCode, numReducers)` and sort within partitions —
  *     one exchange, no global ordering structure, survives any scale.
  *     Equal lines still land in one partition and adjacent, which is the
  *     only property reducers actually rely on (`wc_reduce.sh` counts
  *     adjacent equal keys).
  *
  *   - rank-mod (golden-parity mode): reproduces the reference's
  *     distinct-line round-robin router byte-for-byte
  *     (`/root/reference/mapreduce/manager/__main__.py:587-593`): walk the
  *     merged sorted stream, increment a counter on each NEW distinct line,
  *     route the line to `counter % numReducers`. Implemented scalably as
  *     counted distinct lines, sorted and ranked with `zipWithIndex` (an
  *     O(1)-driver metadata pass, not a global single-partition window),
  *     then routed by `rank % numReducers`.
  *     Note the quirk kept deliberately: routing is per distinct *line*
  *     (key AND value), not per key — same key with different values can
  *     split across reducers, exactly like the reference.
  *
  * Both modes route lines without their terminators. The reference sorts
  * `readlines()` output, so to it an unterminated last line `foo` is a
  * distinct line from `foo\n`; here they are one line, as Hadoop's
  * TextInputFormat reads them. On newline-terminated input, the only
  * kind the reference's goldens hold, rank-mod routes byte-for-byte.
  */
object GroupStage {

  /** Routes rank `r` to partition `r % n` — the distinct-line counter's
    * round-robin. Only [[rankRoute]]'s own shuffle uses it, so it needs no
    * equality for Spark to match partitionings.
    */
  private final class RankPartitioner(n: Int) extends Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = (key.asInstanceOf[Long] % n).toInt
  }

  /** Lexicographic (UTF-16 code unit) line ordering — equals the reference's
    * Python code-point sort for all BMP text, and byte order for ASCII.
    * The reference sorts lines WITH their trailing newline
    * (`readlines()` + `sort()`, `/root/reference/mapreduce/worker/__main__.py:180-182`),
    * which flips the order of a line that is a proper prefix of another
    * continuing with '\t' (0x09 < 0x0A) — so lines compare as if each
    * carried a trailing '\n'. [[compareLines]] does that without building
    * the two strings.
    */
  private val lineOrdering: Ordering[String] = (a, b) => compareLines(a, b)

  /** Equals `(a + "\n") compareTo (b + "\n")`, allocation-free: compare
    * the common prefix, then the longer line's next char against the
    * shorter one's virtual '\n'.
    */
  private[graft] def compareLines(a: String, b: String): Int = {
    val la = a.length
    val lb = b.length
    val n  = math.min(la, lb)
    var i  = 0
    while (i < n) {
      val d = a.charAt(i) - b.charAt(i)
      if (d != 0) return d
      i += 1
    }
    if (la > lb) { val d = a.charAt(n) - '\n'; if (d != 0) d else la - lb }
    else if (la < lb) { val d = '\n' - b.charAt(n); if (d != 0) d else la - lb }
    else 0
  }

  /** Re-emit each counted line `count` times, in order. */
  private[graft] def expand(counted: Iterator[(String, Long)]): Iterator[String] =
    counted.flatMap { case (line, n) =>
      new Iterator[String] {
        private var left     = n
        def hasNext: Boolean = left > 0
        def next(): String   = { left -= 1; line }
      }
    }

  /** Entry bound of a map task's count table ([[combine]],
    * [[MapStage.wcCounts]]), so a map task's memory is bounded.
    */
  private[graft] val CombineBound = 65536

  /** Fold a map task's lines into its own count table and emit each
    * distinct line with its count, in table order. A full table
    * ([[CombineBound]] entries) is emitted and refilled, so a line may come
    * out in several partial counts; the reduce side sums them.
    */
  def combine(lines: Iterator[String]): Iterator[(String, Long)] =
    CountTable.counting(lines)(_ add _)

  /** Shuffle map-side counts to `p`; the reduce side sums them. */
  private def shuffleCounts(counts: RDD[(String, Long)], p: Partitioner): ShuffledRDD[String, Long, Long] =
    new ShuffledRDD[String, Long, Long](counts, p)
      .setAggregator(Aggregator[String, Long, Long](c => c, _ + _, _ + _))

  /** Route the map tasks' counts ([[MapStage.counted]]) to `numReducers`
    * counted reduce inputs, hash- or (`parityMode`) rank-mod-routed.
    */
  def counted(counts: RDD[(String, Long)], numReducers: Int, parityMode: Boolean): RDD[(String, Long)] =
    if (parityMode) rankRoute(counts, numReducers)
    else shuffleCounts(counts, new HashPartitioner(numReducers)).setKeyOrdering(lineOrdering)

  def apply(lines: RDD[String], numReducers: Int, parityMode: Boolean): RDD[String] =
    counted(lines.mapPartitions(combine), numReducers, parityMode).mapPartitions(expand)

  /** The rank-mod router: sum each distinct line's counts, sort the
    * distinct lines and rank them (`zipWithIndex` launches one
    * job to count per-partition sizes — no single-partition bottleneck), then
    * route rank `r` to bucket `r % numReducers`. Within a bucket, rank
    * order IS line order, so sorting on the rank sorts the lines.
    */
  private def rankRoute(counts: RDD[(String, Long)], numReducers: Int): RDD[(String, Long)] =
    shuffleCounts(counts, Partitioner.defaultPartitioner(counts))
      .sortBy(_._1)(lineOrdering, implicitly)
      .zipWithIndex()
      .map(_.swap)
      .repartitionAndSortWithinPartitions(new RankPartitioner(numReducers))
      .values
}
