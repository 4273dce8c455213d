package graft.ops

import org.apache.spark.rdd.RDD

/** Reduce stage (reference O6): each reducer consumes one sorted reduce
  * partition of the counted stream ([[GroupStage.counted]]) and emits
  * aggregate lines — `mapPartitions` for a native reducer, or `RDD.pipe`
  * over the [[GroupStage.expand]]ed lines for an external executable (same
  * dispatch rule as [[MapStage]]).
  */
object ReduceStage {

  /** wc_reduce semantics (`/root/reference/tests/testdata/exec/wc_reduce.sh:14`):
    * `cut -f1 | uniq -c | awk '{print $2"\t"$1}'` — count runs of adjacent
    * equal keys (the field before the first tab) in the already-sorted
    * stream, emit `key\tcount` (the sum of the run's counts). Streaming:
    * O(1) state per partition; allocates per output key only — later
    * entries of a run are matched in place against the run's first line.
    */
  def wcReduce(counted: Iterator[(String, Long)]): Iterator[String] = new Iterator[String] {
    private val it                     = counted.buffered
    private def keyEnd(l: String): Int = { val i = l.indexOf('\t'); if (i < 0) l.length else i }
    // `l`'s key equals `first`'s key, which is first.substring(0, k)
    private def sameKey(l: String, first: String, k: Int): Boolean =
      l.regionMatches(0, first, 0, k) && (l.length == k || l.charAt(k) == '\t')
    def hasNext: Boolean = it.hasNext
    def next(): String = {
      val (first, n) = it.next()
      val k          = keyEnd(first)
      var count      = n
      while (it.hasNext && sameKey(it.head._1, first, k)) count += it.next()._2
      s"${first.substring(0, k)}\t$count"
    }
  }

  /** grep_reduce semantics (`/root/reference/tests/testdata/exec/grep_reduce.py:14-27`):
    * strip, keep only lines with exactly one tab (two fields), project the
    * value — once per copy of the line.
    */
  def grepReduce(counted: Iterator[(String, Long)]): Iterator[String] =
    GroupStage.expand(counted.flatMap { case (raw, n) =>
      val parts = raw.trim.split("\t", -1)
      if (parts.length == 2) Iterator.single((parts(1), n)) else Iterator.empty
    })

  val native: Map[String, Iterator[(String, Long)] => Iterator[String]] = Map(
    "wc_reduce"   -> wcReduce _,
    "grep_reduce" -> grepReduce _
  )

  def counted(grouped: RDD[(String, Long)], reducerExecutable: String): RDD[String] =
    if (new java.io.File(reducerExecutable).isFile)
      grouped.mapPartitions(GroupStage.expand).pipe(Seq(reducerExecutable))
    else
      native.get(reducerExecutable) match {
        case Some(f) => grouped.mapPartitions(f)
        case None =>
          throw new IllegalArgumentException(
            s"unknown reducer '$reducerExecutable': not a file and not one of ${native.keys.mkString(", ")}"
          )
      }

  /** Reduce sorted reduce-input lines: each line counts once. */
  def apply(grouped: RDD[String], reducerExecutable: String): RDD[String] =
    counted(grouped.map((_, 1L)), reducerExecutable)
}
