package graft.ops

import org.apache.spark.rdd.RDD

/** Reduce stage (reference O6): each reducer consumes one sorted reduce
  * partition as a line stream and emits aggregate lines — `mapPartitions`
  * over the grouped RDD, or `RDD.pipe` for external executables (same
  * dispatch rule as [[MapStage]]).
  */
object ReduceStage {

  /** wc_reduce semantics (`/root/reference/tests/testdata/exec/wc_reduce.sh:14`):
    * `cut -f1 | uniq -c | awk '{print $2"\t"$1}'` — count runs of adjacent
    * equal keys (the field before the first tab) in the already-sorted
    * stream, emit `key\tcount`. Streaming: O(1) state per partition;
    * allocates per output key only — later lines of a run are matched in
    * place against the run's first line.
    */
  def wcReduce(lines: Iterator[String]): Iterator[String] = new Iterator[String] {
    private val it                     = lines.buffered
    private def keyEnd(l: String): Int = { val i = l.indexOf('\t'); if (i < 0) l.length else i }
    // `l`'s key equals `first`'s key, which is first.substring(0, k)
    private def sameKey(l: String, first: String, k: Int): Boolean =
      l.regionMatches(0, first, 0, k) && (l.length == k || l.charAt(k) == '\t')
    def hasNext: Boolean = it.hasNext
    def next(): String = {
      val first = it.next()
      val k     = keyEnd(first)
      var count = 1L
      while (it.hasNext && sameKey(it.head, first, k)) { it.next(); count += 1 }
      s"${first.substring(0, k)}\t$count"
    }
  }

  /** grep_reduce semantics (`/root/reference/tests/testdata/exec/grep_reduce.py:14-27`):
    * strip, keep only lines with exactly one tab (two fields), project the
    * value.
    */
  def grepReduce(lines: Iterator[String]): Iterator[String] =
    lines.flatMap { raw =>
      val parts = raw.trim.split("\t", -1)
      if (parts.length == 2) Iterator(parts(1)) else Iterator.empty
    }

  val native: Map[String, Iterator[String] => Iterator[String]] = Map(
    "wc_reduce"   -> wcReduce _,
    "grep_reduce" -> grepReduce _
  )

  def apply(grouped: RDD[String], reducerExecutable: String): RDD[String] =
    if (new java.io.File(reducerExecutable).isFile)
      grouped.pipe(Seq(reducerExecutable))
    else
      native.get(reducerExecutable) match {
        case Some(f) => grouped.mapPartitions(f)
        case None =>
          throw new IllegalArgumentException(
            s"unknown reducer '$reducerExecutable': not a file and not one of ${native.keys.mkString(", ")}"
          )
      }
}
