package graft.ops

import org.apache.spark.rdd.RDD

/** Map stage (reference O3): one input line in, zero-or-more `key\tvalue`
  * lines out — a flatMap. Two modes:
  *
  *   - native: a registered Scala function, fused into the scan stage
  *     (whole-stage-codegen'd when reached via the DataFrame queries;
  *     here exposed over RDD[String] for the generic job runner);
  *   - external: any line-oriented executable via `RDD.pipe` — Spark's
  *     built-in Hadoop-Streaming analog of the reference's per-file
  *     subprocess pipe (`/root/reference/mapreduce/worker/__main__.py:155-163`).
  *     One process per partition instead of one per file: identical
  *     line-stream semantics for line-local mappers, far fewer process
  *     spawns at scale.
  *
  * A job runs [[counted]]: the same mapper, its output counted in the map
  * task's own table, so only distinct lines leave the task.
  */
object MapStage {

  /** wc_map's `tr` set, compiled once: `String.split` would recompile it per line. */
  private val WcSeparators = java.util.regex.Pattern.compile("[ \t\\[\\]]")

  /** wc_map semantics (`/root/reference/tests/testdata/exec/wc_map.sh:12`):
    * `tr '[ \t]' '\n'` — the *set* includes the brackets themselves, a kept
    * artifact — then lowercase, then emit `token\t1` for every record
    * including empties (an empty input line yields the empty-string key).
    */
  def wcMap(line: String): Iterator[String] =
    WcSeparators
      .split(line.toLowerCase(java.util.Locale.ROOT), -1) // ASCII tr semantics regardless of JVM default locale (tr-TR dotless-ı hazard)
      .iterator
      .map(tok => tok + "\t1")

  /** grep_map semantics (`/root/reference/tests/testdata/exec/grep_map.py:14-28`):
    * strip the line, drop blanks, keep lines whose lowercase form contains
    * the query (default "product"), emit `1\tline`.
    */
  def grepMap(query: String)(line: String): Iterator[String] = {
    val stripped = line.trim
    if (stripped.nonEmpty && stripped.toLowerCase(java.util.Locale.ROOT).contains(query)) Iterator("1\t" + stripped)
    else Iterator.empty
  }

  /** [[wcMap]] fused with the map task's combine: the counts of
    * `lines.flatMap(wcMap)`, as [[GroupStage.combine]] would emit them.
    * An ASCII line is tokenised in one pass: A–Z lowercased into a reused
    * buffer, each `token\t1`'s hash built as it goes, and a String
    * allocated only for a token the table has not seen. A line holding any
    * char ≥ 0x80 goes through [[wcMap]] itself: `toLowerCase` can change
    * its length and depends on context there (`İ`, a word-final `Σ`).
    */
  def wcCounts(lines: Iterator[String]): Iterator[(String, Long)] = {
    var key = new Array[Char](64)
    CountTable.counting(lines) { (table, line) =>
      val n = line.length
      var i = 0
      while (i < n && line.charAt(i) < 0x80) i += 1
      if (i < n) wcMap(line).foreach(table.add)
      else {
        if (key.length < n + 2) key = new Array[Char](n + 2)
        var len = 0
        var h   = 0
        i = 0
        while (i <= n) { // the line's end closes the last token, so an empty line is one
          val c = if (i < n) line.charAt(i) else ' '
          if (c == ' ' || c == '\t' || c == '[' || c == ']') {
            key(len) = '\t'
            key(len + 1) = '1'
            table.add(key, len + 2, (h * 31 + '\t') * 31 + '1')
            len = 0
            h = 0
          } else {
            val l = if (c >= 'A' && c <= 'Z') (c + ('a' - 'A')).toChar else c
            key(len) = l
            h = 31 * h + l
            len += 1
          }
          i += 1
        }
      }
    }
  }

  /** Native mapper registry, keyed by the reference executable's basename. */
  val native: Map[String, String => Iterator[String]] = Map(
    "wc_map"   -> wcMap _,
    "grep_map" -> grepMap("product") _
  )

  private def isPipe(mapperExecutable: String): Boolean = new java.io.File(mapperExecutable).isFile

  /** Resolve and run the mapper over the lines RDD. A name that resolves to
    * an existing file runs in external pipe mode; otherwise it must be a
    * registered native operator.
    */
  def apply(lines: RDD[String], mapperExecutable: String): RDD[String] =
    if (isPipe(mapperExecutable))
      lines.pipe(Seq(mapperExecutable))
    else
      native.get(mapperExecutable) match {
        case Some(f) => lines.flatMap(f)
        case None =>
          throw new IllegalArgumentException(
            s"unknown mapper '$mapperExecutable': not a file and not one of ${native.keys.mkString(", ")}"
          )
      }

  /** The map stage as a job runs it: each map task counts its own output
    * (the MapReduce combiner) and emits `(line, count)` for
    * [[GroupStage.counted]]. Native `wc_map` runs as the fused
    * [[wcCounts]]; any other mapper feeds [[GroupStage.combine]].
    */
  def counted(lines: RDD[String], mapperExecutable: String): RDD[(String, Long)] =
    if (mapperExecutable == "wc_map" && !isPipe(mapperExecutable)) lines.mapPartitions(wcCounts)
    else apply(lines, mapperExecutable).mapPartitions(GroupStage.combine)
}
