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

  /** Native mapper registry, keyed by the reference executable's basename. */
  val native: Map[String, String => Iterator[String]] = Map(
    "wc_map"   -> wcMap _,
    "grep_map" -> grepMap("product") _
  )

  /** Resolve and run the mapper over the lines RDD. A name that resolves to
    * an existing file runs in external pipe mode; otherwise it must be a
    * registered native operator.
    */
  def apply(lines: RDD[String], mapperExecutable: String): RDD[String] =
    if (new java.io.File(mapperExecutable).isFile)
      lines.pipe(Seq(mapperExecutable))
    else
      native.get(mapperExecutable) match {
        case Some(f) => lines.flatMap(f)
        case None =>
          throw new IllegalArgumentException(
            s"unknown mapper '$mapperExecutable': not a file and not one of ${native.keys.mkString(", ")}"
          )
      }
}
