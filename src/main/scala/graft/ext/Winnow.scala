package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Q

/** Rolling-hash document fingerprinting (winnowing, Schleimer et al.
  * SIGMOD'03 — the plagiarism-detection/shared-passage fingerprint, distinct
  * from the exact-dedup [[graft.queries.Fingerprint]] key):
  *
  *   - Rabin-Karp rolling hash over character k-grams (base 257, mod
  *     2^61-1): O(len) per document, one multiply+add per position;
  *   - winnowing: keep the minimum hash of every w-hash window (rightmost
  *     min on ties) — guarantees any shared substring of length >= k+w-1
  *     yields at least one shared fingerprint;
  *   - output: the distinct selected hashes. Documents sharing passages
  *     share fingerprints, so a groupBy/join on the exploded fingerprints
  *     finds copied passages corpus-wide with a plain shuffle — the same
  *     bucketed-candidate shape as the other dedup tiers.
  *
  * Genuine per-row imperative math → typed map (same documented exception
  * class as [[SimHash]]); everything downstream is declarative.
  */
object Winnow {

  // Base must exceed the UTF-16 alphabet (65535): with a smaller base,
  // k-grams related by (…,c,d,…) vs (…,c+1,d-base,…) collide by
  // construction on non-ASCII text. Exposed for the spec's direct
  // polynomial cross-check.
  private[graft] val Base = 1000003L
  private[graft] val Mod  = (1L << 61) - 1 // Mersenne prime; products fit via mulmod

  /** (a*b) mod 2^61-1 via the 128-bit product and a Mersenne fold:
    * x = hi·2^64 + lo and 2^64 ≡ 2^3 (mod 2^61-1), so
    * x mod M = ((x >> 61) + (x & M)) folded once more if needed.
    * Requires a, b < M (maintained by every call site).
    */
  private def mulMod(a: Long, b: Long): Long = {
    val hi     = Math.multiplyHigh(a, b) // upper 64 bits of the product
    val lo     = a * b                   // lower 64 bits (wrapping)
    val folded = (hi << 3) | (lo >>> 61) // x >> 61 (hi < 2^58, no overflow)
    var r      = (lo & Mod) + folded
    while (r >= Mod) r -= Mod
    r
  }

  /** Distinct winnowed fingerprints of `text` for k-gram size `k`, window
    * `w`. Deterministic; empty for texts shorter than k.
    */
  def fingerprints(text: String, k: Int = 8, w: Int = 4): Array[Long] = {
    // Locale.ROOT: default-locale lowercasing (e.g. tr-TR dotless i) would
    // make fingerprints non-reproducible across JVMs
    val s = text.toLowerCase(java.util.Locale.ROOT)
    val n = s.length
    if (n < k) return Array.empty
    val m      = n - k + 1
    val hashes = new Array[Long](m)
    // base^(k-1) mod M for the rolling subtraction
    var basePow = 1L
    var i       = 0
    while (i < k - 1) { basePow = mulMod(basePow, Base); i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = (mulMod(h, Base) + s.charAt(i)) % Mod; i += 1 }
    hashes(0) = h
    i = 1
    while (i < m) {
      val out = mulMod(s.charAt(i - 1).toLong, basePow)
      h = (h - out % Mod + Mod) % Mod
      h = (mulMod(h, Base) + s.charAt(i + k - 1)) % Mod
      hashes(i) = h
      i += 1
    }
    if (m <= w) return Array(hashes.min)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var win = 0
    while (win <= m - w) {
      var best = win
      var j    = win + 1
      while (j < win + w) { if (hashes(j) <= hashes(best)) best = j; j += 1 }
      out += hashes(best)
      win += 1
    }
    out.toArray
  }

  /** documents -> (doc_id, n_fingerprints, min_fp) — compact per-doc
    * summary; the exploded form below drives passage matching.
    */
  def summary(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // same spread rationale as [[sharedPassagePairs]]: parallelize the
    // per-doc fingerprint pass
    graft.core.Width.compute(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .map { case (id, text) =>
        val fps = fingerprints(text)
        (id, fps.length.toLong, if (fps.isEmpty) -1L else fps.min)
      }
      .toDF("doc_id", "n_fps", "min_fp")
  }

  /** Shared-passage pairs: docs sharing >= minShared winnowed fingerprints
    * (exploded fingerprints → groupBy-join on the fingerprint — bucketed,
    * never all-pairs).
    *
    * `dfCap` drops fingerprints present in more than that many documents
    * BEFORE the self-join — a fingerprint of document frequency D fans out
    * to D² candidate pairs, so one boilerplate passage shared by a million
    * documents would otherwise dominate the join. The cap bounds per-key
    * fan-out at dfCap² AND is the right semantics: corpus-wide boilerplate
    * is not passage-copying signal. Same df-capping as TF-IDF's intuition,
    * applied to join safety.
    */
  def sharedPassagePairs(
      spark: SparkSession,
      docs: DataFrame,
      minShared: Int,
      dfCap: Int = Int.MaxValue
  ): DataFrame = {
    import spark.implicits._
    // spread the narrow scan so the Rabin-Karp fingerprint pass runs at
    // full parallelism (single-task on the one-row-group fixture scan
    // otherwise — guide §2.5)
    val raw = graft.core.Width.compute(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .flatMap { case (id, text) => fingerprints(text).map(f => (id, f)) }
      .toDF("doc_id", "fp")
    val fps = raw
      .withColumn(
        "df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("fp"))
      )
      .filter(col("df") <= dfCap)
      .select("doc_id", "fp")
    fps.alias("a")
      .join(fps.alias("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** The shared CTE chain replaying [[fingerprints]] in DuckDB, ending in
    * `allfps(doc_id, hash)` — every doc's distinct winnowed fingerprints.
    * The mod-2^61-1 Rabin-Karp needs no mulmod trick in DuckDB —
    * intermediate `h*Base + c` is < 2^81, well inside HUGEINT — so each
    * position's hash is a k-deep fold expression, and winnowing is a
    * sliding MIN window + a rightmost-tie join. The fixture is ASCII
    * (verified), so `ord`(codepoint) == Java `charAt` and `lower()` ==
    * `toLowerCase(Locale.ROOT)`. ONE definition feeds the summary AND the
    * shared-passage oracles so the replay can never diverge between them.
    */
  private def fpsChainSql(k: Int, w: Int): String = {
    val fold = (0 until k).foldLeft("0::HUGEINT") { (acc, j) =>
      s"(($acc) * $Base + ord(substr(s, p + $j, 1))) % $Mod"
    }
    s"""d AS (SELECT doc_id, lower(text) AS s, length(text) AS n FROM documents),
       |pos AS (
       |  SELECT doc_id, s, n - $k + 1 AS m,
       |    unnest(generate_series(1, n - $k + 1)) AS p
       |  FROM d WHERE n >= $k
       |),
       |h AS (
       |  SELECT doc_id, m, p, $fold AS hash FROM pos
       |),
       |wmin AS (
       |  SELECT doc_id, p AS win, m,
       |    MIN(hash) OVER (PARTITION BY doc_id ORDER BY p
       |                    ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mh
       |  FROM h
       |),
       |sel AS (
       |  SELECT w.doc_id, w.win, MAX(h2.p) AS selp
       |  -- m > w strictly: m == w takes the single-min 'small' branch below,
       |  -- exactly like the Scala fingerprints() early return
       |  FROM (SELECT * FROM wmin WHERE win <= m - $w + 1 AND m > $w) w
       |  JOIN h h2 ON h2.doc_id = w.doc_id AND h2.p BETWEEN w.win AND w.win + ${w - 1}
       |            AND h2.hash = w.mh
       |  GROUP BY w.doc_id, w.win
       |),
       |selfps AS (
       |  SELECT DISTINCT s2.doc_id, h3.hash
       |  FROM (SELECT DISTINCT doc_id, selp FROM sel) s2
       |  JOIN h h3 ON h3.doc_id = s2.doc_id AND h3.p = s2.selp
       |),
       |allfps AS (
       |  SELECT * FROM selfps
       |  UNION ALL
       |  SELECT doc_id, MIN(hash) AS hash FROM h WHERE m <= $w GROUP BY doc_id
       |)""".stripMargin
  }

  /** DuckDB replay of [[summary]] over the shared [[fpsChainSql]] chain
    * (docs shorter than k keep their (0, -1) sentinel row).
    */
  def summaryOracleSql(k: Int = 8, w: Int = 4): String =
    s"""WITH ${fpsChainSql(k, w)}
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps, CAST(MIN(hash) AS BIGINT) AS min_fp
       |FROM allfps GROUP BY doc_id
       |UNION ALL
       |SELECT doc_id, CAST(0 AS BIGINT), CAST(-1 AS BIGINT) FROM d WHERE n < $k
       |ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[sharedPassagePairs]]: per-doc fingerprints are
    * already distinct, so the hash-join count IS the intersection size;
    * the df cap replays as a count-over-partition filter.
    */
  def sharedPassageOracleSql(minShared: Int, dfCap: Int, k: Int = 8, w: Int = 4): String =
    s"""WITH ${fpsChainSql(k, w)},
       |capped AS (
       |  SELECT doc_id, hash FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY hash) AS df FROM allfps)
       |  WHERE df <= $dfCap)
       |SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
       |FROM capped a JOIN capped b ON a.hash = b.hash AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING COUNT(*) >= $minShared
       |ORDER BY d1, d2""".stripMargin

  /** Winnowed-fingerprint summary, hash-checked end-to-end against the
    * HUGEINT Rabin-Karp replay oracle (was rows-only until round 4; the
    * shared-substring guarantee remains property-tested in WinnowSpec).
    */
  val rollingFp: Q = Q(
    "q_rolling_fp",
    (s, dir) => summary(s, Tables(s, dir).documents).orderBy("doc_id"),
    Some(summaryOracleSql())
  )

  /** Corpus-wide shared-passage detection as a registered query: doc pairs
    * sharing >= 40 winnowed fingerprints of document frequency <= 200
    * (each fingerprint is evidence of a common substring of length >=
    * k+w-1 = 11 chars, by the winnowing guarantee proven in WinnowSpec; 40
    * of them is a substantial copied passage, and boilerplate present in
    * >200 docs is excluded — which also bounds the self-join fan-out).
    * Both thresholds do real selection on the fixtures (29 of ~110k
    * candidate pairs at sf0.01; non-vacuous at all three scales: 27/29/10).
    */
  val sharedPassages: Q = Q(
    "q_shared_passages",
    (s, dir) =>
      sharedPassagePairs(s, Tables(s, dir).documents, minShared = 40, dfCap = 200)
        .orderBy("d1", "d2"),
    Some(sharedPassageOracleSql(minShared = 40, dfCap = 200))
  )

  val all: Seq[Q] = Seq(rollingFp, sharedPassages)
}
