package graft.ext

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Q

/** SimHash near-duplicate detection (Charikar 2002, as used in web-scale
  * dedup): one 64-bit signature per document; near-dups have small Hamming
  * distance. Banding the 64 bits into 4x16-bit chunks gives LSH buckets —
  * any pair within Hamming distance 3 shares at least one intact chunk
  * (pigeonhole), so candidate generation is a self-join on chunk values,
  * never all-pairs.
  *
  * The signature itself is genuine per-row imperative bit math, so it runs
  * as a typed Dataset map (documented mapPartitions-class exception, not a
  * hot-path UDF inside a relational plan); everything after the signature
  * is declarative.
  */
object SimHash {

  /** First 8 bytes of md5(token) as a big-endian long. */
  private def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Classic simhash: per bit, sum +1/-1 votes across token hashes. */
  def simhash64(tokens: Iterator[String]): Long = {
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      val h = hash64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b   = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Locale.ROOT so signatures are reproducible across JVM locales — and
    * stay consistent with the oracle's `lower()` (ASCII-stable).
    */
  def tokenize(text: String): Iterator[String] =
    text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).iterator

  /** documents -> (doc_id, simhash) via a typed map. */
  def signatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // spread the narrow scan so the per-doc simhash pass runs at full
    // parallelism (single-task on the one-row-group fixture scan
    // otherwise — guide §2.5)
    graft.core.Width.compute(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .map { case (id, text) => (id, simhash64(tokenize(text))) }
      .toDF("doc_id", "simhash")
  }

  /** Near-dup pairs within Hamming distance `maxDist` (<= 3 guaranteed
    * recall with 4 chunks), generated via chunk-value hash joins.
    *
    * Pairs are at the DISTINCT-TEXT grain — the family-wide exact-dup
    * pre-collapse of [[graft.ext.Dedup.candidatePairs]] applies here too:
    * identical text ⟹ identical simhash ⟹ identical chunks, so an
    * uncollapsed 10k-copy hot group forms a quadratic chunk-bucket clique
    * of hamming-0 pairs (measured 110 s hot vs 1.6 s clean in the 10×
    * scale gate) that carries nothing the exact-dedup tier doesn't already
    * record. One representative (min doc_id) per distinct text is banded;
    * the dup-free path is zero-overhead via the cached one-row probe.
    */
  def nearDupPairs(spark: SparkSession, docs: DataFrame, maxDist: Int): DataFrame = {
    // Collapse AFTER the scan-stage signature pass, not before: joining
    // docs ⋈ repIds first would shuffle full document TEXT (at 100 TB,
    // the corpus over the network — repIds is |distinct texts|-sized, not
    // broadcastable), while signatures-then-join shuffles 16-byte
    // (doc_id, simhash) rows. Member signatures are redundantly computed
    // and dropped, but that CPU rides the one corpus scan every path pays
    // anyway — the same order [[graft.ext.Dedup.candidatePairs]] uses.
    val sig0 = signatures(spark, docs)
    val sig =
      if (Dedup.hasExactDups(docs)) sig0.join(Dedup.repIds(docs), "doc_id")
      else sig0
    // 4 chunks of 16 bits each as join keys
    val chunks = (0 until 4).map { c =>
      (shiftright(col("simhash"), 16 * c).bitwiseAND(lit(0xffffL))).as(s"c$c")
    }
    val keyed = sig.select(col("doc_id") +: col("simhash") +: chunks: _*)
    // referenced 8x below (4 chunk joins x 2 sides): without the persist,
    // each reference re-runs the full corpus scan + per-doc MD5 signature
    // (Catalyst does not dedup common subtrees — ScanAuditSpec measured 8
    // documents passes). The persisted frame is 5 longs/doc — exactly the
    // signature index a production pipeline materializes; the CacheManager
    // dedupes the entry across queries in a session.
    graft.core.Cached.frame(keyed)
    val pairs = (0 until 4)
      .map { c =>
        keyed
          .alias("a")
          .join(
            keyed.alias("b"),
            col(s"a.c$c") === col(s"b.c$c") && col("a.doc_id") < col("b.doc_id")
          )
          .select(
            col("a.doc_id").as("d1"),
            col("b.doc_id").as("d2"),
            col("a.simhash").as("s1"),
            col("b.simhash").as("s2")
          )
      }
      .reduce(_ union _)
      .distinct()
    pairs
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxDist)
      .select("d1", "d2", "hamming")
  }

  // ---- registered queries -------------------------------------------------

  /** DuckDB replication of [[simhash64]]: the 64-bit token hash is
    * reassembled from two 32-bit md5 halves (no 64-bit hex cast in
    * DuckDB), per-bit votes are SUM(+1/-1) aggregates, and the signature
    * prints as two zero-padded 32-bit hex words == Spark's %016x.
    */
  private def sqlVoteHalf(word: String): String =
    (0 until 32)
      .map(b =>
        s"(CASE WHEN SUM(CASE WHEN (($word >> $b) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
      )
      .mkString(" + ")

  private val simhashOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS uhi,
       |    CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS ulo
       |  FROM toks),
       |sig AS (
       |  SELECT doc_id, ${sqlVoteHalf("uhi")} AS hi, ${sqlVoteHalf("ulo")} AS lo
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id, printf('%08x%08x', hi, lo) AS simhash_hex
       |FROM sig ORDER BY doc_id""".stripMargin

  val simhashSig: Q = Q(
    "q_simhash",
    (s, dir) =>
      signatures(s, Tables(s, dir).documents)
        .select(col("doc_id"), format_string("%016x", col("simhash")).as("simhash_hex"))
        .orderBy("doc_id"),
    Some(simhashOracle)
  )

  /** Near-dup oracle: same sig CTE, chunk-equality joins (c0..c3 from the
    * two 32-bit halves), Hamming = bit_count(xor(hi)) + bit_count(xor(lo)).
    */
  private val simhashNearDupOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
       |  FROM (${Dedup.sqlRepDocs})),
       |h AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS uhi,
       |    CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS ulo
       |  FROM toks),
       |sig AS (
       |  SELECT doc_id, ${sqlVoteHalf("uhi")} AS hi, ${sqlVoteHalf("ulo")} AS lo
       |  FROM h GROUP BY doc_id),
       |keyed AS (
       |  SELECT doc_id, hi, lo,
       |    lo & 65535 AS c0, (lo >> 16) & 65535 AS c1,
       |    hi & 65535 AS c2, (hi >> 16) & 65535 AS c3
       |  FROM sig),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.hi AS h1, a.lo AS l1, b.hi AS h2, b.lo AS l2
       |  FROM keyed a JOIN keyed b ON a.c0 = b.c0 AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id, a.hi, a.lo, b.hi, b.lo
       |  FROM keyed a JOIN keyed b ON a.c1 = b.c1 AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id, a.hi, a.lo, b.hi, b.lo
       |  FROM keyed a JOIN keyed b ON a.c2 = b.c2 AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id, a.hi, a.lo, b.hi, b.lo
       |  FROM keyed a JOIN keyed b ON a.c3 = b.c3 AND a.doc_id < b.doc_id)
       |SELECT d1, d2,
       |  bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) AS hamming
       |FROM pairs
       |WHERE bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) <= 3
       |ORDER BY d1, d2""".stripMargin

  val simhashNearDup: Q = Q(
    "q_simhash_neardup",
    (s, dir) => nearDupPairs(s, Tables(s, dir).documents, 3).orderBy("d1", "d2"),
    Some(simhashNearDupOracle)
  )

  val all: Seq[Q] = Seq(simhashSig, simhashNearDup)
}
