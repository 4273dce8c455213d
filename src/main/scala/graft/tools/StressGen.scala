package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Pathological-corpus generator for the scale-stress harness: writes a
  * `mult`× (default 10×) blow-up of a fixture dir in two variants of the
  * SAME cardinality, so a timing ratio between them isolates the effect of
  * the pathology rather than of extra rows:
  *
  *   - `clean`: every replica is genuinely new data — document texts are
  *     seeded word-shuffles (destroys shingle/segment/fingerprint overlap
  *     between replicas), embeddings are seeded-perturbed, user and id
  *     spaces are striped apart.
  *   - `hot`: the clean corpus with three injected pathologies a 100 TB
  *     pipeline WILL meet:
  *       1. one document duplicated across 20% of the corpus (ids ≡ 0 mod
  *          [[HotDocMod]] carry [[hotText]]) — a hot LSH band, a hot exact
  *          fingerprint, and corpus-wide boilerplate segments at once;
  *       2. one user owning 30% of all events ([[HotUser]]) — a hot window
  *          partition key for sessionization;
  *       3. one supplier key on 30% of lineitem rows ([[HotSupp]]) — a
  *          skewed join key for the salted/adaptive joins.
  *
  * Everything is deterministic (seeded hashes, no randomness), so specs can
  * assert exact group memberships. Fixture tables not involved in the blow-up
  * (region/nation/customer/part/orders/supplier) are copied as-is so any
  * registered query can still run against a stress dir.
  *
  * Run standalone: `runMain graft.tools.StressGen <baseDir> <outRoot> [mult]`
  * writes `<outRoot>/clean` and `<outRoot>/hot`.
  */
object StressGen {
  /** Replica id stride — multiple of every modulus used below so hot-row
    * selection is replica-invariant.
    */
  val IdStride = 10000000L

  /** doc_ids ≡ 0 (mod 5) carry the hot text in the hot variant: 20% of docs. */
  val HotDocMod = 5L

  /** Synthetic hot user: owns pmod(event_id, 10) < 3 rows — 30% of events. */
  val HotUser = 77000000L

  /** Existing supplier key (fixtures use 0..99) that receives 30% of
    * lineitem rows in the hot variant.
    */
  val HotSupp = 1L

  /** The duplicated text: base doc 0's text doubled — long enough that its
    * winnowed fingerprint count comfortably exceeds the shared-passage
    * minShared threshold, and distinct from every original text so the
    * exact-dup group is EXACTLY the injected rows.
    */
  def hotText(spark: SparkSession, baseDir: String): String = {
    val t = Tables(spark, baseDir).documents
      .filter(col("doc_id") === 0L)
      .select(col("text"))
      .head()
      .getString(0)
    t + " " + t
  }

  /** Seeded word shuffle: sort words by xxhash64(word, position, seed).
    * Replicas of one document share a word MULTISET but almost no word
    * 3-gram shingles, 8-word segments, or 11-char winnow windows — so the
    * clean corpus carries no accidental near-dup structure.
    */
  private def shuffledText(seed: Int) =
    expr(
      s"array_join(transform(array_sort(transform(split(text, ' '), " +
        s"(w, p) -> named_struct('k', xxhash64(w, p, $seed), 'w', w))), s -> s.w), ' ')"
    )

  def documents(spark: SparkSession, baseDir: String, mult: Int, hot: Boolean): DataFrame = {
    val base = Tables(spark, baseDir).documents
    val replicas = (0 until mult)
      .map { i =>
        base.select(
          (col("doc_id") + lit(i * IdStride)).as("doc_id"),
          (if (i == 0) col("text") else shuffledText(i)).as("text"),
          col("lang"),
          col("source")
        )
      }
      .reduce(_ unionByName _)
    val texted =
      if (hot)
        replicas.withColumn(
          "text",
          when(pmod(col("doc_id"), lit(HotDocMod)) === 0, lit(hotText(spark, baseDir)))
            .otherwise(col("text"))
        )
      else replicas
    texted
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** `ts` rides through untouched in whatever physical encoding the base
    * corpus uses (int64 nanos or native timestamp — Tables.nanosToTimestamp
    * adapts on read), so replicas keep the base corpus's exact
    * session/window structure per user clone.
    */
  def events(spark: SparkSession, baseDir: String, mult: Int, hot: Boolean): DataFrame = {
    val base = Tables(spark, baseDir).t("events")
    val replicas = (0 until mult)
      .map { i =>
        base.select(
          (col("event_id") + lit(i * IdStride)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(i * IdStride)).as("user_id"),
          col("event_type"),
          col("value"),
          col("props")
        )
      }
      .reduce(_ unionByName _)
    if (hot)
      replicas.withColumn(
        "user_id",
        when(pmod(col("event_id"), lit(10L)) < 3, lit(HotUser)).otherwise(col("user_id"))
      )
    else replicas
  }

  def lineitem(spark: SparkSession, baseDir: String, mult: Int, hot: Boolean): DataFrame = {
    val base = Tables(spark, baseDir).lineitem
    val replicas = (0 until mult)
      .map(i => base.withColumn("l_orderkey", col("l_orderkey") + lit(i * IdStride)))
      .reduce(_ unionByName _)
    if (hot)
      replicas.withColumn(
        "l_suppkey",
        when(pmod(col("l_orderkey") * 4 + col("l_linenumber"), lit(10L)) < 3, lit(HotSupp))
          .otherwise(col("l_suppkey"))
      )
    else replicas
  }

  /** Embeddings are scale-stressed but carry no injected pathology (the
    * LSH-bucket hot-key story is the documents table's); replicas after the
    * first are seeded-perturbed so bucket occupancy grows ~uniformly.
    */
  def embeddings(spark: SparkSession, baseDir: String, mult: Int): DataFrame = {
    val base = Tables(spark, baseDir).embeddings
    (0 until mult)
      .map { i =>
        val emb =
          if (i == 0) col("embedding")
          else
            expr(
              s"transform(embedding, (x, j) -> cast(x + (pmod(xxhash64(vec_id, j, $i), 200) - 100) / 1000.0 as float))"
            )
        base.select(
          (col("vec_id") + lit(i * IdStride)).as("vec_id"),
          emb.as("embedding"),
          col("label")
        )
      }
      .reduce(_ unionByName _)
  }

  /** A boilerplate-prefix corpus: every document is the SAME 64-word
    * header (8 exactly-aligned 8-word segments) followed by a unique
    * seeded word-shuffle of its base text — the shared-template shape of
    * crawled HTML. This is the LSH pathology band buckets cannot defend
    * alone: the prefix lifts EVERY pairwise Jaccard toward ~0.4, so ~half
    * of all O(n²) pairs become band candidates. The pipeline's defense is
    * ORDERING — sub-document exact dedup (q_segment_dedup) strips the
    * prefix before MinHash runs, which StressSpec proves quantitatively.
    */
  def boilerplateCorpus(spark: SparkSession, baseDir: String, outDir: String, n: Int): Unit = {
    val base   = Tables(spark, baseDir).documents.limit(n)
    val boiler = {
      // 64 mostly-DISTINCT words (concatenating several docs, not cycling
      // one — a cycled prefix repeats its 3-gram shingles and weakens the
      // very Jaccard lift the pathology is about), so the prefix tiles 8
      // full 8-word segments and contributes ~62 shared shingles per doc
      val words = Tables(spark, baseDir).documents
        .filter(col("doc_id") < 4)
        .orderBy("doc_id")
        .collect()
        .flatMap(_.getAs[String]("text").split(" "))
      require(words.length >= 64, "need 64 boilerplate words")
      words.take(64).mkString(" ")
    }
    base
      .select(col("doc_id"), shuffledText(7).as("unique_part"), col("lang"), col("source"))
      .select(
        col("doc_id"),
        concat_ws(" ", lit(boiler), col("unique_part")).as("text"),
        col("lang"),
        col("source")
      )
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(4)
      .write
      .mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
  }

  private val copiedAsIs = Seq("region", "nation", "customer", "supplier", "part", "orders")

  /** `partsScale` multiplies the output file counts — the sf0.01-tuned
    * defaults underparallelize a larger base (e.g. the sf0.1×10 scale
    * gate passes 4 so scans fan out over 32 threads).
    */
  def write(
      spark: SparkSession,
      baseDir: String,
      outDir: String,
      mult: Int,
      hot: Boolean,
      partsScale: Int = 1): Unit = {
    def out(t: String, df: DataFrame, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    out("documents", documents(spark, baseDir, mult, hot), 4 * partsScale)
    out("events", events(spark, baseDir, mult, hot), 4 * partsScale)
    out("lineitem", lineitem(spark, baseDir, mult, hot), 8 * partsScale)
    out("embeddings", embeddings(spark, baseDir, mult), 4 * partsScale)
    copiedAsIs.foreach(t => out(t, Tables(spark, baseDir).t(t), 1))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StressGen <baseDir> <outRoot> [mult]")
    val mult  = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.SparkEnv.session("graft-stressgen")
    write(spark, args(0), s"${args(1)}/clean", mult, hot = false)
    write(spark, args(0), s"${args(1)}/hot", mult, hot = true)
    spark.stop()
  }
}
