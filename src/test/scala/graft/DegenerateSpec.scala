package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

/** Registered queries on degenerate inputs the fixtures never produce. */
class DegenerateSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val made = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** sf0.001 with each table that `cut` names reduced to its first `rows`
    * rows (schema kept) and then passed through `edit`; every other table
    * as it is.
    */
  private def fixture(
      prefix: String,
      rows: Int,
      cut: String => Boolean,
      edit: DataFrame => DataFrame = identity): Path = {
    val dir = Files.createTempDirectory(prefix)
    made += dir
    for (f <- new java.io.File(sf).listFiles() if f.getName.endsWith(".parquet")) {
      val to = dir.resolve(f.getName)
      if (cut(f.getName)) edit(spark.read.parquet(f.getPath).limit(rows)).write.parquet(to.toString)
      else Files.copy(f.toPath, to)
    }
    dir
  }

  private lazy val zeroRows =
    fixture("graft-zero-rows", 0, Set("embeddings.parquet", "documents.parquet", "events.parquet"))

  /** Every table cut to one row. */
  private lazy val oneRow = fixture("graft-one-row", 1, _ => true)

  /** Three documents, in doc_id order "ab ab", "ab" and "ab x": the one
    * merge `a b` leaves no pair, long before the trainer's K merges.
    */
  private lazy val bpeShort = fixture(
    "graft-bpe-short",
    3,
    Set("documents.parquet"),
    _.withColumn("text", expr("element_at(array('ab ab', 'ab', 'ab x'), row_number() over (order by doc_id))")))

  private def run(name: String, dir: Path) =
    graft.queries.Registry.queries(name)(spark, dir.toString).collect()

  override def afterAll(): Unit =
    try made.foreach(graft.ops.Sinks.deleteQuietly)
    finally super.afterAll()

  test("the IVF family and q_mv_refresh run on 0-row embeddings, documents and events") {
    // q_ann_*, q_semdedup, q_topic_clusters and q_conductance fit zero
    // centroids; q_mv_refresh's base watermark reads a null max(event_id);
    // the BPE trio's trainer finds no pair to merge
    val names = Seq(
      "q_ann_ivf", "q_ann_pq", "q_ann_incremental", "q_semdedup", "q_topic_clusters",
      "q_conductance", "q_mv_refresh", "q_bpe_merges", "q_bpe_encode", "q_token_fertility")
    for (name <- names) {
      val rows = run(name, zeroRows)
      assert(rows.isEmpty, s"$name returned ${rows.length} rows from empty inputs")
    }
  }

  test("q_dataset_card answers a 0-row corpus with NULL ratios, as DuckDB's integer division by 0") {
    val rows = run("q_dataset_card", zeroRows)
    assert(rows.length == 1)
    val card = rows(0)
    assert(card.getAs[Long]("n_docs") == 0L)
    assert(card.isNullAt(card.fieldIndex("dup_ppm")) && card.isNullAt(card.fieldIndex("mean_tokens")))
  }

  test("q_corr, q_ab_test and q_ks_test answer 1-row tables with NULL where a divisor is 0") {
    def only(name: String) = {
      val rows = run(name, oneRow)
      assert(rows.length == 1, s"$name returned ${rows.length} rows")
      rows(0)
    }
    val corr = only("q_corr")
    assert(corr.getAs[Long]("n") == 1L && corr.isNullAt(corr.fieldIndex("covar_qty_price")))
    // the one event's user is in exactly one cohort
    val ab = only("q_ab_test")
    assert(ab.isNullAt(ab.fieldIndex("mean_a")) != ab.isNullAt(ab.fieldIndex("mean_b")))
    assert(ab.isNullAt(ab.fieldIndex("welch_z")))
    val ks = only("q_ks_test")
    assert(ks.isNullAt(ks.fieldIndex("ks_ppm")))
  }

  test("q_bpe_encode keeps the merged vocabulary when the corpus runs out of pairs") {
    // "ab" → 1 symbol after the one merge, "x" stays 1 character
    val rows = run("q_bpe_encode", bpeShort)
    assert(rows.map(_.getAs[Long]("n_bpe_tokens")).toSeq == Seq(2L, 1L, 2L))
  }
}
