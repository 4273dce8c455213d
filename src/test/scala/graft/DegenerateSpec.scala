package graft

import java.nio.file.{Files, Path}

/** Registered queries on degenerate inputs the fixtures never produce. */
class DegenerateSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** sf0.001 with its `embeddings`, `documents` and `events` tables cut to
    * zero rows (schema kept); every other table as it is.
    */
  private lazy val zeroRows: Path = {
    val dir = Files.createTempDirectory("graft-zero-rows")
    val emptied = Set("embeddings.parquet", "documents.parquet", "events.parquet")
    for (f <- new java.io.File(sf).listFiles() if f.getName.endsWith(".parquet")) {
      val to = dir.resolve(f.getName)
      if (emptied(f.getName)) spark.read.parquet(f.getPath).limit(0).write.parquet(to.toString)
      else Files.copy(f.toPath, to)
    }
    dir
  }

  override def afterAll(): Unit =
    try graft.ops.Sinks.deleteQuietly(zeroRows)
    finally super.afterAll()

  test("the IVF family and q_mv_refresh run on 0-row embeddings, documents and events") {
    // q_ann_*, q_semdedup, q_topic_clusters and q_conductance fit zero
    // centroids; q_mv_refresh's base watermark reads a null max(event_id)
    val names = Seq(
      "q_ann_ivf", "q_ann_pq", "q_ann_incremental", "q_semdedup", "q_topic_clusters",
      "q_conductance", "q_mv_refresh")
    for (name <- names) {
      val rows = graft.queries.Registry.queries(name)(spark, zeroRows.toString).collect()
      assert(rows.isEmpty, s"$name returned ${rows.length} rows from empty inputs")
    }
  }
}
