package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Z-order clustered LAYOUT — the write-side half of the Morton-key story
  * `q_zorder` computes: range-partition + sort the table by the interleaved
  * (l_partkey, l_suppkey) z-address before writing, so every parquet file
  * (one row group at fixture scale) covers a contiguous z-range — a small
  * RECTANGLE in (part, supp) space — and the reader's min/max row-group
  * statistics prune 2-D range probes on EITHER key. `q_zorder_probe` reads
  * this layout; PlanSpec measures the actual scan-row reduction against an
  * unclustered control. At 100 TB this is the standard lakehouse
  * data-skipping layout: the z-sort costs one range exchange at write time
  * and replaces two single-column sort orders.
  *
  * Memoized per fixture dir for the session — the production analog is an
  * offline OPTIMIZE/compaction job whose output outlives any query; rebuilt
  * per session and dir, not when the fixture is rewritten.
  */
object ZOrder {

  /** Output file count: each file is one z-range → one bounding rectangle. */
  val Files = 32

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.FutureTask[String]]()

  def layoutFor(spark: SparkSession, dir: String): String =
    graft.core.SessionArtifact.memo(built, dir) {
      val path = graft.core.SessionArtifact.pathFor("graft-zorder", dir)
      graft.core
        .Tables(spark, dir)
        .lineitem
        .withColumn("zaddr", graft.queries.Relational.zaddrOf(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(Files, col("zaddr"))
        .sortWithinPartitions("zaddr")
        .drop("zaddr")
        .write
        .mode("overwrite")
        .parquet(path)
      path
    }
}
