package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** The one stage-width policy: every stage whose width the code sets
  * (rather than leaving to the session's `shuffle.partitions`) gets it
  * here. MapReduce fixes M and R once per job (Dean & Ghemawat §3.1);
  * the session's default parallelism is this engine's M, and callers name
  * only their keys.
  *
  * Both verbs return a user-NUMBERED repartition. AQE never coalesces
  * one, and that is the point: the frames widened here are BYTE-small
  * but CPU-dense (candidate pairs before an array-intersect or banded
  * Levenshtein verify, a 32× md5 fan-out, per-row codec work), so AQE's
  * size-based coalescing would pack them onto a handful of tasks and run
  * the expensive per-row work nearly serial (r17: q_edit_neardup went 4×
  * slower when a family cache narrowed under AQE).
  *
  * Nothing here probes `df.rdd` or runs a Spark job: on a persisted,
  * not-yet-built frame whose plan holds an exchange, `df.rdd` under AQE
  * materializes the shuffle stages at query construction.
  */
object Width {

  /** Target input bytes per [[grain]] partition — the guide's 100 MB–1 GB
    * shuffle partition rule, taken at the low end because plan-stat
    * estimates run BELOW in-memory row size (parquet file bytes, not
    * unpacked rows).
    */
  private val BytesPerPartition: Long = 64L << 20

  /** Spread `df` over the session's default parallelism before CPU-dense
    * per-row work, hash-partitioned by `keys` when given (so a following
    * join or window on the same keys reuses the exchange), round-robin
    * otherwise. The one exception is keyless: a plain file scan that
    * already plans at least that many splits (a healthy multi-row-group
    * layout, any 100 TB table) is returned unchanged, with no exchange.
    * The fixtures are single-row-group parquet, so their scans plan one
    * to three splits and always take the repartition.
    */
  def compute(df: DataFrame, keys: Column*): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (keys.isEmpty && scanSplits(df).exists(_ >= par)) df else numbered(df, par, keys)
  }

  /** Size-derived width for a grain that iterated stages re-read: a
    * per-superstep join over a cached grain re-executes its exchanges K
    * times, so the grain's partition count multiplies into every round's
    * task count. ceil(optimized-plan bytes / [[BytesPerPartition]]),
    * floored at 1 and capped at 4× default parallelism: 1 partition at
    * bench scale, thousands at 100 TB. AQE cannot give this width — it
    * only coalesces below `shuffle.partitions`, never above.
    */
  def grain(df: DataFrame, keys: Column*): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap   = BigInt(df.sparkSession.sparkContext.defaultParallelism.toLong * 4L)
    val n = ((bytes + BigInt(BytesPerPartition - 1)) / BigInt(BytesPerPartition))
      .max(1)
      .min(cap)
      .toInt
    numbered(df, n, keys)
  }

  /** Keyless goes through `repartition(n)` (a logical Repartition); the
    * keyed overload with no keys would plan a different logical node for
    * the same round-robin exchange.
    */
  private def numbered(df: DataFrame, n: Int, keys: Seq[Column]): DataFrame =
    if (keys.isEmpty) df.repartition(n) else df.repartition(n, keys: _*)

  /** Split count of a plain file scan — a single file-source leaf (so no
    * cached relation) under narrow operators only (no exchange, nothing
    * that needs one) — read from the scan's planned input partitions
    * (file listing only; no job). None for any other plan.
    */
  private def scanSplits(df: DataFrame): Option[Int] = {
    val plan = df.queryExecution.sparkPlan
    val narrow = !plan.exists(p =>
      p.isInstanceOf[Exchange] || p.requiredChildDistribution.exists(_ != UnspecifiedDistribution))
    plan.collectLeaves() match {
      case Seq(scan: FileSourceScanExec) if narrow => Some(scan.inputRDD.getNumPartitions)
      case _                                       => None
    }
  }
}
