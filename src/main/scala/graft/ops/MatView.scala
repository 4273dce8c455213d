package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core.Tables
import graft.queries.{Num, Q}

/** Incremental materialized-view maintenance — the canonical "never rescan
  * the fact table" OLAP pattern: a daily-rollup aggregate over `events` is
  * materialized ONCE as an offline artifact together with its ingestion
  * high-watermark, and each refresh merges the stored rollup with an
  * aggregate over ONLY the rows past the watermark (a pushed-down
  * `event_id >= wm` range scan — at 100 TB, the id/date-partitioned tail of
  * the fact table, a vanishing fraction of the corpus).
  *
  * Why this shape survives a 100× scale-up:
  *   - The stored MV is (event_type × day)-grained — metadata-sized at any
  *     corpus scale, and the merge re-aggregates base ∪ delta partials on
  *     that tiny grain, never raw rows.
  *   - Every stored measure is MERGEABLE: `n_events` merges by SUM, the
  *     exact-decimal `sum_value` partial merges by SUM, `min_day_id`/
  *     `max_day_id` merge by MIN/MAX. Non-mergeable measures (exact count
  *     distinct, exact quantiles) deliberately do not appear — production
  *     MVs carry mergeable sketches for those (the HLL/KLL family of
  *     q_approx_distinct / q_approx_quantiles).
  *   - The refreshed view is OUTPUT-IDENTICAL to a full recompute, which is
  *     exactly what the DuckDB oracle does (one plain GROUP BY over all
  *     events): the correctness gate certifies incremental ≡ full, the MV
  *     property that matters.
  *
  * The artifact follows the session-scoped offline-build discipline of
  * [[graft.ops.ZOrder.layoutFor]] / [[graft.ext.Ivf.indexFor]] (Goetz
  * memoizer, pid-scoped tmpdir, shutdown-hook sweep); production would keep
  * it as a real table refreshed by this very merge job, with the watermark
  * stored alongside — the snapshot's high-watermark column is how every
  * real incremental pipeline knows where its delta starts.
  *
  * Reference scope: the reference engine recomputes every submitted job
  * from scratch (`/root/reference/mapreduce/manager/__main__.py:402-447`
  * runs each job's full map/group/reduce pipeline); incremental
  * maintenance of a standing aggregate is north-star scope for a Spark
  * engine whose fact tables grow by appends.
  */
object MatView {

  /** A materialized base rollup: parquet path + the ingestion high-watermark
    * it was built through (rows with `event_id >= watermark` are the delta).
    */
  final case class Base(path: String, watermark: Long)

  /** Watermark fraction: the base snapshot covers event_id ∈ [0, 0.9·(max+1))
    * — integer arithmetic so the cutoff replays exactly anywhere.
    */
  private val Num90 = 9L

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.FutureTask[Base]]()

  /** The daily-rollup aggregate both the base build and the delta pass run —
    * ONE definition so the stored partials and the refresh partials can
    * never drift. `sum_value` stays an exact DECIMAL partial (mergeable);
    * only [[mvRefresh]]'s final merge casts to double.
    */
  private def rollup(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(Num.Money)).as("sum_value")
      )

  /** Build (or reuse) the base MV artifact for a fixture dir. The build
    * scans events once: the max-id probe and the rollup write — the same
    * one-pass snapshot job a production pipeline schedules offline.
    */
  def baseFor(spark: SparkSession, dir: String): Base =
    graft.core.SessionArtifact.memo(built, dir) {
      val path   = graft.core.SessionArtifact.pathFor("graft-mv", dir)
      val events = Tables(spark, dir).events
      // an empty table has no max: -1 puts the watermark at 0, so the
      // base is empty and the refresh's delta is the whole table
      val maxId  = events.agg(coalesce(max("event_id"), lit(-1L))).head().getLong(0)
      val wm     = (maxId + 1L) * Num90 / 10L
      rollup(events.filter(col("event_id") < wm))
        .write
        .mode("overwrite")
        .parquet(path)
      Base(path, wm)
    }

  /** Refresh = stored base rollup ∪ delta rollup, re-aggregated on the MV
    * grain. The events scan carries the pushed `event_id >= wm` predicate
    * (PlanSpec pins it), so the fact-table cost of a refresh is the delta
    * tail, not the corpus.
    */
  val mvRefresh: Q = Q(
    "q_mv_refresh",
    (s, dir) => {
      val b     = baseFor(s, dir)
      val base  = Tables.read(s, b.path)
      val delta = rollup(Tables(s, dir).events.filter(col("event_id") >= b.watermark))
      base
        .unionByName(delta)
        .groupBy("event_type", "day")
        .agg(
          sum("n_events").cast("long").as("n_events"),
          sum("sum_value").cast(DoubleType).as("sum_value")
        )
        .orderBy("event_type", "day")
    },
    Some(
      // full recompute: the point of the oracle is certifying that the
      // incremental merge equals the from-scratch aggregate
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )
  )

  val all: Seq[Q] = Seq(mvRefresh)
}
