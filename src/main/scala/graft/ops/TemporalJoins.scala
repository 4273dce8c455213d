package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively, built as one-shuffle
  * library transforms (no custom planner rules needed — see SURVEY.md §4).
  *
  * Range (interval) join: left rows with `ts` joined to right rows with
  * `[start, end)` intervals. A naive theta-join plans BroadcastNestedLoop/
  * cartesian; here both sides are decomposed onto fixed-width time buckets
  * (intervals explode to every bucket they overlap), the join is a plain
  * equi hash join on (key, bucket), and the exact interval predicate
  * filters afterwards. Bucket width trades explode factor vs join
  * selectivity; pick ~ the median interval length.
  */
object TemporalJoins {

  /** Bucketized range join: `left.ts` in `[right.start, right.end)`,
    * equi-key optional (pass null key columns via `keys = Nil` for pure
    * interval joins — still bucket-bounded, never cartesian).
    */
  def rangeJoin(
      left: DataFrame,
      right: DataFrame,
      ts: String,
      start: String,
      end: String,
      bucketWidth: Long,
      keys: Seq[String] = Nil
  ): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    // `div` (IntegralDivide) not `/`: Spark's long '/' is DOUBLE division,
    // which above 2^53 (epoch-nanos) rounds and can silently drop matching
    // pairs. Truncation-toward-zero is consistent between both sides, so
    // negative timestamps bucket correctly too (trunc is monotone).
    def bucketOf(c: org.apache.spark.sql.Column) =
      call_function("div", c.cast("long"), lit(bucketWidth))
    // Rename EVERY right-side column before the join: both sides often
    // descend from the same scan (e.g. views/clicks split off one events
    // table), and a `lb(k) === rb(k)` over shared lineage leans on Spark's
    // dataset-id disambiguation — the exact pattern that logs "trivially
    // true equals predicate" warnings and can silently become a cross join
    // on a planner change. With disjoint names the condition is unambiguous
    // by construction; original names are restored on the way out.
    val rRenamed =
      right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"__r_$c"))
    val lb = left.withColumn("__bucket", bucketOf(col(ts)))
    val rb = rRenamed.withColumn(
      "__r_bucket",
      explode(
        sequence(
          bucketOf(col(s"__r_$start")),
          // end is exclusive, but an interval ending exactly on a bucket
          // edge still overlaps that bucket's start — ceil via (end-1)
          bucketOf(col(s"__r_$end").cast("long") - 1)
        )
      )
    )
    val joinCond = (keys.map(k => col(k) === col(s"__r_$k")) :+
      (col("__bucket") === col("__r_bucket"))).reduce(_ && _) &&
      col(ts) >= col(s"__r_$start") && col(ts) < col(s"__r_$end")
    val joined = lb
      .join(rb, joinCond)
      .drop("__bucket", "__r_bucket")
    // the equi-keys are equal by the join condition — keep the left copy
    val deduped = keys.foldLeft(joined)((d, k) => d.drop(s"__r_$k"))
    right.columns
      .filterNot(keys.contains)
      .foldLeft(deduped)((d, c) => d.withColumnRenamed(s"__r_$c", c))
  }

  /** Interval × interval overlap join (half-open [start, end) on BOTH
    * sides) — the session-vs-maintenance-window / campaign-vs-outage shape
    * that `rangeJoin`'s point-in-interval contract can't express. Same
    * bucketization discipline: both sides explode onto their covered
    * `bucketWidth` buckets and hash-join on (keys, bucket), so the planner
    * never sees a non-equi nested loop; the exact overlap predicate
    * (`l.start < r.end && r.start < l.end`) filters after. A pair whose
    * overlap spans several buckets would match once per shared bucket —
    * instead of a dedup pass, the join keeps ONLY the canonical bucket
    * `greatest(bucket(l.start), bucket(r.start))` (the first bucket where
    * both intervals are present — always a shared bucket of any
    * overlapping pair), which makes every overlapping pair match exactly
    * once by construction. Bucket arithmetic is integral `div` for the
    * same >2⁵³ reasons as [[rangeJoin]]; trunc-toward-zero is weakly
    * monotone for positive widths, so endpoint-bucket sequences cover
    * every touched bucket for negative epochs too.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      lStart: String,
      lEnd: String,
      rStart: String,
      rEnd: String,
      bucketWidth: Long,
      keys: Seq[String] = Nil
  ): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def bucketOf(c: org.apache.spark.sql.Column) =
      call_function("div", c.cast("long"), lit(bucketWidth))
    // an empty interval (start >= end) overlaps nothing BY DEFINITION, and
    // its endpoint-bucket sequence would otherwise run BACKWARDS (Spark's
    // sequence defaults to step -1 when start > stop) — drop them up front
    val rRenamed = right
      .filter(col(rStart) < col(rEnd))
      .columns
      .foldLeft(right.filter(col(rStart) < col(rEnd)))((d, c) =>
        d.withColumnRenamed(c, s"__r_$c")
      )
    val lb = left
      .filter(col(lStart) < col(lEnd))
      .withColumn(
        "__bucket",
        explode(sequence(bucketOf(col(lStart)), bucketOf(col(lEnd).cast("long") - 1)))
      )
    val rb = rRenamed.withColumn(
      "__r_bucket",
      explode(
        sequence(bucketOf(col(s"__r_$rStart")), bucketOf(col(s"__r_$rEnd").cast("long") - 1))
      )
    )
    val joinCond = (keys.map(k => col(k) === col(s"__r_$k")) :+
      (col("__bucket") === col("__r_bucket"))).reduce(_ && _) &&
      col("__bucket") === greatest(bucketOf(col(lStart)), bucketOf(col(s"__r_$rStart"))) &&
      col(lStart) < col(s"__r_$rEnd") && col(s"__r_$rStart") < col(lEnd)
    val joined = lb
      .join(rb, joinCond)
      .drop("__bucket", "__r_bucket")
    val deduped = keys.foldLeft(joined)((d, k) => d.drop(s"__r_$k"))
    right.columns
      .filterNot(keys.contains)
      .foldLeft(deduped)((d, c) => d.withColumnRenamed(s"__r_$c", c))
  }
}
