package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Cached, Tables}
import graft.ops.PrefixSum

/** Distribution / hypothesis-test analytics: the statistical audit layer a
  * training-data pipeline runs over its corpora and event streams —
  * global ordered accumulation, two-sample tests, independence tests,
  * seasonality profiles, and concentration (inequality) measures.
  *
  * Cross-engine determinism follows the house rules ([[Num]]): counts and
  * ppm shares are integer math, money sums go through exact decimals, and
  * every double is produced by ONE identical expression tree in both
  * engines (no order-dependent double accumulation anywhere).
  *
  * Scale shapes: every query here aggregates to a bounded grain (buckets,
  * cells, sources, hours) before any window/join; the one full-data
  * ordered pass (`q_global_cumsum`) runs on the hierarchical
  * [[graft.ops.PrefixSum]] rather than a keyless window.
  */
object StatsQueries {
  import EventQueries.dayOf
  import Num._

  /** Global (table-wide, not per-key) running revenue over the full order
    * history — the classic keyless `SUM OVER (ORDER BY)` restated as a
    * hierarchical distributed prefix sum ([[PrefixSum.runningTotals]]):
    * in-day running sums (one keyed exchange), day totals, chunked day
    * prefix, triangular chunk prefix, offsets broadcast back. The oracle is
    * the plain single-partition window — DuckDB doesn't need to scale;
    * hash-equality proves the hierarchy computes exactly the global scan
    * semantics. Day buckets are order-aligned with (o_orderdate,
    * o_orderkey) because the bucket IS the date's day; within a day the
    * unique o_orderkey completes the total order.
    */
  val globalCumsum: Q = Q(
    "q_global_cumsum",
    (s, dir) => {
      val narrow = Tables(s, dir).orders
        .select(
          col("o_orderkey"),
          col("o_orderdate"),
          col("o_totalprice").cast(Money).as("p")
        )
      PrefixSum
        .runningTotals(
          narrow,
          bucket = dayOf(col("o_orderdate")),
          order = Seq(col("o_orderdate"), col("o_orderkey")),
          values = Seq((col("p"), "run"))
        )
        .select(
          col("o_orderkey"),
          col("o_orderdate"),
          col("p").cast("double").as("order_price"),
          col("run").cast("double").as("running_rev")
        )
        .orderBy("o_orderdate", "o_orderkey")
    },
    Some(
      """SELECT o_orderkey, o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS order_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |         OVER (ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING)
        |       AS DOUBLE) AS running_rev
        |FROM orders
        |ORDER BY o_orderdate, o_orderkey""".stripMargin
    )
  )

  /** Two-sample Kolmogorov–Smirnov distance between the event-value
    * distributions of the two user cohorts (user_id parity) — the drift /
    * A-A test over a metric distribution. Values collapse to their exact
    * cent grid (money-scale by fixture contract), per-cent cohort counts
    * accumulate through the SAME hierarchical prefix sum as
    * `q_global_cumsum` (cent-bucket chunks of 4096), and the KS statistic
    * is pure integer math: D = max |cumA·nB − cumB·nA| over the merged
    * support, reported with its ppm normalization and the LOWEST value
    * attaining it (deterministic argmax tie-break). Cohort totals are the
    * prefix's own final values (max of a monotone running count), so the
    * source is scanned exactly once.
    */
  val ksTest: Q = Q(
    "q_ks_test",
    (s, dir) => {
      val cents = (col("value").cast(Money) * 100).cast("long")
      val g = Tables(s, dir).events
        .filter(col("value").isNotNull)
        .select(cents.as("cents"), (col("user_id") % 2).as("side"))
        .groupBy("cents")
        .agg(
          sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb")
        )
      val cum = PrefixSum.runningTotals(
        g,
        bucket = call_function("div", col("cents"), lit(4096L)),
        order = Seq(col("cents")),
        values = Seq((col("ca"), "cum_a"), (col("cb"), "cum_b"))
      )
      val tot = cum.agg(max("cum_a").as("n_a"), max("cum_b").as("n_b"))
      cum
        .crossJoin(broadcast(tot))
        .withColumn("d_num", abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
        .orderBy(col("d_num").desc, col("cents"))
        .limit(1)
        .select(
          col("n_a"),
          col("n_b"),
          col("d_num"),
          // NULL when a cohort is empty, as DuckDB's `// 0`
          expr("d_num * 1000000L div nullif(n_a * n_b, 0)").as("ks_ppm"),
          col("cents").as("at_cents")
        )
    },
    Some(
      """WITH e AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |         user_id % 2 AS side
        |  FROM events WHERE value IS NOT NULL),
        |g AS (
        |  SELECT cents,
        |    CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM e GROUP BY 1),
        |c AS (
        |  SELECT cents,
        |    CAST(SUM(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
        |    CAST(SUM(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
        |  FROM g),
        |t AS (SELECT CAST(MAX(cum_a) AS BIGINT) AS n_a, CAST(MAX(cum_b) AS BIGINT) AS n_b FROM c)
        |SELECT n_a, n_b,
        |  abs(cum_a * n_b - cum_b * n_a) AS d_num,
        |  (abs(cum_a * n_b - cum_b * n_a) * 1000000) // (n_a * n_b) AS ks_ppm,
        |  cents AS at_cents
        |FROM c CROSS JOIN t
        |ORDER BY d_num DESC, cents
        |LIMIT 1""".stripMargin
    )
  )

  /** χ² independence audit of the source × language contingency table —
    * "does language mix depend on provenance?", the stratification check
    * behind any per-source language quota. Emits one row per observed
    * cell: observed count, expected count under independence, and the χ²
    * contribution. All inputs to the double expressions are exact int64
    * (< 2⁵³ up to ~10⁸ docs), each double is one fixed IEEE tree mirrored
    * in the oracle, and the global χ² is the (consumer-side) sum of a
    * bounded cell set — per-cell output keeps the hash contract airtight
    * with zero order-dependent double accumulation. The cell table is
    * session-cached: row totals, column totals, and the grand total all
    * reaggregate the |sources|×|langs| grain, never the corpus.
    */
  val chiSquare: Q = Q(
    "q_chi_square",
    (s, dir) => {
      val cells = Cached.frame(
        Tables(s, dir).documents
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("o"))
      )
      val rt = cells.groupBy("source").agg(sum("o").as("rt"))
      val ct = cells.groupBy("lang").agg(sum("o").as("ct"))
      val nn = cells.agg(sum("o").as("n"))
      cells
        .join(broadcast(rt), "source")
        .join(broadcast(ct), "lang")
        .crossJoin(broadcast(nn))
        .withColumn("e", (col("rt") * col("ct")).cast("double") / col("n"))
        .withColumn("diff", col("o") * col("n") - col("rt") * col("ct"))
        .withColumn(
          "contrib",
          (col("diff").cast("double") * col("diff").cast("double")) /
            (col("n").cast("double") * col("rt").cast("double") * col("ct").cast("double"))
        )
        .select("source", "lang", "o", "e", "contrib")
        .orderBy("source", "lang")
    },
    Some(
      """WITH cells AS (SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
        |SELECT source, lang, o,
        |  CAST(rt * ct AS DOUBLE) / n AS e,
        |  (CAST(o * n - rt * ct AS DOUBLE) * CAST(o * n - rt * ct AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) AS contrib
        |FROM cells JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN n
        |ORDER BY source, lang""".stripMargin
    )
  )

  /** Welch two-sample z statistic per event type between the user-parity
    * cohorts — the experiment-readout primitive (and, run A-vs-A as here,
    * a metric-stability audit). One partial+final aggregate carries all
    * six moments (counts, exact-decimal sums, scale-2 second moments per
    * the [[Num.m2]] contract); means, variances and the z statistic are
    * then one shared double tree. The q_corr/pearson-style degeneracy
    * guard pins empty/constant cohorts to NULL in both engines (Spark's
    * sqrt(neg)=NaN vs DuckDB's error).
    */
  val abTest: Q = Q(
    "q_ab_test",
    (s, dir) => {
      val v    = col("value").cast(Money)
      val vv   = v * v
      val zero = lit(0).cast(Money)
      val a    = col("user_id") % 2 === 0
      val agg = Tables(s, dir).events
        .filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(
          sum(when(a, 1L).otherwise(0L)).as("n_a"),
          sum(when(!a, 1L).otherwise(0L)).as("n_b"),
          sum(when(a, v).otherwise(zero)).cast("double").as("sv_a"),
          sum(when(!a, v).otherwise(zero)).cast("double").as("sv_b"),
          // Money² is DECIMAL(25,4) in Spark's multiply widening; the
          // explicit zero keeps the CASE's ELSE 0 of the oracle exact
          m2(when(a, vv).otherwise(lit(0).cast(org.apache.spark.sql.types.DecimalType(25, 4))))
            .as("svv_a"),
          m2(when(!a, vv).otherwise(lit(0).cast(org.apache.spark.sql.types.DecimalType(25, 4))))
            .as("svv_b")
        )
      // an empty cohort divides by NULL, not 0: NULL moments, as DuckDB's `/ 0`
      val na = nullif(col("n_a"), lit(0L))
      val nb = nullif(col("n_b"), lit(0L))
      val res = agg
        .withColumn("mean_a", col("sv_a") / na)
        .withColumn("mean_b", col("sv_b") / nb)
        .withColumn("var_a", col("svv_a") / na - col("mean_a") * col("mean_a"))
        .withColumn("var_b", col("svv_b") / nb - col("mean_b") * col("mean_b"))
        .withColumn("se2", col("var_a") / na + col("var_b") / nb)
      res
        .withColumn(
          "welch_z",
          when(
            col("n_a") === 0 || col("n_b") === 0 || col("se2") <= 0,
            lit(null).cast("double")
          ).otherwise((col("mean_a") - col("mean_b")) / sqrt(col("se2")))
        )
        .select("event_type", "n_a", "n_b", "mean_a", "mean_b", "welch_z")
        .orderBy("event_type")
    },
    Some(
      """WITH e AS (
        |  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v, user_id % 2 = 0 AS a
        |  FROM events WHERE value IS NOT NULL),
        |agg AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN a THEN v ELSE 0 END) AS DOUBLE) AS sv_a,
        |    CAST(SUM(CASE WHEN NOT a THEN v ELSE 0 END) AS DOUBLE) AS sv_b,
        |    CAST(round(SUM(CASE WHEN a THEN v * v ELSE 0 END), 2) AS DOUBLE) AS svv_a,
        |    CAST(round(SUM(CASE WHEN NOT a THEN v * v ELSE 0 END), 2) AS DOUBLE) AS svv_b
        |  FROM e GROUP BY 1),
        |m AS (
        |  SELECT event_type, n_a, n_b,
        |    sv_a / n_a AS mean_a, sv_b / n_b AS mean_b,
        |    svv_a / n_a - (sv_a / n_a) * (sv_a / n_a) AS var_a,
        |    svv_b / n_b - (sv_b / n_b) * (sv_b / n_b) AS var_b
        |  FROM agg),
        |z AS (
        |  SELECT event_type, n_a, n_b, mean_a, mean_b,
        |    var_a / n_a + var_b / n_b AS se2
        |  FROM m)
        |SELECT event_type, n_a, n_b, mean_a, mean_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR se2 <= 0 THEN NULL
        |       ELSE (mean_a - mean_b) / sqrt(se2) END AS welch_z
        |FROM z ORDER BY event_type""".stripMargin
    )
  )

  /** Hour-of-day seasonality profile per event type: traffic count, exact
    * money volume, integer ppm share of the type's total, and the peak
    * hour (count-desc, hour-asc tie-break — a KEYED rank, one row per
    * type×hour cell). The hour derives from integer epoch math, not
    * engine date functions, so both engines bucket identically; the cell
    * table is session-cached and the per-type totals reaggregate cells,
    * never the events table.
    */
  val seasonality: Q = Q(
    "q_seasonality",
    (s, dir) => {
      val hr = expr("(unix_micros(cast(ts as timestamp)) div 3600000000L) % 24")
      val cells = Cached.frame(
        Tables(s, dir).events
          .groupBy(col("event_type"), hr.as("hour"))
          .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      )
      val tot = cells.groupBy("event_type").agg(sum("cnt").as("tt"))
      val w   = Window.partitionBy("event_type").orderBy(col("cnt").desc, col("hour"))
      cells
        .join(broadcast(tot), "event_type")
        .withColumn("share_ppm", expr("cnt * 1000000L div tt"))
        .withColumn("is_peak", row_number().over(w) === 1)
        .select("event_type", "hour", "cnt", "sum_value", "share_ppm", "is_peak")
        .orderBy("event_type", "hour")
    },
    Some(
      """WITH cells AS (
        |  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hour,
        |    COUNT(*) AS cnt,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS tt FROM cells GROUP BY 1)
        |SELECT event_type, hour, cnt, sum_value,
        |  (cnt * 1000000) // tt AS share_ppm,
        |  (ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cnt DESC, hour) = 1) AS is_peak
        |FROM cells JOIN tot USING (event_type)
        |ORDER BY event_type, hour""".stripMargin
    )
  )

  /** Source-concentration audit: the Lorenz curve of corpus bytes across
    * sources plus the Gini coefficient in ppm — "how top-heavy is the
    * corpus?", the counterpart of `q_domain_mix` that a mixture planner
    * reads before reweighting. Sources aggregate to one row each; the
    * ascending rank and cumulative share come from a triangular broadcast
    * self-join over that bounded grain (|S|² pairs — the keyed analog of
    * ROW_NUMBER over a dimension table, no keyless window), and the Gini
    * is the exact integer rearrangement formula
    * G = (2·Σᵢ i·xᵢ − (S+1)·Σx) / (S·Σx) in ppm. int64 headroom:
    * Σ rank·chars · 10⁶ caps at ~10¹⁸ around 10-PB-of-text scale; past
    * that the two products move to DECIMAL(38,0) unchanged.
    */
  val gini: Q = Q(
    "q_gini",
    (s, dir) => {
      val t = Cached.frame(
        Tables(s, dir).documents
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("t_chars"))
      )
      val lo = t.select(col("source").as("s2"), col("t_chars").as("tc2"))
      val ranked = t
        .join(
          broadcast(lo),
          col("tc2") < col("t_chars") ||
            (col("tc2") === col("t_chars") && col("s2") < col("source")),
          "left"
        )
        .groupBy("source", "n_docs", "t_chars")
        .agg(count(col("s2")).as("n_below"), coalesce(sum("tc2"), lit(0L)).as("cum_below"))
        .withColumn("rnk", col("n_below") + 1)
        .withColumn("cum_chars", col("cum_below") + col("t_chars"))
      val tot = t.agg(sum("t_chars").as("tot"), count(lit(1)).as("s_cnt"))
      val srx = ranked.agg(sum(col("rnk") * col("t_chars")).as("srx"))
      ranked
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(srx))
        .withColumn("cum_share_ppm", expr("cum_chars * 1000000L div tot"))
        .withColumn(
          "gini_ppm",
          expr("(2 * srx - (s_cnt + 1) * tot) * 1000000L div (s_cnt * tot)")
        )
        .select("source", "n_docs", "t_chars", "rnk", "cum_share_ppm", "gini_ppm")
        .orderBy("rnk")
    },
    Some(
      """WITH t AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS t_chars
        |  FROM documents GROUP BY 1),
        |r AS (
        |  SELECT source, n_docs, t_chars,
        |    CAST(ROW_NUMBER() OVER (ORDER BY t_chars, source) AS BIGINT) AS rnk,
        |    CAST(SUM(t_chars) OVER (ORDER BY t_chars, source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars
        |  FROM t),
        |g AS (
        |  SELECT CAST(SUM(rnk * t_chars) AS BIGINT) AS srx,
        |    CAST(SUM(t_chars) AS BIGINT) AS tot, COUNT(*) AS s_cnt
        |  FROM r)
        |SELECT source, n_docs, t_chars, rnk,
        |  (cum_chars * 1000000) // tot AS cum_share_ppm,
        |  ((2 * srx - (s_cnt + 1) * tot) * 1000000) // (s_cnt * tot) AS gini_ppm
        |FROM r CROSS JOIN g ORDER BY rnk""".stripMargin
    )
  )

  /** Per-type linear trend of daily event volume — ordinary least squares
    * of count-per-day on the epoch day, the growth/decay readout behind
    * capacity planning and data-freshness audits. The regression runs
    * entirely on six INTEGER moments (x = epoch day, y = daily count —
    * both exact int64, products < 2⁵³ through ~10⁵-day histories), so the
    * slope/intercept/r doubles are each one exact-int-fed IEEE tree; the
    * degenerate single-day group pins to NULL via the shared
    * [[Num.pearson]] guard. Two partial+final aggregates (day grain, then
    * type grain), no windows.
    */
  val trend: Q = Q(
    "q_trend",
    (s, dir) => {
      val daily = Tables(s, dir).events
        .groupBy(col("event_type"), dayOf(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
      daily
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum("day").as("sx"),
          sum("y").as("sy"),
          sum(col("day") * col("day")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("day") * col("y")).as("sxy")
        )
        .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn(
          "slope",
          when(col("den") === 0, lit(null).cast("double"))
            .otherwise(
              (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                col("den").cast("double")
            )
        )
        .withColumn(
          "intercept",
          when(col("den") === 0, lit(null).cast("double"))
            .otherwise(
              (col("sy").cast("double") - col("slope") * col("sx").cast("double")) / col("n")
            )
        )
        .withColumn(
          "r",
          pearson(col("n"), col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"))
        )
        .select(col("event_type"), col("n").as("n_days"), col("slope"), col("intercept"), col("r"))
        .orderBy("event_type")
    },
    Some(
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y
         |  FROM events GROUP BY 1, 2),
         |m AS (
         |  SELECT event_type, COUNT(*) AS n,
         |    CAST(SUM(day) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(day * day) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         |    CAST(SUM(day * y) AS BIGINT) AS sxy
         |  FROM daily GROUP BY 1)
         |SELECT event_type, n AS n_days,
         |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
         |       ELSE CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
         |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
         |       ELSE (CAST(sy AS DOUBLE) -
         |             (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
         |               * CAST(sx AS DOUBLE)) / n END AS intercept,
         |  ${Num.pearsonSql("n", "sx", "sy", "sxx", "syy", "sxy")} AS r
         |FROM m ORDER BY event_type""".stripMargin
    )
  )

  /** Deterministic half-sample bootstrap of the mean order price — the
    * hash-based resampling CI that replaces rand()-based bootstraps at
    * cluster scale (reproducible across engines, retries, and partition
    * layouts; the Poisson/streaming-bootstrap family): B = 32 replicas,
    * each keeping a row iff the salted 28-bit md5 of (o_orderkey:b) is
    * even — the same keyed-hash idiom as `q_split_assign`. Replica means
    * divide an exact decimal sum by an exact count; the CI is the
    * min/max envelope over the 32 replica means (order-independent double
    * reduction, no rank window needed); the 32× explode fan-out is a
    * bounded scan-stage multiplier (`q_span_mask` precedent). The narrow
    * base is session-cached so replicas and the overall mean share ONE
    * orders scan.
    */
  val bootstrapCi: Q = Q(
    "q_bootstrap_ci",
    (s, dir) => {
      val base = Cached.frame(
        Tables(s, dir).orders
          .select(col("o_orderkey"), col("o_totalprice").cast(Money).as("p"))
      )
      val keep = conv(
        substring(
          md5(
            concat(col("o_orderkey").cast("string"), lit(":"), col("b").cast("string"))
              .cast("binary")
          ),
          1,
          7
        ),
        16,
        10
      ).cast("long") % 2 === 0
      // the 32× md5 fan-out is the query's whole cost; the single-row-group
      // fixture scan plans ONE task, so without the spread the ~32·|orders|
      // hash evaluations serialize on one core (StageProbe r16: two ~6 s
      // single-task stages — this subtree runs twice, once under the ci
      // broadcast).
      val rmeans = graft.core.Width.compute(base)
        .select(col("o_orderkey"), col("p"), explode(sequence(lit(0), lit(31))).as("b"))
        .filter(keep)
        .groupBy(col("b").cast("long").as("b"))
        .agg(count(lit(1)).as("n_b"), sum("p").cast("double").as("sv"))
        .withColumn("mean_b", col("sv") / col("n_b"))
      val ci      = rmeans.agg(min("mean_b").as("ci_lo"), max("mean_b").as("ci_hi"))
      val overall = base.agg(davg(col("p")).as("mean_all"), count(lit(1)).as("n_all"))
      rmeans
        .crossJoin(broadcast(ci))
        .crossJoin(broadcast(overall))
        .select("b", "n_b", "mean_b", "mean_all", "n_all", "ci_lo", "ci_hi")
        .orderBy("b")
    },
    Some(
      """WITH base AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |reps AS (
        |  SELECT b, p
        |  FROM base CROSS JOIN (SELECT b FROM range(0, 32) AS t(b))
        |  WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 7) AS BIGINT) % 2 = 0),
        |rm AS (
        |  SELECT b, COUNT(*) AS n_b,
        |    CAST(SUM(p) AS DOUBLE) / COUNT(*) AS mean_b
        |  FROM reps GROUP BY 1),
        |ci AS (SELECT MIN(mean_b) AS ci_lo, MAX(mean_b) AS ci_hi FROM rm),
        |o AS (SELECT CAST(SUM(p) AS DOUBLE) / COUNT(*) AS mean_all, COUNT(*) AS n_all FROM base)
        |SELECT b, n_b, mean_b, mean_all, n_all, ci_lo, ci_hi
        |FROM rm CROSS JOIN ci CROSS JOIN o ORDER BY b""".stripMargin
    )
  )

  val all: Seq[Q] =
    Seq(globalCumsum, ksTest, chiSquare, abTest, seasonality, gini, trend, bootstrapCi)
}
