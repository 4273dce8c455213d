package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Event-stream analytics over the `events` table: tumbling time windows,
  * semi-structured (JSON-ish) property extraction, and gap-based
  * sessionization.
  *
  * Scale notes: window aggregation groups on (truncated-ts, type) → one
  * partial+final hash-agg exchange; sessionization shuffles once on user_id
  * and sorts within partitions (no global sort). At 100 TB the events table
  * would be date-partitioned so the window group-by never shuffles more than
  * a partition's worth of distinct (hour, type) groups.
  */
object EventQueries {
  import Num._

  /** Tumbling 1-hour windows per event type. */
  val eventsWindow: Q = Q(
    "q_events_window",
    (s, dir) =>
      Tables(s, dir).events
        .groupBy(
          // date_trunc yields TIMESTAMP (LTZ) even for an NTZ input; cast
          // back so the written parquet stays naive like the oracle's
          // (session TZ is UTC — the instant is unchanged)
          date_trunc("hour", col("ts")).cast("timestamp_ntz").as("win_start"),
          col("event_type")
        )
        .agg(
          count(lit(1)).as("cnt"),
          dsum(col("value")).as("sum_value")
        )
        .orderBy("win_start", "event_type"),
    Some(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start, event_type,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )
  )

  /** Semi-structured property extraction from the JSON `props` column,
    * aggregated per event type. The extraction is a regexp pull of the "k"
    * field so the oracle needs no JSON extension; the Spark side uses the
    * same expression (get_json_object would work identically here).
    */
  val eventsJson: Q = Q(
    "q_events_json",
    (s, dir) =>
      Tables(s, dir).events
        .select(
          col("event_type"),
          regexp_extract(col("props"), """"k": (-?\d+)""", 1).cast("long").as("k")
        )
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(col("k")).as("cnt_k"))
        .orderBy("event_type"),
    Some(
      """SELECT event_type,
        |  CAST(SUM(TRY_CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(TRY_CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS cnt_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
    )
  )

  /** Typed JSON property extraction: parse `props` as real JSON
    * (get_json_object ≙ DuckDB json_extract) instead of the regexp pull in
    * [[eventsJson]] — per-event row output so the parse itself is
    * hash-checked.
    */
  val eventsJsonTyped: Q = Q(
    "q_events_json_typed",
    (s, dir) =>
      Tables(s, dir).events
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k")
        )
        .orderBy("event_id"),
    Some(
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin
    )
  )

  /** THE session-gap rule: a new session starts after >5 min of
    * inactivity per user. ONE Spark-side definition shared by
    * [[sessionize]] and [[sessionStats]] so the two queries can never
    * disagree about what a session is (the oracles carry the same
    * 300000000 literal). Timestamps are compared as epoch microseconds
    * so both engines do exact integer arithmetic; ts is TIMESTAMP_NTZ
    * (naive) and the session TZ is UTC, so the cast keeps the same
    * microsecond value. Emits (user_id, event_id, us, new_session).
    */
  private val SessionGapUs = 300000000L
  private def sessionFlags(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev_us", lag("us", 1).over(w))
      .withColumn(
        "new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > SessionGapUs, 1L).otherwise(0L)
      )
  }

  /** Gap-based sessionization: per-user session and event counts over
    * [[sessionFlags]].
    */
  val sessionize: Q = Q(
    "q_sessionize",
    (s, dir) =>
      sessionFlags(Tables(s, dir).events)
        .groupBy("user_id")
        .agg(sum("new_session").as("sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id"),
    Some(
      """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS sessions, COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 300000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin
    )
  )

  /** View→click funnel: each click joined to the views it follows within 10
    * minutes for the same user — the registered face of
    * [[graft.ops.TemporalJoins.rangeJoin]] (bucketized interval join: views
    * explode onto 10-minute buckets, clicks hash-join on (user_id, bucket),
    * the exact interval predicate filters after — one equi exchange, never a
    * nested loop). Timestamps compared as epoch micros so both engines do
    * exact integer arithmetic.
    */
  val rangeJoinFunnel: Q = Q(
    "q_range_join",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select(
          col("event_id"),
          col("user_id"),
          col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us")
        )
      val horizonUs = 600000000L // 10 minutes
      val views = ev
        .filter(col("event_type") === "view")
        .select(
          col("event_id").as("view_id"),
          col("user_id"),
          col("us").as("v_start"),
          (col("us") + horizonUs).as("v_end")
        )
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("us").as("c_us"))
      graft.ops.TemporalJoins
        .rangeJoin(clicks, views, ts = "c_us", start = "v_start", end = "v_end",
          bucketWidth = horizonUs, keys = Seq("user_id"))
        .select("user_id", "view_id", "click_id")
        .orderBy("user_id", "view_id", "click_id")
    },
    Some(
      """SELECT v.user_id AS user_id, v.event_id AS view_id, c.event_id AS click_id
        |FROM events v JOIN events c ON v.user_id = c.user_id
        |  AND v.event_type = 'view' AND c.event_type = 'click'
        |  AND epoch_us(c.ts) >= epoch_us(v.ts)
        |  AND epoch_us(c.ts) <  epoch_us(v.ts) + 600000000
        |ORDER BY 1, 2, 3""".stripMargin
    )
  )

  /** Interval × interval overlap join — user sessions against hourly
    * error-spike "outage" windows, the incident-impact readout ("how many
    * sessions / users were active during each outage?"). Sessions are the
    * [[sessionFlags]] gap sessions materialized as half-open [first_us,
    * last_us + 1) intervals (running-flag session number → min/max per
    * session — one keyed exchange shared by the window and the aggregate);
    * outages are hours whose error count exceeds 1.5× the average error
    * hour, decided by INTEGER cross-multiplication (errs·2·n > 3·tot — no
    * division, no doubles) against the broadcast 1-row totals. The join is
    * [[graft.ops.TemporalJoins.intervalJoin]]: both interval sets explode
    * onto hour buckets and hash-join on the bucket with the exact overlap
    * predicate after — never a non-equi nested loop — and the canonical-
    * bucket rule makes each overlapping pair match exactly once with NO
    * dedup pass. The narrow event projection is session-cached: sessions
    * and the outage histogram are two branches of ONE events scan. The
    * oracle joins the first-principles overlap predicate directly.
    */
  val intervalJoinImpact: Q = Q(
    "q_interval_join",
    (s, dir) => {
      val base = graft.core.Cached.frame(
        Tables(s, dir).events
          .select(
            col("event_id"),
            col("user_id"),
            col("event_type"),
            unix_micros(col("ts").cast("timestamp")).as("us")
          )
      )
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val sessions = base
        .withColumn("prev_us", lag("us", 1).over(w))
        .withColumn(
          "new_session",
          when(col("prev_us").isNull || col("us") - col("prev_us") > SessionGapUs, 1L)
            .otherwise(0L)
        )
        .withColumn("session_no", sum("new_session").over(w))
        .groupBy("user_id", "session_no")
        .agg(min("us").as("s_start"), (max("us") + 1).as("s_end"))
      val hours = base
        .filter(col("event_type") === "error")
        .groupBy(call_function("div", col("us"), lit(3600000000L)).as("h"))
        .agg(count(lit(1)).as("errs"))
      val tot = hours.agg(sum("errs").as("tot_errs"), count(lit(1)).as("n_hours"))
      val outages = hours
        .crossJoin(broadcast(tot))
        .filter(col("errs") * lit(2) * col("n_hours") > lit(3) * col("tot_errs"))
        .select(
          col("h"),
          col("errs"),
          (col("h") * 3600000000L).as("o_start"),
          ((col("h") + 1) * 3600000000L).as("o_end")
        )
      graft.ops.TemporalJoins
        .intervalJoin(sessions, outages, "s_start", "s_end", "o_start", "o_end", 3600000000L)
        .groupBy("h", "errs")
        .agg(count(lit(1)).as("n_sessions"), countDistinct("user_id").as("n_users"))
        .select(
          col("h").as("outage_hour"),
          col("errs"),
          col("n_sessions"),
          col("n_users")
        )
        .orderBy("outage_hour")
    },
    Some(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
        |f AS (
        |  SELECT user_id, us,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 300000000
        |         THEN 1 ELSE 0 END AS new_session,
        |    event_id
        |  FROM e),
        |fs AS (
        |  SELECT user_id, us,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id) AS session_no
        |  FROM f),
        |sess AS (
        |  SELECT user_id, session_no,
        |    CAST(MIN(us) AS BIGINT) AS s_start, CAST(MAX(us) + 1 AS BIGINT) AS s_end
        |  FROM fs GROUP BY 1, 2),
        |h AS (
        |  SELECT us // 3600000000 AS h, COUNT(*) AS errs
        |  FROM e WHERE event_type = 'error' GROUP BY 1),
        |t AS (SELECT CAST(SUM(errs) AS BIGINT) AS tot_errs, COUNT(*) AS n_hours FROM h),
        |o AS (
        |  SELECT h, errs, h * 3600000000 AS o_start, (h + 1) * 3600000000 AS o_end
        |  FROM h CROSS JOIN t WHERE errs * 2 * n_hours > 3 * tot_errs)
        |SELECT o.h AS outage_hour, o.errs,
        |  COUNT(*) AS n_sessions,
        |  COUNT(DISTINCT sess.user_id) AS n_users
        |FROM o JOIN sess ON sess.s_start < o.o_end AND o.o_start < sess.s_end
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin
    )
  )

  /** Event-sequence pattern matching (the MATCH_RECOGNIZE / funnel-regex
    * shape): each gap session's ordered event types become ONE compact
    * string (first letter per type — the fixture's five types have distinct
    * initials) and ordinary regexes classify whole sessions — conversion
    * (`v.*p`: a view eventually followed by a purchase), error-touched
    * (`e`), single-event bounce. This subsumes arbitrarily deep funnels
    * without one join per stage ([[funnel]]'s shape): the pattern is data,
    * not plan, so adding a stage changes a string instead of the DAG.
    * Scale: the window and BOTH groupBys are user_id-prefixed, so
    * everything after the one sessionize exchange is partition-local
    * (hash partitioning on user_id satisfies the (user_id, session_no)
    * clustering). Per-session state is the session's event count — bounded
    * by the gap rule, never corpus-sized; the regex runs once per session
    * row inside codegen. Ordering inside a session is pinned by
    * `array_sort` over (us, event_id, ch) structs ≙ the oracle's
    * `string_agg(... ORDER BY us, event_id)` — collect_list alone has no
    * order contract.
    */
  val seqPattern: Q = Q(
    "q_seq_pattern",
    (s, dir) => {
      val base = Tables(s, dir).events
        .select(
          col("event_id"),
          col("user_id"),
          substring(col("event_type"), 1, 1).as("ch"),
          unix_micros(col("ts").cast("timestamp")).as("us")
        )
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val seqs = base
        .withColumn("prev_us", lag("us", 1).over(w))
        .withColumn(
          "new_session",
          when(col("prev_us").isNull || col("us") - col("prev_us") > SessionGapUs, 1L)
            .otherwise(0L)
        )
        .withColumn("session_no", sum("new_session").over(w))
        .groupBy("user_id", "session_no")
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("us"), col("event_id"), col("ch")))),
              x => x.getField("ch")
            ),
            ""
          ).as("seq")
        )
      seqs
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(when(col("seq").rlike("v.*p"), 1L).otherwise(0L)).as("n_converted"),
          sum(when(col("seq").rlike("e"), 1L).otherwise(0L)).as("n_with_error"),
          sum(when(length(col("seq")) === 1, 1L).otherwise(0L)).as("n_bounce")
        )
        .orderBy("user_id")
    },
    Some(
      """WITH e AS (
        |  SELECT event_id, user_id, substr(event_type, 1, 1) AS ch, epoch_us(ts) AS us
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ch, us,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 300000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |fs AS (
        |  SELECT user_id, ch, us, event_id,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id) AS session_no
        |  FROM f),
        |sq AS (
        |  SELECT user_id, session_no, string_agg(ch, '' ORDER BY us, event_id) AS seq
        |  FROM fs GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(CASE WHEN regexp_matches(seq, 'v.*p') THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        |  CAST(SUM(CASE WHEN regexp_matches(seq, 'e') THEN 1 ELSE 0 END) AS BIGINT) AS n_with_error,
        |  CAST(SUM(CASE WHEN length(seq) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce
        |FROM sq GROUP BY user_id ORDER BY user_id""".stripMargin
    )
  )

  /** Cumulative user growth: new users per day (first-appearance day) and
    * the running total of distinct users seen to date — the classic
    * "cumulative distinct count" that naive SQL writes as
    * `COUNT(DISTINCT user) OVER (ORDER BY day)`, an O(n·days) disaster.
    * Restated as the linear decomposition: distinct-to-date d = Σ_{d'≤d}
    * |{users first seen on d'}| — one groupBy(user) min, one metadata-sized
    * day aggregate, one prefix sum. The prefix runs on the hierarchical
    * [[graft.ops.PrefixSum]] (32-day chunks) per the house no-keyless-window
    * rule; the day grain is calendar-bounded but the discipline is uniform.
    * Scale: the only corpus-sized exchange is the per-user min (partial
    * min combines map-side); everything after is O(days). The oracle is
    * the plain single-partition window over the same decomposition —
    * hash-equality proves the hierarchy computes exactly the global-scan
    * semantics.
    */
  val userGrowth: Q = Q(
    "q_user_growth",
    (s, dir) => {
      val day = call_function("div", unix_micros(col("ts").cast("timestamp")), lit(86400000000L))
      val firstDay = Tables(s, dir).events
        .select(col("user_id"), day.as("d"))
        .groupBy("user_id")
        .agg(min("d").as("first_day"))
      val newPerDay =
        firstDay.groupBy("first_day").agg(count(lit(1)).as("new_users"))
      graft.ops.PrefixSum
        .runningTotals(
          newPerDay,
          bucket = call_function("div", col("first_day"), lit(32L)),
          order = Seq(col("first_day")),
          values = Seq((col("new_users"), "cum_users"))
        )
        .select(col("first_day").as("day"), col("new_users"), col("cum_users"))
        .orderBy("day")
    },
    Some(
      """WITH f AS (
        |  SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS first_day
        |  FROM events GROUP BY 1),
        |nd AS (SELECT first_day, COUNT(*) AS new_users FROM f GROUP BY 1)
        |SELECT first_day AS day, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY first_day ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_users
        |FROM nd ORDER BY day""".stripMargin
    )
  )

  /** Days-since-epoch bucket (truncating integer division of epoch micros —
    * `//` flooring in the DuckDB mirrors agrees for the fixtures' positive
    * epochs). ONE definition shared by the resample queries and
    * [[StatsQueries]]' day buckets so the bucketing rule can never diverge
    * between them.
    */
  private[queries] def dayOf(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("div", unix_micros(ts.cast("timestamp")), lit(86400000000L))

  /** The dense (user_id, day) grid spanning each user's [first, last] day —
    * the sequence+explode resample scaffold shared by [[gapFill]] and
    * [[locf]]. Input needs (user_id, day) columns.
    */
  private def denseDays(perDay: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val span = perDay.groupBy("user_id").agg(min("day").as("lo"), max("day").as("hi"))
    span.select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
  }

  /** Time-series gap fill + resample: per-user DAILY event counts with the
    * missing days materialized as explicit zero rows (sequence + explode
    * over each user's [first, last] day span — the declarative resample),
    * then a cumulative count over the now-dense series. Real consumers:
    * training-data freshness dashboards, per-source ingest monitoring —
    * anything that must distinguish "no data that day" from "day absent
    * from the result". Explode factor is bounded by span/bucket-width per
    * key (≤30 here), the standard resample shape that holds at 100 TB;
    * one exchange for the counts, one for the per-user window.
    */
  val gapFill: Q = Q(
    "q_gap_fill",
    (s, dir) => {
      val ev     = Tables(s, dir).events.select(col("user_id"), dayOf(col("ts")).as("day"))
      val counts = ev.groupBy("user_id", "day").agg(count(lit(1)).as("cnt"))
      val w      = Window.partitionBy("user_id").orderBy("day")
      denseDays(counts)
        .join(counts, Seq("user_id", "day"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .withColumn("cum_cnt", sum("cnt").over(w))
        .orderBy("user_id", "day")
    },
    Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |counts AS (SELECT user_id, day, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM counts GROUP BY 1),
        |dense AS (SELECT user_id, unnest(range(lo, hi + 1)) AS day FROM span)
        |SELECT d.user_id, d.day, COALESCE(c.cnt, 0) AS cnt,
        |  CAST(SUM(COALESCE(c.cnt, 0))
        |         OVER (PARTITION BY d.user_id ORDER BY d.day) AS BIGINT) AS cum_cnt
        |FROM dense d LEFT JOIN counts c ON c.user_id = d.user_id AND c.day = d.day
        |ORDER BY d.user_id, d.day""".stripMargin
    )
  )

  /** Forward fill (LOCF — last observation carried forward) over the
    * gap-filled daily series: each user-day carries the value of its day's
    * LAST NON-NULL-valued event (max_by over the unique event_id), and
    * empty days inherit the most recent prior day's value via an IGNORE
    * NULLS running last. Null values are filtered BEFORE the aggregate on
    * BOTH sides: Spark's max_by returns the value at the max key even when
    * that value is null, while DuckDB's arg_max skips null arguments — the
    * explicit filter makes the two rules coincide (and "carry the last
    * real observation" is the LOCF semantics anyway). The value rides
    * through untouched (no float arithmetic), so the fill is bit-identical
    * cross-engine.
    */
  val locf: Q = Q(
    "q_locf",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .filter(col("value").isNotNull)
        .select(col("user_id"), dayOf(col("ts")).as("day"), col("event_id"), col("value"))
      val lastPerDay =
        ev.groupBy("user_id", "day").agg(max_by(col("value"), col("event_id")).as("day_val"))
      val w = Window
        .partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      denseDays(lastPerDay)
        .join(lastPerDay, Seq("user_id", "day"), "left")
        .withColumn("filled", last(col("day_val"), ignoreNulls = true).over(w))
        .select("user_id", "day", "day_val", "filled")
        .orderBy("user_id", "day")
    },
    Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |lastv AS (
        |  SELECT user_id, day, arg_max(value, event_id) AS day_val FROM ev GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM lastv GROUP BY 1),
        |dense AS (SELECT user_id, unnest(range(lo, hi + 1)) AS day FROM span)
        |SELECT d.user_id, d.day, l.day_val,
        |  last_value(l.day_val IGNORE NULLS)
        |    OVER (PARTITION BY d.user_id ORDER BY d.day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM dense d LEFT JOIN lastv l ON l.user_id = d.user_id AND l.day = d.day
        |ORDER BY d.user_id, d.day""".stripMargin
    )
  )

  /** Ordered conversion funnel: per user, the first view, the first click
    * AT-OR-AFTER that view, and the first purchase at-or-after that click —
    * the step-order constraint is what separates a funnel from three
    * independent mins (a purchase before the click must NOT count). Output
    * is one row per user who viewed, with nullable step timestamps, so the
    * stage-attainment logic itself is hash-checked row by row.
    *
    * Plan shape: three aggregates and two joins, ALL keyed on user_id — one
    * partitioning reused across every stage (the step-2/3 thresholds are
    * aggregate outputs, at most one row per user, broadcastable besides).
    * Timestamps ride as epoch micros: integer min/compare, bit-identical
    * cross-engine. At 100 TB this funnel never shuffles anything wider than
    * (user_id, us) pre-aggregated rows.
    */
  val funnel: Q = Q(
    "q_funnel",
    (s, dir) => {
      val e = Tables(s, dir).events
        .select(col("user_id"), col("event_type"), unix_micros(col("ts").cast("timestamp")).as("us"))
      val v = e.filter(col("event_type") === "view").groupBy("user_id").agg(min("us").as("v_us"))
      val c = e
        .filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("us") >= col("v_us"))
        .groupBy("user_id")
        .agg(min("us").as("c_us"))
      val p = e
        .filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("us") >= col("c_us"))
        .groupBy("user_id")
        .agg(min("us").as("p_us"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .orderBy("user_id")
    },
    Some(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, MIN(us) AS v_us FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(us) AS c_us
        |      FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND us >= v_us GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(us) AS p_us
        |      FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us >= c_us GROUP BY 1)
        |SELECT v.user_id, v_us, c_us, p_us
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY v.user_id""".stripMargin
    )
  )

  /** Cohort retention: users grouped by their FIRST-activity day (the
    * cohort), counted by how many days after that first day they were
    * active again — the `(cohort_day, day_offset) → distinct users` matrix
    * every growth dashboard draws. Two aggregates (first-day per user, then
    * the matrix) and one user_id join; day buckets are integer epoch-day
    * arithmetic so the offsets are bit-identical cross-engine. The distinct
    * collapses to a groupBy over (cohort, offset, user) first — partial
    * aggregation keeps the exchange narrow at scale.
    */
  val retention: Q = Q(
    "q_retention",
    (s, dir) => {
      val ev    = Tables(s, dir).events.select(col("user_id"), dayOf(col("ts")).as("day"))
      val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(first, "user_id")
        .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"), col("user_id"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
    Some(
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |first AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset, COUNT(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN first USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )
  )

  /** Latest-record-per-key compaction — the batch form of CDC upsert /
    * snapshot materialization: each user's single most recent event wins
    * (ties on ts broken by the unique event_id, so "latest" is total).
    * `max_by` over a (us, event_id) struct is ONE partial+final aggregate —
    * at 100 TB the map-side combine reduces each partition to one candidate
    * row per key before the exchange, where the row_number-over-window
    * formulation would shuffle every raw row and sort each partition.
    * The struct comparison is lexicographic on integers, engine-independent.
    */
  val latestByKey: Q = Q(
    "q_latest_by_key",
    (s, dir) => {
      val e = Tables(s, dir).events.select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us")
      )
      e.groupBy("user_id")
        .agg(max(struct(col("us"), col("event_id"), col("event_type"))).as("m"))
        .select(
          col("user_id"),
          col("m.us").as("us"),
          col("m.event_id").as("event_id"),
          col("m.event_type").as("event_type")
        )
        .orderBy("user_id")
    },
    Some(
      """SELECT user_id, epoch_us(ts) AS us, event_id, event_type
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |                           ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin
    )
  )

  /** Exponentially-weighted moving average over each user's last 8 events,
    * decay 1/2 — chosen BECAUSE halving is exact in IEEE-754 (an exponent
    * decrement), so every term `lag_i · 2⁻ⁱ` is exact and the fixed
    * left-to-right 8-term sum is bit-identical cross-engine; an arbitrary
    * decay would ride on libm `pow` and could differ by an ulp. Missing
    * (null) values drop out of numerator AND denominator, renormalizing
    * the weights — the standard irregular-series EWMA. One exchange on
    * user_id; the 8 lags share a single window sort.
    */
  val ewma: Q = Q(
    "q_ewma",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val lags = (0 until 8).map(i => (lag(col("value"), i).over(w), math.pow(2, -i)))
      val num = lags.map { case (l, wt) => when(l.isNotNull, l * wt).otherwise(lit(0.0)) }.reduce(_ + _)
      val den = lags.map { case (l, wt) => when(l.isNotNull, lit(wt)).otherwise(lit(0.0)) }.reduce(_ + _)
      Tables(s, dir).events
        .select(
          col("user_id"),
          col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("value")
        )
        .withColumn("ewma", when(den > 0, num / den))
        .select("user_id", "event_id", "us", "value", "ewma")
        .orderBy("event_id")
    },
    Some {
      def lagSql(i: Int) = s"lag(value, $i) OVER w"
      val num = (0 until 8)
        .map(i => s"CASE WHEN ${lagSql(i)} IS NOT NULL THEN ${lagSql(i)} * ${math.pow(2, -i)} ELSE 0.0 END")
        .mkString(" + ")
      val den = (0 until 8)
        .map(i => s"CASE WHEN ${lagSql(i)} IS NOT NULL THEN ${math.pow(2, -i)} ELSE 0.0 END")
        .mkString(" + ")
      s"""SELECT user_id, event_id, epoch_us(ts) AS us, value,
         |  CASE WHEN ($den) > 0 THEN ($num) / ($den) END AS ewma
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |ORDER BY event_id""".stripMargin
    }
  )

  /** Per-type z-score outlier flagging — the distribution-based anomaly
    * gate of a data-quality pipeline. The moments come from exact decimal
    * sums (value is money-scale, its square exact at scale 4), so
    * mean/sd/z are fixed trees of single IEEE ops on bit-identical inputs —
    * hash-checkable double outputs, like [[graft.queries.Num.davg]]. The
    * per-type stats are a 5-row broadcast back onto the events scan; at
    * 100 TB this is one aggregate pass + one broadcast join, no second
    * shuffle of the fact table.
    */
  val zscore: Q = Q(
    "q_zscore",
    (s, dir) => {
      val v = col("value").cast(Money)
      val stats = Tables(s, dir).events
        .filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(v).cast("double").as("sv"),
          // scale 2, NOT 4: at scale 4 a large corpus's Σ value² crosses
          // 2^53 unscaled, where DuckDB's decimal→double conversion
          // double-rounds while Spark rounds once (the dsumExpr hazard,
          // observed live on q_corr)
          sum(v * v).cast(org.apache.spark.sql.types.DecimalType(38, 2)).cast("double").as("svv")
        )
        .withColumn("mean", col("sv") / col("n"))
        .withColumn("sd", sqrt(col("svv") / col("n") - col("mean") * col("mean")))
        .select("event_type", "mean", "sd")
      Tables(s, dir).events
        .filter(col("value").isNotNull)
        .join(broadcast(stats), "event_type")
        .withColumn("z", (col("value") - col("mean")) / col("sd"))
        .select(
          col("event_id"),
          col("event_type"),
          col("value"),
          col("z"),
          (abs(col("z")) > 3).as("is_outlier")
        )
        .orderBy("event_id")
    },
    Some(
      """WITH e AS (SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv,
        |    CAST(round(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS svv
        |  FROM e GROUP BY 1),
        |st2 AS (
        |  SELECT event_type, sv / n AS mean, sqrt(svv / n - (sv / n) * (sv / n)) AS sd
        |  FROM st)
        |SELECT event_id, e.event_type, value,
        |  (value - mean) / sd AS z,
        |  abs((value - mean) / sd) > 3 AS is_outlier
        |FROM e JOIN st2 USING (event_type)
        |ORDER BY event_id""".stripMargin
    )
  )

  /** Hopping (sliding) windows — the third window shape next to tumbling
    * ([[eventsWindow]]) and session ([[sessionize]]): 25-minute windows
    * advancing every 10 minutes, so each event lands in 2–3 overlapping
    * windows. The assignment is an explode over the (at most 3) candidate
    * window starts — the standard Spark/Flink hopping-window expansion;
    * the replication factor is ⌈size/hop⌉, bounded and known at plan time,
    * and the aggregate after it is one partial+final exchange on
    * (win_start, type). All window math is integer epoch-microsecond
    * arithmetic, bit-identical cross-engine. Size is deliberately NOT a
    * multiple of the hop so the membership filter does real work (an event
    * in the last 5 minutes of its hop bucket is outside the oldest
    * candidate window).
    */
  val eventsHopping: Q = Q(
    "q_events_hopping",
    (s, dir) => {
      val Hop = 600000000L  // 10 min in us
      val Win = 1500000000L // 25 min
      Tables(s, dir).events
        .select(
          col("event_type"),
          col("value"),
          unix_micros(col("ts").cast("timestamp")).as("us")
        )
        // `us - pmod(us, hop)` is FLOOR-division bucketing (pmod is always
        // non-negative), matching DuckDB's `//` even for pre-1970 negative
        // epochs — `(us div hop) * hop` would truncate toward zero instead
        .withColumn("base", expr(s"us - pmod(us, $Hop)"))
        .withColumn("k", explode(array(lit(0L), lit(1L), lit(2L))))
        .withColumn("win_start", col("base") - col("k") * Hop)
        .filter(col("us") < col("win_start") + Win)
        .groupBy("win_start", "event_type")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .orderBy("win_start", "event_type")
    },
    Some(
      """WITH off AS (SELECT unnest([0, 1, 2]) AS k),
        |e AS (SELECT event_type, value, epoch_us(ts) AS us,
        |        (epoch_us(ts) // 600000000) * 600000000 AS base FROM events)
        |SELECT base - k * 600000000 AS win_start, event_type,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM e CROSS JOIN off
        |WHERE us < base - k * 600000000 + 1500000000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )
  )

  /** SCD2 (slowly-changing-dimension type 2) compaction: collapse each
    * user's event history into `[valid_from, valid_to)` intervals of
    * constant `event_type`, the change-data-capture → dimension-table
    * materialization every warehouse runs. Two window passes over the SAME
    * (user_id | us, event_id) partitioning — detect state changes with
    * `lag`, then close each interval with `lead` over the surviving change
    * rows — so the plan is one exchange and the second window reuses the
    * first's sort order (the filter between them preserves it). Open
    * intervals have NULL valid_to, exactly like a production SCD2 current
    * row. Timestamps ride as epoch micros: integer compares, bit-identical
    * cross-engine.
    */
  val scd2: Q = Q(
    "q_scd2",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      Tables(s, dir).events
        .select(
          col("user_id"),
          col("event_id"),
          col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us")
        )
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNull || col("event_type") =!= col("prev_type"))
        .withColumn("valid_to", lead("us", 1).over(w))
        .select(
          col("user_id"),
          col("event_type"),
          col("us").as("valid_from"),
          col("valid_to")
        )
        // event_type/valid_to tiebreaks: two change rows CAN share
        // (user_id, valid_from) when events tie on ts, and the driver's
        // hash compare is row-order-sensitive — the sort must be total
        // over the output columns (valid_to NULLS FIRST matches Spark's
        // asc default; DuckDB's asc default is NULLS LAST)
        .orderBy("user_id", "valid_from", "event_type", "valid_to")
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events),
        |chg AS (
        |  SELECT user_id, event_id, event_type, us FROM e
        |  WHERE prev_type IS NULL OR event_type <> prev_type)
        |SELECT user_id, event_type, us AS valid_from,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to
        |FROM chg ORDER BY user_id, valid_from, event_type, valid_to NULLS FIRST""".stripMargin
    )
  )

  /** Count-min sketch next to its ground truth: a (d=4 × w=32) integer
    * counter matrix over `user_id`, probed for the exact top-10 users so
    * the driver hash-checks the ESTIMATE itself (unlike engine-opaque
    * HLL/KLL sketches, every counter is a plain SUM over fixed md5-derived
    * hashes — replayable in any engine). CMS is the mergeable
    * frequency sketch a streaming pipeline keeps per partition/micro-batch:
    * the counter build is ONE partial+final aggregate whose exchange
    * carries at most d·w = 128 rows regardless of corpus size, counters
    * merge by addition across shards/days, and the probe side is a
    * broadcast of those 128 rows onto the (tiny) exact top-k — so the
    * whole query adds nothing fact-table-sized to the [[graft.queries]]
    * heavy-hitter scan it complements (`q_heavy_hitters` IS the exact
    * companion at full width). The one-sided CMS error guarantee
    * (est ≥ exact, est ≤ exact + εN w.h.p.) is asserted per-row in
    * EventsSpec, and holds here by construction: a min over supersets of
    * each key's own counts.
    */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 32

  private[graft] def cmsBucket(h: Int, u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.ext.Dedup.baseHash(concat(lit(h.toString), lit(":"), u.cast("string"))) % CmsWidth

  private[graft] def cmsHashBuckets(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until CmsDepth).map(j => struct(lit(j).as("h"), cmsBucket(j, u).as("bucket"))): _*)

  /** The CMS counter matrix over `user_id` — shared by the batch
    * [[cmsTopk]] and the streaming mergeability test in StreamingSpec
    * (a groupBy-count is a streaming aggregate: counters accumulate by
    * addition across micro-batches, which IS the CMS merge).
    */
  def cmsCounters(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    events
      .select(explode(cmsHashBuckets(col("user_id"))).as("hb"))
      .groupBy(col("hb.h").as("h"), col("hb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))

  val cmsTopk: Q = Q(
    "q_cms_topk",
    (s, dir) => {
      val ev       = Tables(s, dir).events
      val counters = cmsCounters(ev)
      val top = ev
        .groupBy("user_id")
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id"))
        .limit(10)
      val probes = top
        .select(col("user_id"), col("exact_cnt"), explode(cmsHashBuckets(col("user_id"))).as("hb"))
        .select(col("user_id"), col("exact_cnt"), col("hb.h"), col("hb.bucket"))
      probes
        .join(broadcast(counters), Seq("h", "bucket"))
        .groupBy("user_id", "exact_cnt")
        .agg(min("c").as("cms_est"))
        .orderBy("user_id")
    },
    Some(
      """WITH hs AS (SELECT unnest([0, 1, 2, 3]) AS h),
        |counters AS (
        |  SELECT h,
        |    CAST('0x' || substr(md5(CAST(h AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 7) AS BIGINT) % 32 AS bucket,
        |    COUNT(*) AS c
        |  FROM events CROSS JOIN hs GROUP BY 1, 2),
        |top AS (
        |  SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY 1
        |  ORDER BY exact_cnt DESC, user_id LIMIT 10),
        |probes AS (
        |  SELECT user_id, exact_cnt, h,
        |    CAST('0x' || substr(md5(CAST(h AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 7) AS BIGINT) % 32 AS bucket
        |  FROM top CROSS JOIN hs)
        |SELECT user_id, exact_cnt, MIN(c) AS cms_est
        |FROM probes JOIN counters USING (h, bucket)
        |GROUP BY 1, 2 ORDER BY user_id""".stripMargin
    )
  )

  /** 7-day rolling sum per user over a RANGE window frame — the
    * value-based frame (ewma / q_running_total cover ROWS frames;
    * RANGE frames bound by the ORDER BY VALUE, so gaps in the day sequence
    * shrink the frame instead of sliding over a fixed row count). The
    * daily pre-aggregate keeps the window input at one row per (user, day)
    * — the frame never re-reads raw events — and the rolling sum runs over
    * EXACT DECIMALS inside the frame (sliding double sums are computed
    * incrementally with subtraction and would drift cross-engine; decimal
    * addition is exact in any order), casting to double only on output.
    * One exchange on user_id shared by the aggregate and the window.
    */
  val rolling7d: Q = Q(
    "q_rolling_7d",
    (s, dir) => {
      val daily = Tables(s, dir).events
        .groupBy(col("user_id"), dayOf(col("ts")).as("day"))
        .agg(sum(col("value").cast(Money)).as("dv"))
      val w = Window.partitionBy("user_id").orderBy("day").rangeBetween(-6, 0)
      daily
        .withColumn("rolling_7d", sum("dv").over(w).cast("double"))
        .select(
          col("user_id"),
          col("day"),
          col("dv").cast("double").as("day_value"),
          col("rolling_7d")
        )
        .orderBy("user_id", "day")
    },
    Some(
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS dv
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, CAST(dv AS DOUBLE) AS day_value,
        |  CAST(SUM(dv) OVER (PARTITION BY user_id ORDER BY day
        |                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_7d
        |FROM daily ORDER BY user_id, day""".stripMargin
    )
  )

  /** Event-type transition matrix — first-order Markov sequence mining:
    * for each user-ordered (type → next-type) step, the corpus-wide count
    * and transition probability. The lead window shares the sessionize
    * exchange shape (one shuffle on user_id); the per-from-type totals are
    * a tiny reaggregation of the counted pairs (never a second pass over
    * events) broadcast back for the probability — which is ONE IEEE
    * division of exact longs, hash-stable. The matrix is
    * |event_type|²-bounded regardless of corpus size.
    */
  val nextEvent: Q = Q(
    "q_next_event",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val pairs = Tables(s, dir).events
        .select(
          col("user_id"),
          col("event_id"),
          col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us")
        )
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("cnt"))
      val totals = pairs.groupBy("from_type").agg(sum("cnt").as("total"))
      pairs
        .join(broadcast(totals), "from_type")
        .select(
          col("from_type"),
          col("to_type"),
          col("cnt"),
          (col("cnt").cast("double") / col("total")).as("p")
        )
        .orderBy("from_type", "to_type")
    },
    Some(
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |cnts AS (
        |  SELECT from_type, to_type, COUNT(*) AS cnt FROM pairs
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(cnt) AS BIGINT) AS total FROM cnts GROUP BY 1)
        |SELECT from_type, to_type, cnt, CAST(cnt AS DOUBLE) / total AS p
        |FROM cnts JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin
    )
  )

  /** Median-absolute-deviation outlier gate — the ROBUST companion to
    * [[zscore]]: median and MAD shrug off the very outliers that inflate a
    * mean/σ gate (one wild value can mask itself under z-scores; it cannot
    * move a median). Both medians are exact order statistics
    * (percentile_disc ≙ DuckDB quantile_disc — same smallest-value-at-
    * cum-p convention, proven by q_percentile's green row), so no
    * summation-order hazard exists at all; the deviations and the 1.4826
    * σ-consistency scaling are single IEEE ops on bit-identical doubles.
    * Plan: two aggregate passes over (event_type)-keyed rows with the
    * tiny per-type stats broadcast back between them — the same
    * one-exchange-plus-broadcast shape as zscore, just run twice.
    */
  val mad: Q = Q(
    "q_mad",
    (s, dir) => {
      val e = Tables(s, dir).events
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      val med = e
        .groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
      val dev = e
        .join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val madT = dev
        .groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").as("mad"))
      dev
        .join(broadcast(madT), "event_type")
        .select(
          col("event_id"),
          col("event_type"),
          col("value"),
          col("med"),
          col("mad"),
          (col("adev") > lit(3.5) * lit(1.4826) * col("mad")).as("is_outlier")
        )
        .orderBy("event_id")
    },
    Some(
      """WITH e AS (SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL),
        |med AS (SELECT event_type, quantile_disc(value, 0.5) AS med FROM e GROUP BY 1),
        |dev AS (SELECT e.*, med, abs(value - med) AS adev FROM e JOIN med USING (event_type)),
        |madt AS (SELECT event_type, quantile_disc(adev, 0.5) AS mad FROM dev GROUP BY 1)
        |SELECT event_id, d.event_type, value, d.med, m.mad,
        |  adev > 3.5 * 1.4826 * m.mad AS is_outlier
        |FROM dev d JOIN madt m USING (event_type)
        |ORDER BY event_id""".stripMargin
    )
  )

  /** Time-weighted average — the telemetry aggregate for irregularly
    * sampled step signals: each reading holds until the next one, so its
    * weight is its holding DURATION, not 1 (a plain mean over-weights
    * bursts). Per user: weight = lead(us) − us (integer micros; the last
    * open-ended reading is excluded — no duration exists for it),
    * twa = Σ(value·dur)/Σ(dur) with the numerator in exact decimals, so
    * the single final division is the only float op. Durations are
    * MILLISECOND-resolution (integer `div`, exact in both engines), and
    * zero-ms intervals are excluded: they carry no weight, and at
    * microsecond resolution a year-span user's Σ(value·dur) unscaled
    * value crosses 2^53 — the dsumExpr double-rounding hazard, observed
    * live on this query's first cut. One user_id exchange shared by the
    * window and the aggregate.
    */
  val timeWeightedAvg: Q = Q(
    "q_time_weighted_avg",
    (s, dir) => {
      Tables(s, dir).events
        .filter(col("value").isNotNull)
        .select(
          col("user_id"),
          col("event_id"),
          col("value"),
          unix_micros(col("ts").cast("timestamp")).as("us")
        )
        .withColumn("dur_ms", expr("(lead(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) - us) div 1000"))
        .filter(col("dur_ms").isNotNull && col("dur_ms") > 0)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_intervals"),
          sum("dur_ms").as("total_ms"),
          (dsumExpr(col("value").cast(Money) * col("dur_ms")) / sum("dur_ms")).as("twa")
        )
        .orderBy("user_id")
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, value,
        |    (lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |                              ORDER BY epoch_us(ts), event_id) - epoch_us(ts)) // 1000 AS dur_ms
        |  FROM events WHERE value IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n_intervals,
        |  CAST(SUM(dur_ms) AS BIGINT) AS total_ms,
        |  CAST(round(SUM(CAST(value AS DECIMAL(12,2)) * dur_ms), 2) AS DOUBLE)
        |    / CAST(SUM(dur_ms) AS BIGINT) AS twa
        |FROM e WHERE dur_ms IS NOT NULL AND dur_ms > 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin
    )
  )

  /** Per-session rows — the full sessionization PIPELINE ([[sessionize]]
    * stops at per-user counts): gap-detect (>5 min), assign session ids by
    * a running sum over the SAME window (no second exchange — the
    * cumulative frame reuses the lag's sort), then one aggregate to
    * (user, session) rows with span and size. Everything is integer
    * arithmetic on epoch micros; duration is ms-resolution integer `div`.
    * This is the table session-replay / engagement analytics reads
    * directly.
    */
  val sessionStats: Q = Q(
    "q_session_stats",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      sessionFlags(Tables(s, dir).events)
        .withColumn("session_id", sum("new_session").over(w))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          min("us").as("start_us"),
          max("us").as("end_us")
        )
        .withColumn("duration_ms", expr("(end_us - start_us) div 1000"))
        .orderBy("user_id", "session_id")
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 300000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sessions AS (
        |  SELECT user_id, us,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM e)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  CAST(MIN(us) AS BIGINT) AS start_us, CAST(MAX(us) AS BIGINT) AS end_us,
        |  (CAST(MAX(us) AS BIGINT) - CAST(MIN(us) AS BIGINT)) // 1000 AS duration_ms
        |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )
  )

  /** Lag-1 autocorrelation per event type — the "is this signal trending
    * or noise" time-series diagnostic: Pearson correlation of each value
    * with its predecessor in per-type time order. Exactly [[q_corr]]'s
    * exact-decimal moment discipline (scale-2 second-order sums; the
    * correlation itself is a fixed tree of single IEEE ops), fed by one
    * lag window — so the only exchanges are the per-type window sort and
    * the final tiny aggregate.
    */
  val autocorr: Q = Q(
    "q_autocorr",
    (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("us", "event_id")
      val x = col("prev").cast(Money)
      val y = col("value").cast(Money)
      Tables(s, dir).events
        .filter(col("value").isNotNull)
        .select(
          col("event_type"),
          col("event_id"),
          col("value"),
          unix_micros(col("ts").cast("timestamp")).as("us")
        )
        .withColumn("prev", lag("value", 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          Num.m2(x * x).as("sxx"),
          Num.m2(y * y).as("syy"),
          Num.m2(x * y).as("sxy")
        )
        .select(
          col("event_type"),
          col("n"),
          Num.pearson(col("n"), col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"))
            .as("lag1_corr")
        )
        .orderBy("event_type")
    },
    Some(
      s"""WITH e AS (
        |  SELECT event_type, value,
        |    lag(value) OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(prev AS DECIMAL(12,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sy,
        |    CAST(round(SUM(CAST(prev AS DECIMAL(12,2)) * CAST(prev AS DECIMAL(12,2))), 2) AS DOUBLE) AS sxx,
        |    CAST(round(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS syy,
        |    CAST(round(SUM(CAST(prev AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sxy
        |  FROM e WHERE prev IS NOT NULL GROUP BY 1)
        |SELECT event_type, n,
        |  ${Num.pearsonSql("n", "sx", "sy", "sxx", "syy", "sxy")} AS lag1_corr
        |FROM m ORDER BY event_type""".stripMargin
    )
  )

  /** k-anonymity audit with a generalization ladder — the privacy gate a
    * training pipeline runs before events-derived text/features enter a
    * corpus: for the quasi-identifier (event_type, time bucket), how many
    * equivalence classes fall below k=5 records at day, week, and month
    * granularity? The ladder is the point: a releasing pipeline picks the
    * FINEST granularity whose violation count is acceptable (generalize
    * up = fewer, larger classes), and this query emits the whole curve in
    * one pass — classes, minimum class size, violating classes, and total
    * rows at re-identification risk per level.
    *
    * Scale shape: ONE events scan into the day-grain class table (output is
    * |event_type|·|days| — metadata-sized at any corpus scale) which is
    * cached and re-aggregated up the ladder; week and month levels are
    * aggregates OF the day table, never a rescan. All counts are exact
    * integers; no window, no join, three partial+final aggregates whose
    * inputs are already tiny.
    */
  val kAnonymity: Q = Q(
    "q_k_anonymity",
    (s, dir) => {
      val k = 5L
      val base = graft.core.Cached.frame(
        Tables(s, dir).events
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
      )
      def audit(name: String, classes: org.apache.spark.sql.DataFrame) =
        classes.agg(
          count(lit(1)).as("n_classes"),
          min("n").as("min_size"),
          sum(when(col("n") < k, 1L).otherwise(0L)).as("n_violations"),
          sum(when(col("n") < k, col("n")).otherwise(0L)).as("rows_at_risk")
        ).select(
          lit(name).as("level"),
          col("n_classes"),
          col("min_size"),
          col("n_violations"),
          col("rows_at_risk")
        )
      val week = base
        .groupBy(col("event_type"), trunc(col("day"), "week").as("w"))
        .agg(sum("n").as("n"))
      val month = base
        .groupBy(col("event_type"), trunc(col("day"), "month").as("m"))
        .agg(sum("n").as("n"))
      audit("day", base.select("n"))
        .union(audit("week", week.select("n")))
        .union(audit("month", month.select("n")))
        .orderBy("level")
    },
    Some(
      """WITH base AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |wk AS (SELECT event_type, date_trunc('week', day) AS w,
        |              CAST(SUM(n) AS BIGINT) AS n FROM base GROUP BY 1, 2),
        |mo AS (SELECT event_type, date_trunc('month', day) AS m,
        |              CAST(SUM(n) AS BIGINT) AS n FROM base GROUP BY 1, 2),
        |lvl AS (
        |  SELECT 'day' AS level, n FROM base
        |  UNION ALL SELECT 'week', n FROM wk
        |  UNION ALL SELECT 'month', n FROM mo)
        |SELECT level, COUNT(*) AS n_classes, CAST(MIN(n) AS BIGINT) AS min_size,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk
        |FROM lvl GROUP BY level
        |ORDER BY level""".stripMargin
    )
  )

  /** Differentially-private contribution bounding audit (Wilson et al.
    * 2020, "Differentially Private SQL with Bounded User Contribution" —
    * the public Google DP-SQL design): before any DP noise can be
    * calibrated, each user's contribution to each aggregation group must
    * be CAPPED so one user's rows move the histogram by at most K — the
    * L∞ sensitivity bound the noise scale divides by. This query applies
    * the cap (K = 3 rows per user per (event_type, day) cell, keeping each
    * user's deterministic first K by event_id — production keeps a random
    * K-subset, which is just a different rank key) and emits the
    * per-cell audit a privacy reviewer signs off on: raw rows, kept rows,
    * dropped rows, contributing users, and the worst single-user
    * contribution before/after (the after-column must never exceed K —
    * asserted in EventsSpec). The companion k-anonymity ladder is
    * q_k_anonymity; this is the OTHER half of the DP prep pipeline.
    *
    * Scale shape: the rank is a window partitioned by (user_id,
    * event_type, day) — millions of small partitions, never a global
    * window; both audit aggregates reuse the same exchange keys
    * ((user, type, day) → (type, day) is a prefix reaggregation, so the
    * second groupBy is map-side-light). All integers; hash-exact.
    */
  val contributionCap: Q = Q(
    "q_contribution_cap",
    (s, dir) => {
      val k = 3L
      val w = Window
        .partitionBy(col("user_id"), col("event_type"), col("day"))
        .orderBy("event_id")
      val ranked = Tables(s, dir).events
        .select(
          col("event_id"),
          col("user_id"),
          col("event_type"),
          to_date(col("ts")).as("day")
        )
        .withColumn("rn", row_number().over(w).cast("long"))
      val perUser = ranked
        .groupBy("event_type", "day", "user_id")
        .agg(
          count(lit(1)).as("n_raw_u"),
          sum(when(col("rn") <= k, 1L).otherwise(0L)).as("n_kept_u")
        )
      perUser
        .groupBy("event_type", "day")
        .agg(
          sum("n_raw_u").as("n_raw"),
          sum("n_kept_u").as("n_kept"),
          sum(col("n_raw_u") - col("n_kept_u")).as("n_dropped"),
          count(lit(1)).as("n_users"),
          max("n_raw_u").as("max_user_raw"),
          max("n_kept_u").as("max_user_kept")
        )
        .orderBy("event_type", "day")
    },
    Some(
      """WITH ranked AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS day,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE)
        |                       ORDER BY event_id) AS rn
        |  FROM events),
        |pu AS (
        |  SELECT event_type, day, user_id, COUNT(*) AS n_raw_u,
        |    CAST(SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_u
        |  FROM ranked GROUP BY 1, 2, 3)
        |SELECT event_type, day,
        |  CAST(SUM(n_raw_u) AS BIGINT) AS n_raw,
        |  CAST(SUM(n_kept_u) AS BIGINT) AS n_kept,
        |  CAST(SUM(n_raw_u - n_kept_u) AS BIGINT) AS n_dropped,
        |  COUNT(*) AS n_users,
        |  CAST(MAX(n_raw_u) AS BIGINT) AS max_user_raw,
        |  CAST(MAX(n_kept_u) AS BIGINT) AS max_user_kept
        |FROM pu GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )
  )

  val all: Seq[Q] =
    Seq(eventsWindow, eventsJson, eventsJsonTyped, sessionize, rangeJoinFunnel, intervalJoinImpact,
      seqPattern, userGrowth, gapFill, locf,
      funnel, retention, latestByKey, ewma, zscore, eventsHopping, scd2, cmsTopk,
      rolling7d, nextEvent, mad, timeWeightedAvg, sessionStats, autocorr, kAnonymity,
      contributionCap)
}
