package graft


import graft.ops.TemporalJoins

/** Value + plan specs for the as-of join (q_asof_join's running window)
  * and the bucketized range and interval joins.
  */
class TemporalJoinsSpec extends SparkSpec {

  /** q_asof_join over an `events` table of `(event_id, user_id, ts
    * seconds, event_type)` rows: event_id → the last click's ts in
    * seconds, or -1 where no click precedes.
    */
  private def asOf(rows: Seq[(Long, Long, Long, String)]): Map[Long, Long] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val dir = java.nio.file.Files.createTempDirectory("graft-asof")
    try {
      rows.toDF("event_id", "user_id", "sec", "event_type")
        .select(col("event_id"), col("user_id"), timestamp_seconds(col("sec")).as("ts"), col("event_type"))
        .write
        .parquet(dir.resolve("events.parquet").toString)
      graft.queries.Registry.queries("q_asof_join")(spark, dir.toString)
        .collect()
        .map { r =>
          val last = r.getAs[java.time.LocalDateTime]("last_click_ts")
          r.getAs[Long]("event_id") -> (if (last == null) -1L else last.toEpochSecond(java.time.ZoneOffset.UTC))
        }
        .toMap
    } finally graft.ops.Sinks.deleteQuietly(dir)
  }

  test("asOfJoin picks the latest right row at or before each left ts") {
    // the as-of join q_asof_join runs: each event against the same user's
    // clicks, ordered by (ts, event_id)
    val got = asOf(Seq(
      (1L, 1L, 5L, "view"),   // before any click → none
      (2L, 1L, 10L, "click"), // a click sees itself
      (3L, 1L, 20L, "view"),  // at a later click's ts, but ordered before it → 10
      (4L, 1L, 20L, "click"),
      (5L, 1L, 20L, "view"),  // at the click's ts, ordered after it → 20
      (6L, 1L, 25L, "view"),  // between clicks 20 and 30 → 20
      (7L, 1L, 30L, "click"),
      (8L, 1L, 99L, "purchase"), // after all → 30
      (9L, 2L, 15L, "click"),
      (10L, 2L, 16L, "view"), // another user's clicks never leak in → 15
      (11L, 3L, 40L, "view")  // a user with no clicks → none
    ))
    assert(got == Map(1L -> -1L, 2L -> 10L, 3L -> 10L, 4L -> 20L, 5L -> 20L, 6L -> 20L, 7L -> 30L,
      8L -> 30L, 9L -> 15L, 10L -> 15L, 11L -> -1L))
  }

  test("asOfJoin equals the naive per-row maximum (property on random data)") {
    val rnd   = new scala.util.Random(11)
    val types = Seq("click", "view", "purchase")
    val rows = (1 to 300).map { i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(200).toLong, types(rnd.nextInt(types.size)))
    }
    val got = asOf(rows)
    assert(got.size == rows.size)
    // naive oracle computed driver-side: the latest click at or before
    // each event in (ts, event_id) order
    val clicks = rows.filter(_._4 == "click").groupBy(_._2)
    rows.foreach { case (id, user, ts, _) =>
      val expect = clicks
        .getOrElse(user, Seq())
        .filter(c => c._3 < ts || (c._3 == ts && c._1 <= id))
        .map(_._3)
        .maxOption
        .getOrElse(-1L)
      assert(got(id) == expect, s"event_id=$id user=$user ts=$ts")
    }
  }

  test("rangeJoin matches the naive theta join and plans no cartesian product") {
    import spark.implicits._
    val events = (0L until 500L).map(i => (i % 7, i * 3, i)).toDF("k", "ts", "eid")
    val intervals = Seq(
      (0L, 0L, 100L, "a"),
      (1L, 50L, 60L, "b"),
      (2L, 100L, 1000L, "c"),
      (0L, 90L, 120L, "d"),
      (6L, 0L, 1500L, "e")
    ).toDF("k", "s", "e", "tag")
    val bucketed = TemporalJoins.rangeJoin(events, intervals, "ts", "s", "e", bucketWidth = 64L, keys = Seq("k"))
    val naive = events
      .join(intervals, events("k") === intervals("k") && events("ts") >= intervals("s") && events("ts") < intervals("e"))
    assert(bucketed.count() == naive.count())
    val a = bucketed.select("eid", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = naive.select("eid", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("intervalJoin matches the naive overlap join exactly once per pair (multi-bucket spans)") {
    import spark.implicits._
    // left intervals deliberately span 0–20 buckets at width 64 so pairs
    // sharing MANY buckets pin the canonical-bucket single-match rule;
    // boundary-touching pairs (end == start) pin the half-open semantics
    val left = (0L until 200L)
      .map(i => (i % 5, i * 13, i * 13 + 1 + (i % 9) * 130, i))
      .toDF("k", "ls", "le", "lid")
    val right = Seq(
      (0L, 0L, 64L, "a"),
      (1L, 64L, 128L, "b"),     // exactly one bucket
      (2L, 10L, 1300L, "c"),    // spans ~20 buckets
      (3L, 63L, 65L, "d"),      // straddles a bucket edge
      (4L, 2599L, 2600L, "e"),  // tail
      (0L, 100L, 100L, "f")     // empty interval — matches nothing
    ).toDF("k", "rs", "re", "tag")
    val bucketed = TemporalJoins
      .intervalJoin(left, right, "ls", "le", "rs", "re", bucketWidth = 64L, keys = Seq("k"))
    // the naive reference must exclude empty intervals too: the pairwise
    // overlap predicate alone "matches" an empty interval it can't contain
    val naive = left
      .join(
        right.filter(right("rs") < right("re")),
        left("k") === right("k") && left("ls") < right("re") && right("rs") < left("le")
      )
    assert(bucketed.count() == naive.count(), "pair multiplicity diverges (dup or miss)")
    val a = bucketed.select("lid", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = naive.select("lid", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
