package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Streaming semantics via MemoryStream: watermark-driven window closure,
  * late-data handling, session windows, and custom keyed state.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double): Event =
    Event(id, ts(t), user, typ, v)

  test("hourly windowed counts close on watermark and drop too-late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream
      .hourlyCounts(input.toDF())
      .writeStream
      .format("memory")
      .queryName("hourly")
      .outputMode(OutputMode.Append)
      .start()
    try {
      input.addData(
        ev(1, "2026-01-01 10:05:00", 1, "click", 1.0),
        ev(2, "2026-01-01 10:40:00", 2, "click", 2.0),
        ev(3, "2026-01-01 10:59:00", 1, "view", 3.0)
      )
      q.processAllAvailable()
      // advance the watermark past 11:10 so the 10:00 window closes
      input.addData(ev(4, "2026-01-01 11:30:00", 3, "click", 4.0))
      q.processAllAvailable()
      // an event for the closed 10:00 window arrives too late → dropped
      input.addData(ev(5, "2026-01-01 10:01:00", 9, "click", 99.0))
      q.processAllAvailable()
      // one more watermark bump to flush
      input.addData(ev(6, "2026-01-01 13:00:00", 3, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM hourly ORDER BY win_start, event_type").collect()
      val tenOClock = rows.filter(_.getTimestamp(0) == ts("2026-01-01 10:00:00"))
      assert(tenOClock.map(r => (r.getString(1), r.getLong(2))).toSeq == Seq(("click", 2L), ("view", 1L)))
      // the late event (id=5) must NOT appear: click count stays 2
      assert(tenOClock.find(_.getString(1) == "click").get.getLong(2) == 2L)
    } finally q.stop()
  }

  test("streaming media ingest: featurePixels runs per-micro-batch and agrees with batch") {
    import spark.implicits._
    import graft.ext.{ImageCodec, Multimodal}
    implicit val sqlCtx = spark.sqlContext
    // the multimodal stages are stateless mapPartitions transforms, so the
    // same code runs unchanged over a stream — the media-ingest analog of
    // the relational batch/streaming duals in this suite
    def rec(id: Long): Multimodal.MediaRecord = {
      val w = 4 + (id % 5).toInt
      val h = 3 + (id % 4).toInt
      val px = Array.tabulate(w * h * 3)(i => ((i * 13 + id * 7) % 256).toByte)
      Multimodal.MediaRecord(id, "image", ImageCodec.encodePng(w, h, 3, px))
    }
    val input = MemoryStream[Multimodal.MediaRecord]
    val q = Multimodal
      .featurePixels(input.toDS())
      .writeStream
      .format("memory")
      .queryName("media_feats")
      .outputMode(OutputMode.Append)
      .start()
    val all = (1L to 40L).map(rec)
    try {
      input.addData(all.take(25): _*)
      q.processAllAvailable()
      input.addData(all.drop(25): _*)
      q.processAllAvailable()
      val streamed = spark
        .sql("SELECT id, feature FROM media_feats ORDER BY id")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .toSeq
      assert(streamed.size == 40)
      val batch = Multimodal
        .featurePixels(all.toDS())
        .collect()
        .sortBy(_.id)
        .map(m => (m.id, m.feature.toSeq))
        .toSeq
      assert(streamed == batch, "streaming features diverge from batch")
    } finally q.stop()
  }

  test("streaming latest-by-key upserts across micro-batches and agrees with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream
      .latestByKey(input.toDF())
      .writeStream
      .format("memory")
      .queryName("latest")
      .outputMode(OutputMode.Complete)
      .start()
    val batch1 = Seq(
      ev(1, "2026-01-01 10:00:00", 1, "view", 0),
      ev(2, "2026-01-01 10:05:00", 2, "click", 0),
      ev(3, "2026-01-01 10:01:00", 1, "click", 0)
    )
    // a LATER micro-batch overrides user 1 and ties user 2 on ts (higher
    // event_id must win)
    val batch2 = Seq(
      ev(9, "2026-01-01 11:00:00", 1, "purchase", 0),
      ev(8, "2026-01-01 10:05:00", 2, "error", 0)
    )
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark
        .sql("SELECT user_id, event_id, event_type FROM latest ORDER BY user_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq
      assert(streamed == Seq((1L, 9L, "purchase"), (2L, 8L, "error")))
      // batch/streaming agreement: the same transform over the union of
      // all batches as a plain DataFrame yields the same snapshot
      val batch = EventStream
        .latestByKey((batch1 ++ batch2).toDF())
        .orderBy("user_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
        .toSeq
      assert(batch == streamed)
    } finally q.stop()
  }

  test("session windows split on the 5-minute gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream
      .sessionCounts(input.toDF())
      .writeStream
      .format("memory")
      .queryName("sessions")
      .outputMode(OutputMode.Append)
      .start()
    try {
      input.addData(
        ev(1, "2026-01-01 10:00:00", 1, "a", 0),
        ev(2, "2026-01-01 10:03:00", 1, "a", 0), // same session (3 min gap)
        ev(3, "2026-01-01 10:20:00", 1, "a", 0)  // new session (17 min gap)
      )
      q.processAllAvailable()
      input.addData(ev(9, "2026-01-01 12:00:00", 2, "a", 0)) // watermark flush
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT user_id, n_events FROM sessions WHERE user_id = 1 ORDER BY session_start")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq == Seq((1L, 2L), (1L, 1L)))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-user totals across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream
      .runningTotals(input.toDS())
      .writeStream
      .format("memory")
      .queryName("running")
      .outputMode(OutputMode.Update)
      .start()
    try {
      input.addData(ev(1, "2026-01-01 10:00:00", 1, "a", 1.5), ev(2, "2026-01-01 10:01:00", 1, "a", 2.5))
      q.processAllAvailable()
      input.addData(ev(3, "2026-01-01 10:02:00", 1, "a", 1.0), ev(4, "2026-01-01 10:02:30", 2, "a", 7.0))
      q.processAllAvailable()
      val byUser = spark
        .sql("SELECT user_id, max(n_events), max(total_value) FROM running GROUP BY user_id ORDER BY user_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(byUser.toSeq == Seq((1L, 3L, 5.0), (2L, 1L, 7.0)))
    } finally q.stop()
  }

  test("firstSeen emits on min-day decrease only; final state agrees with batch min") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream
      .firstSeen(input.toDS())
      .writeStream
      .format("memory")
      .queryName("first_seen")
      .outputMode(OutputMode.Update)
      .start()
    val batch1 = Seq(
      ev(1, "2026-01-03 10:00:00", 1, "view", 0),
      ev(2, "2026-01-03 11:00:00", 2, "view", 0)
    )
    // user 1 returns (no emission), user 2 arrives OUT OF ORDER with an
    // earlier day (min decreases -> re-emission), user 3 is brand new
    val batch2 = Seq(
      ev(3, "2026-01-04 09:00:00", 1, "click", 0),
      ev(4, "2026-01-01 08:00:00", 2, "view", 0),
      ev(5, "2026-01-05 12:00:00", 3, "view", 0)
    )
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      val afterB1 = spark.sql("SELECT COUNT(*) FROM first_seen").collect()(0).getLong(0)
      assert(afterB1 == 2L, "both new users must emit in batch 1")
      input.addData(batch2: _*)
      q.processAllAvailable()
      // emissions: 2 (batch1) + user2 correction + user3 = 4; user 1's
      // return must NOT re-emit
      val emitted = spark.sql("SELECT COUNT(*) FROM first_seen").collect()(0).getLong(0)
      assert(emitted == 4L, s"expected 4 emissions, got $emitted")
      // last emission per user == batch min(day) over the union
      val streamed = spark
        .sql(
          """SELECT user_id, MIN(first_day) FROM first_seen
            |GROUP BY user_id ORDER BY user_id""".stripMargin
        )
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
      val batch = (batch1 ++ batch2)
        .groupBy(_.user_id)
        .map { case (u, es) => (u, es.map(e => Math.floorDiv(e.ts.getTime, 86400000L)).min) }
        .toSeq
        .sorted
      assert(streamed == batch, "streaming min-day state diverged from the batch min")
    } finally q.stop()
  }

  test("transformWithState v2 keeps running totals on the RocksDB store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    val input = MemoryStream[Event]
    val q = EventStream
      .runningTotalsV2(input.toDS())
      .writeStream
      .format("memory")
      .queryName("running_v2")
      .outputMode(OutputMode.Update)
      .start()
    try {
      input.addData(ev(1, "2026-01-01 10:00:00", 1, "a", 1.5), ev(2, "2026-01-01 10:01:00", 1, "a", 2.5))
      q.processAllAvailable()
      input.addData(ev(3, "2026-01-01 10:02:00", 1, "a", 1.0), ev(4, "2026-01-01 10:02:30", 2, "a", 7.0))
      q.processAllAvailable()
      val byUser = spark
        .sql("SELECT user_id, max(n_events), max(total_value) FROM running_v2 GROUP BY user_id ORDER BY user_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(byUser.toSeq == Seq((1L, 3L, 5.0), (2L, 1L, 7.0)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dedup drops in-watermark duplicate event_ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream
      .dedupedEvents(input.toDF())
      .writeStream
      .format("memory")
      .queryName("deduped")
      .outputMode(OutputMode.Append)
      .start()
    try {
      input.addData(
        ev(1, "2026-01-01 10:00:00", 1, "a", 1.0),
        ev(1, "2026-01-01 10:00:30", 1, "a", 1.0), // duplicate id, in horizon
        ev(2, "2026-01-01 10:01:00", 2, "a", 2.0)
      )
      q.processAllAvailable()
      input.addData(ev(1, "2026-01-01 10:02:00", 1, "a", 1.0)) // still dup
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM deduped").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-static join enriches events with the static dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim   = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val q = EventStream
      .enriched(input.toDF(), dim, "user_id")
      .writeStream
      .format("memory")
      .queryName("enriched")
      .outputMode(OutputMode.Append)
      .start()
    try {
      input.addData(
        ev(1, "2026-01-01 10:00:00", 1, "a", 1.0),
        ev(2, "2026-01-01 10:00:10", 2, "b", 2.0),
        ev(3, "2026-01-01 10:00:20", 9, "c", 3.0) // no dim row → null tier (left join)
      )
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT event_id, tier FROM enriched ORDER BY event_id")
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      assert(rows.toSeq == Seq((1L, "gold"), (2L, "basic"), (3L, null)))
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks to in-horizon views only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream
      .viewClickFunnel(input.toDF())
      .writeStream
      .format("memory")
      .queryName("funnel")
      .outputMode(OutputMode.Append)
      .start()
    try {
      input.addData(
        ev(1, "2026-01-01 10:00:00", 1, "view", 0.0),
        ev(2, "2026-01-01 10:04:00", 1, "click", 0.0), // +4 min  → joins
        ev(3, "2026-01-01 10:20:00", 1, "click", 0.0), // +20 min → outside horizon
        ev(4, "2026-01-01 10:00:00", 2, "view", 0.0),
        ev(5, "2026-01-01 10:05:00", 3, "click", 0.0)  // other user → no join
      )
      q.processAllAvailable()
      // advance both watermarks so joined results flush in append mode
      input.addData(
        ev(6, "2026-01-01 11:00:00", 9, "view", 0.0),
        ev(7, "2026-01-01 11:00:00", 9, "click", 0.0)
      )
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT user_id, view_id, click_id FROM funnel WHERE user_id = 1")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, 1L, 2L)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("batch and streaming viewClickFunnel agree on the same data") {
    import spark.implicits._
    val batch = Seq(
      ev(1, "2026-01-01 10:00:00", 1, "view", 0.0),
      ev(2, "2026-01-01 10:04:00", 1, "click", 0.0),
      ev(3, "2026-01-01 10:20:00", 1, "click", 0.0),
      ev(4, "2026-01-01 10:10:30", 1, "view", 0.0) // click id=3 is +9:30 after → joins
    ).toDF()
    val got = EventStream
      .viewClickFunnel(batch)
      .select("user_id", "view_id", "click_id")
      .orderBy("view_id", "click_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 2L), (1L, 4L, 3L)))
  }

  test("streaming ingest gate flags near-dups of the seen corpus, stateless append") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val seen = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different text about spark streaming state")
    ).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val gate = graft.ext.Dedup.streamingIngestGate(
      input.toDF().toDF("doc_id", "text"),
      seen,
      threshold = 0.5
    )
    assert(gate.isStreaming)
    val q = gate.writeStream
      .format("memory")
      .queryName("ingest_gate")
      .outputMode(OutputMode.Append) // works ONLY because every stage is stateless
      .start()
    try {
      input.addData(
        (100L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of seen 1
        (101L, "some brand new unique document with novel wording here")
      )
      q.processAllAvailable()
      input.addData(
        (102L, "completely different text about spark streaming state") // dup of seen 2, later batch
      )
      q.processAllAvailable()
      val flagged = spark
        .sql("SELECT DISTINCT new_id, dup_of FROM ingest_gate")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(flagged == Set((100L, 1L), (102L, 2L)), s"got $flagged")
    } finally q.stop()
  }

  test("streaming frozen-model quality scoring agrees with the q_quality_incremental batch dual") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the registered batch query: train on doc_id < 400, score the rest
    val batch = graft.queries.Registry
      .queries("q_quality_incremental")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getInt(4)))
      .toMap
    // the SAME frozen artifact the batch path trains, served over a stream
    val (weights, prior) = graft.queries.TextQueries.frozenQualityModel(spark, sf)
    val newDocs = spark.read
      .parquet(s"$sf/documents.parquet")
      .filter($"doc_id" >= 400)
      .select($"doc_id", $"text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSeq
    val input = MemoryStream[(Long, String)]
    val gate =
      graft.queries.TextQueries.scoreFrozen(input.toDF().toDF("doc_id", "text"), weights, prior)
    assert(gate.isStreaming, "scoreFrozen must stay a streaming frame over a streaming input")
    val q = gate.writeStream
      .format("memory")
      .queryName("quality_gate")
      .outputMode(OutputMode.Append) // legal ONLY because scoring is stateless per row
      .start()
    try {
      // two micro-batches so agreement covers the batch boundary
      input.addData(newDocs.take(40): _*)
      q.processAllAvailable()
      input.addData(newDocs.drop(40): _*)
      q.processAllAvailable()
      val streamed = spark
        .sql("SELECT doc_id, score, n_oov, pred FROM quality_gate")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3)))
        .toMap
      assert(streamed.keySet == batch.keySet, "streamed doc set diverges from batch")
      val diverged = streamed.collect { case (id, v) if batch(id) != v => (id, v, batch(id)) }
      assert(diverged.isEmpty, s"frozen-model stream/batch divergence: ${diverged.take(5)}")
    } finally q.stop()
  }

  test("streaming frozen-quantizer ingest agrees with the q_ann_incremental batch dual") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val batch = graft.queries.Registry
      .queries("q_ann_incremental")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2)))
      .toMap
    val centroids = graft.ext.Ivf.frozenQuantizer(spark, sf)
    val newVecs = spark.read
      .parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" >= graft.ext.Ivf.IncrSeenMax)
      .select($"vec_id", $"embedding")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toSeq
    val input = MemoryStream[(Long, Array[Float])]
    val ingest =
      graft.ext.Ivf.streamingIngest(input.toDF().toDF("vec_id", "embedding"), centroids)
    assert(ingest.isStreaming, "streamingIngest must stay a streaming frame over a streaming input")
    val q = ingest.writeStream
      .format("memory")
      .queryName("ann_ingest")
      .outputMode(OutputMode.Append) // zero joins, zero state: per-row assignment only
      .start()
    try {
      input.addData(newVecs.take(60): _*)
      q.processAllAvailable()
      input.addData(newVecs.drop(60): _*)
      q.processAllAvailable()
      val streamed = spark
        .sql("SELECT vec_id, cid, d2 FROM ann_ingest")
        .collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2)))
        .toMap
      assert(streamed.keySet == batch.keySet, "streamed vec set diverges from batch")
      val diverged = streamed.collect { case (id, v) if batch(id) != v => (id, v, batch(id)) }
      assert(diverged.isEmpty, s"frozen-quantizer stream/batch divergence: ${diverged.take(5)}")
    } finally q.stop()
  }

  test("CMS counters accumulate across micro-batches and equal the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = graft.queries.EventQueries
      .cmsCounters(input.toDF())
      .writeStream
      .format("memory")
      .queryName("cms")
      .outputMode(OutputMode.Complete)
      .start()
    val batch1 = Seq(
      ev(1, "2026-01-01 10:00:00", 1, "view", 0),
      ev(2, "2026-01-01 10:01:00", 2, "click", 0),
      ev(3, "2026-01-01 10:02:00", 1, "click", 0)
    )
    val batch2 = Seq(
      ev(4, "2026-01-01 11:00:00", 3, "view", 0),
      ev(5, "2026-01-01 11:01:00", 1, "purchase", 0)
    )
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark
        .sql("SELECT h, bucket, c FROM cms ORDER BY h, bucket")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSeq
      // counter addition across micro-batches IS the CMS merge: the
      // streamed sketch over two batches must equal the batch sketch over
      // their union — the property that lets per-day/per-shard sketches
      // combine at 100 TB without touching raw rows again
      val batch = graft.queries.EventQueries
        .cmsCounters((batch1 ++ batch2).toDF())
        .orderBy("h", "bucket")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSeq
      assert(streamed == batch)
      assert(streamed.map(_._3).sum == 5L * graft.queries.EventQueries.CmsDepth)
    } finally q.stop()
  }

  test("hopping windows replicate each event into its 2-3 overlapping windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // both events sit in the first 5 minutes of their hop bucket, so each
    // lands in all 3 candidate windows: 10:12 ∈ {09:50(→10:15),
    // 10:00(→10:25), 10:10(→10:35)}; 10:21 ∈ {10:00, 10:10, 10:20}
    val batch1 = Seq(ev(1, "2026-01-01 10:12:00", 1, "click", 1.0))
    val batch2 = Seq(ev(2, "2026-01-01 10:21:00", 2, "click", 2.0))
    // run as a REAL streaming query (MemoryStream, two micro-batches) so
    // the 3x overlapping-window state replication executes under the
    // streaming engine, not just the batch planner
    val input = MemoryStream[Event]
    val q = EventStream
      .hoppingCounts(input.toDF())
      .writeStream
      .format("memory")
      .queryName("hopping")
      .outputMode(OutputMode.Complete)
      .start()
    val got =
      try {
        input.addData(batch1: _*)
        q.processAllAvailable()
        input.addData(batch2: _*)
        q.processAllAvailable()
        spark
          .sql("SELECT win_start, event_type, cnt, sum_value FROM hopping ORDER BY win_start, event_type")
          .collect()
          .map(r => (r.getTimestamp(0), r.getLong(2), r.getDouble(3)))
      } finally q.stop()
    val batch = (batch1 ++ batch2).toDF()
    // expected window starts: 09:50{e1}, 10:00{e1,e2}, 10:10{e1,e2}, 10:20{e2}
    assert(
      got.toSeq == Seq(
        (ts("2026-01-01 09:50:00"), 1L, 1.0),
        (ts("2026-01-01 10:00:00"), 2L, 3.0),
        (ts("2026-01-01 10:10:00"), 2L, 3.0),
        (ts("2026-01-01 10:20:00"), 1L, 2.0)
      ),
      got.mkString(", ")
    )
    // agreement with the batch dual's integer-epoch arithmetic: same
    // (win_start, cnt) multiset once timestamps map to epoch micros
    val dual = graft.queries.EventQueries.eventsHopping
    val tmp  = java.nio.file.Files.createTempDirectory("hop").toString
    // the fixture contract stores ts as NANOS-since-epoch longs (TESTDATA
    // parquet is TIMESTAMP(NANOS); Tables.nanosToTimestamp re-derives the
    // timestamp) — mimic it so the registered query reads the temp dir
    // exactly like a fixture dir
    batch
      .withColumn("ts", org.apache.spark.sql.functions.expr("unix_micros(cast(ts as timestamp)) * 1000"))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write
      .mode("overwrite")
      .parquet(s"$tmp/events.parquet")
    val batchRows = dual
      .fn(spark, tmp)
      .collect()
      .map(r => (r.getLong(0) / 1000000L, r.getLong(2)))
      .toSet
    val streamRows = got.map { case (t, c, _) => (t.getTime / 1000L, c) }.toSet
    assert(batchRows == streamRows, s"batch=$batchRows stream=$streamRows")
  }

  test("parquet sink + checkpoint recovers exactly-once from a crash between sink and offset commit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the production crash window FileStreamSink exists to survive: batch N's
    // files are written and recorded in the sink's _spark_metadata log, but
    // the process dies BEFORE the checkpoint commit marker lands. On restart
    // the engine re-executes batch N; the sink must recognize it as already
    // committed and skip it — duplicates in the output would mean the
    // "exactly-once via checkpoint + idempotent files" contract is broken.
    val dir   = java.nio.file.Files.createTempDirectory("graft-eos").toFile.getAbsolutePath
    val out   = s"$dir/out"
    val chk   = s"$dir/chk"
    val input = MemoryStream[Event]
    def start() =
      EventStream.writeParquet(input.toDF().select($"event_id", $"user_id", $"value"), out, chk)

    val q1 = start()
    try {
      input.addData(
        ev(1, "2026-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2026-01-01 10:01:00", 2, "view", 2.0),
        ev(3, "2026-01-01 10:02:00", 1, "click", 3.0)
      )
      q1.processAllAvailable()
    } finally q1.stop()

    // simulate the crash: offsets/0 and the sink's _spark_metadata/0 exist,
    // the commits/0 marker is lost
    val commits = new java.io.File(s"$chk/commits").listFiles().filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty, "no committed batches to damage")
    val latest = commits.maxBy(_.getName.toLong)
    assert(latest.delete(), s"could not remove ${latest.getPath}")
    // the local checksum FS shadows every log file with a .N.crc; a stale
    // one makes the recovery rewrite collide and misreport a concurrent query
    val crc = new java.io.File(latest.getParentFile, s".${latest.getName}.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try {
      q2.processAllAvailable() // re-executes the damaged batch; sink must skip
      input.addData(ev(4, "2026-01-01 10:05:00", 3, "purchase", 4.0))
      q2.processAllAvailable()
    } finally q2.stop()

    // no duplicates, no loss: exactly the four source events survive, and
    // the recovered output equals the batch dual of the same projection
    val got = spark.read.parquet(out).select($"event_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L), s"recovered output: $got")
    val batchDual = Seq(
      ev(1, "2026-01-01 10:00:00", 1, "click", 1.0),
      ev(2, "2026-01-01 10:01:00", 2, "view", 2.0),
      ev(3, "2026-01-01 10:02:00", 1, "click", 3.0),
      ev(4, "2026-01-01 10:05:00", 3, "purchase", 4.0)
    ).toDF().select($"event_id", $"user_id", $"value").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val recovered = spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(recovered == batchDual, s"recovered=$recovered batch=$batchDual")
  }

  test("streaming daily MV rollup finalizes days on watermark and agrees with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream
      .dailyRollup(input.toDF())
      .writeStream
      .format("memory")
      .queryName("mv_daily")
      .outputMode(OutputMode.Append)
      .start()
    val day1 = Seq(
      ev(1, "2026-01-01 10:05:00", 1, "click", 1.25),
      ev(2, "2026-01-01 18:40:00", 2, "click", 2.50),
      ev(3, "2026-01-01 23:59:00", 1, "view", 3.00)
    )
    try {
      input.addData(day1: _*)
      q.processAllAvailable()
      // nothing finalized yet: watermark has not passed Jan 1's window end
      assert(spark.sql("SELECT * FROM mv_daily").count() == 0)
      // advance the watermark past Jan 2 (wm = max ts - 1 day) → Jan 1 closes
      input.addData(ev(4, "2026-01-03 01:00:00", 3, "click", 4.0))
      q.processAllAvailable()
      input.addData(ev(5, "2026-01-04 01:00:00", 3, "click", 4.0))
      q.processAllAvailable()
      val got = spark
        .sql("SELECT event_type, day, n_events, sum_value FROM mv_daily ORDER BY event_type, day")
        .collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getDouble(3)))
        .toSeq
      // batch dual over the SAME rows: the oracle-certified q_mv_refresh grain
      val expected = EventStream
        .dailyRollup(day1.toDF())
        .orderBy("event_type", "day")
        .collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(expected == Seq(
        ("click", "2026-01-01", 2L, 3.75),
        ("view", "2026-01-01", 1L, 3.00)
      ))
      assert(got == expected, s"streaming $got != batch $expected")
    } finally q.stop()
  }

  test("batch and streaming hourlyCounts agree on the same data") {
    import spark.implicits._
    val batch = Seq(
      ev(1, "2026-01-01 10:05:00", 1, "click", 1.0),
      ev(2, "2026-01-01 10:40:00", 2, "click", 2.0),
      ev(3, "2026-01-01 11:15:00", 1, "view", 3.0)
    ).toDF()
    val got = EventStream
      .hourlyCounts(batch)
      .orderBy("win_start", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(
      got.toSeq == Seq(
        (ts("2026-01-01 10:00:00"), "click", 2L, 3.0),
        (ts("2026-01-01 11:00:00"), "view", 1L, 3.0)
      )
    )
  }

  test("streaming stage-1 clean ingest chains into the near-dup gate and agrees with the batch duals") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf   = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the already-accepted corpus: batch stage 1 over the first 400 docs
    // (the s1_clean artifact a production deployment would hold)
    val seenClean = graft.queries.Pipeline.cleanStage(docs.filter($"doc_id" < 400)).cache()
    val newRows = docs
      .filter($"doc_id" >= 400)
      .select($"doc_id", $"source", $"lang", $"text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSeq
    // batch dual of the incremental admission: the same per-row gate, then
    // fingerprint-not-already-accepted (within-stream dups admitted by
    // contract — see streamingCleanIngest's scaladoc)
    val expectedAdmitted = docs
      .filter($"doc_id" >= 400)
      .filter(graft.queries.Pipeline.cleanGate)
      .join(
        seenClean.select(graft.queries.Fingerprint.of(col("text")).as("fp")).distinct(),
        graft.queries.Fingerprint.of(docs("text")) === col("fp"),
        "left_anti"
      )
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(expectedAdmitted.nonEmpty, "batch dual admitted nothing — weak fixture split")
    assert(
      expectedAdmitted.size < newRows.size,
      "batch dual admitted everything — the gates never engaged"
    )

    val input    = MemoryStream[(Long, String, String, String)]
    val admitted = graft.queries.Pipeline.streamingCleanIngest(
      input.toDF().toDF("doc_id", "source", "lang", "text"),
      seenClean
    )
    // the CHAIN: admitted docs flow straight into the near-dup flagger —
    // clean → exact-drop → near-dup-flag as one composed streaming pipeline
    val flagged = graft.ext.Dedup.streamingIngestGate(admitted, seenClean, 0.2)
    assert(admitted.isStreaming && flagged.isStreaming)
    val q1 = admitted.writeStream.format("memory").queryName("s1_admit")
      .outputMode(OutputMode.Append).start()
    val q2 = flagged.writeStream.format("memory").queryName("s1_flag")
      .outputMode(OutputMode.Append).start()
    try {
      // two micro-batches so agreement covers the batch boundary
      val half = newRows.size / 2
      input.addData(newRows.take(half): _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      input.addData(newRows.drop(half): _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      val gotAdmitted =
        spark.sql("SELECT doc_id FROM s1_admit").collect().map(_.getLong(0)).toSet
      assert(
        gotAdmitted == expectedAdmitted,
        s"admitted set diverges: missing=${expectedAdmitted -- gotAdmitted} extra=${gotAdmitted -- expectedAdmitted}"
      )
      // batch replay of the chained near-dup flags over the admitted docs:
      // same band-candidate + exact-Jaccard semantics, batch engine
      val newSide = docs
        .filter($"doc_id".isin(expectedAdmitted.toSeq: _*))
        .select("doc_id", "text")
      def sets(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"),
        array_distinct(
          graft.ext.Dedup.shingles3(graft.ext.Dedup.tokens(col("text")))
        ).as("s")
      )
      val nb = graft.ext.Dedup.bands(graft.ext.Dedup.signatures(newSide))
        .select(col("doc_id").as("new_id"), col("band_id"), col("band_val"))
      val sb = graft.ext.Dedup
        .bands(graft.ext.Dedup.signatures(seenClean.select("doc_id", "text")))
        .select(col("doc_id").as("dup_of"), col("band_id"), col("band_val"))
      val expectedFlags = nb
        .join(sb, Seq("band_id", "band_val"))
        .select("new_id", "dup_of")
        .distinct()
        .join(sets(newSide).select(col("doc_id").as("new_id"), col("s").as("s1")), "new_id")
        .join(
          sets(seenClean.select("doc_id", "text"))
            .select(col("doc_id").as("dup_of"), col("s").as("s2")),
          "dup_of"
        )
        .filter(
          size(array_intersect(col("s1"), col("s2"))).cast("double") /
            size(array_union(col("s1"), col("s2"))) >= 0.2
        )
        .select("new_id", "dup_of")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val gotFlags = spark
        .sql("SELECT DISTINCT new_id, dup_of FROM s1_flag")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(
        gotFlags == expectedFlags,
        s"chained flags diverge: missing=${expectedFlags -- gotFlags} extra=${gotFlags -- expectedFlags}"
      )
      info(s"admitted ${gotAdmitted.size}/${newRows.size} new docs; ${gotFlags.size} near-dup flags")
    } finally { q1.stop(); q2.stop(); seenClean.unpersist(): Unit }
  }
}
