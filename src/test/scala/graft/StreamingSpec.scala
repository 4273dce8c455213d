package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The two registered-query bodies that also run under Structured
  * Streaming via MemoryStream: the frozen-quantizer ingest behind
  * q_ann_incremental and the count-min counters behind the CMS queries.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double): StreamingSpec.Event =
    StreamingSpec.Event(id, ts(t), user, typ, v)

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
    val input = MemoryStream[StreamingSpec.Event]
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
}

object StreamingSpec {
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
}
