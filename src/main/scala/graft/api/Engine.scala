package graft.api

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, ExecutionContextExecutorService, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.ops.{GroupStage, MapStage, ReduceStage, Sinks}
import graft.sources.LineSource

/** The reference's job-server surface (O8/O12) on Spark: submit a
  * [[JobSpec]], it runs the three-stage dataflow
  *
  *   local line source → map + combine (fused wc kernel | flatMap | pipe)
  *   → group (shuffle, sort) → reduce (mapPartitions | pipe) → outputfileNN sink
  *
  * Both ends are local paths, as in the reference: the input is read
  * through java.nio ([[graft.sources.LineSource]], Hadoop's splits and
  * line breaks without a Hadoop `FileSystem`), and each reduce task writes
  * its own `outputfileNN`. Each map task counts its own output
  * ([[graft.ops.MapStage.counted]]; native `wc_map` runs fused with that
  * count), and from map to reduce the job passes the counted stream
  * `(line, count)` ([[graft.ops.GroupStage.counted]]): a word count's
  * `token\t1` lines cost one shuffle record per distinct token per mapper,
  * native reducers read the counts, and only a piped reducer sees the
  * lines re-emitted `count` times.
  *
  * Jobs run strictly FIFO, one at a time — the reference queues new jobs
  * while BUSY (`/root/reference/mapreduce/manager/__main__.py:278-291`) —
  * on a single-threaded executor, so `submit` is async like the
  * reference's TCP submit and `await` is the client's join. Worker
  * membership, heartbeats, dead-task reassignment and shutdown (reference
  * O9-O11) are subsumed by Spark's scheduler/executor liveness machinery;
  * `close()` mirrors the manager's shutdown fan-out by draining the job
  * queue, and stops the session only when this Engine owns it
  * (`ownsSession`).
  *
  * `parityMode` selects the golden-parity rank-mod group router instead of
  * the scalable hash router ([[graft.ops.GroupStage.counted]] takes the
  * same flag); both count identical lines. Lines reach the router without
  * their terminators, so an input that ends mid-line routes its last line
  * as if it were terminated, as Hadoop's TextInputFormat reads it.
  */
final class Engine(spark: SparkSession, parityMode: Boolean = false, ownsSession: Boolean = false)
    extends AutoCloseable {

  private val jobIds                                = new AtomicInteger(0)
  private val pool: ExecutionContextExecutorService =
    ExecutionContext.fromExecutorService(Executors.newSingleThreadExecutor())

  /** Run one job synchronously (the internal path; `submit` queues this). */
  def runJob(spec: JobSpec): JobResult = {
    val jobId   = jobIds.getAndIncrement()
    val t0      = System.nanoTime()
    val lines   = LineSource(spark.sparkContext, spec.inputDirectory, spec.numMappers)
    val counts  = MapStage.counted(lines, spec.mapperExecutable)
    val grouped = GroupStage.counted(counts, spec.numReducers, parityMode)
    val reduced = ReduceStage.counted(grouped, spec.reducerExecutable)
    JobResult(jobId, Sinks.outputFiles(reduced, spec.outputDirectory), t0, System.nanoTime())
  }

  /** Queued asynchronous submission (reference `new_manager_job`), strict FIFO. */
  def submit(spec: JobSpec): Future[JobResult] = Future(runJob(spec))(pool)

  /** Queued library-dataflow stage job — the same FIFO queue and job ids
    * as [[submit]], with a Spark action as the payload instead of
    * executable map/reduce stages (the reference's manager queues any job
    * payload FIFO; `graft.queries.Pipeline`'s chained curation DAG is the
    * production consumer: each stage job reads the previous job's parquet
    * artifact, so queue order IS the dependency order). The body returns
    * the artifact paths it wrote, reported back through
    * [[JobResult.outputFiles]].
    */
  def submitStage(body: SparkSession => Seq[String]): Future[JobResult] =
    Future {
      val jobId = jobIds.getAndIncrement()
      val t0    = System.nanoTime()
      JobResult(jobId, body(spark), t0, System.nanoTime())
    }(pool)

  /** Block until every job queued so far has finished: a marker queued
    * behind them completes only after they do. Failed jobs count as
    * finished (their Futures carry the failure for the submitter);
    * `timeoutSec` bounds the total wait. After [[close]] the queue is
    * already drained, so this returns at once.
    */
  def await(timeoutSec: Long = 600): Unit =
    if (!pool.isShutdown) Await.ready(Future.unit.map(identity)(pool), Duration(timeoutSec, TimeUnit.SECONDS)): Unit

  override def close(): Unit = {
    // drain queued/in-flight jobs before tearing down the context —
    // stop()ing mid-job would fail their Futures and leave half-written
    // output directories
    pool.shutdown()
    val drained = pool.awaitTermination(600, TimeUnit.SECONDS)
    if (!drained)
      throw new IllegalStateException(
        "Engine.close(): jobs still running after 600s drain — refusing to " +
          "stop the SparkSession under them (would fail their Futures and " +
          "leave half-written output directories)"
      )
    // only stop the (process-wide, getOrCreate-shared) session if this
    // Engine owns it — a library user's Engine must not tear down the
    // SparkSession other components are still using
    if (ownsSession) spark.stop()
  }
}
