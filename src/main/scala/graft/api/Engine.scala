package graft.api

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{ExecutionContext, ExecutionContextExecutorService, Future}

import org.apache.spark.sql.SparkSession

import graft.ops.{GroupStage, MapStage, ReduceStage, Sinks}
import graft.sources.{LineSource, ParityLines}

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
  * Jobs run strictly FIFO by default, one at a time — the reference queues
  * new jobs while BUSY (`/root/reference/mapreduce/manager/__main__.py:
  * 278-291`) — via a single-threaded executor, so `submit` is async like
  * the reference's TCP submit and `await` is the client's join. Worker
  * membership, heartbeats, dead-task reassignment and shutdown (reference
  * O9-O11) are subsumed by Spark's scheduler/executor liveness machinery;
  * `close()` mirrors the manager's shutdown fan-out by draining the job
  * queue, and stops the session only when this Engine owns it
  * (`ownsSession`).
  *
  * `maxConcurrent > 1` opts OUT of reference parity into concurrent
  * scheduling: up to that many jobs run simultaneously, and each job tags
  * its Spark stages with a per-job scheduler pool
  * (`spark.scheduler.pool = graft-job-N`), so a session built with
  * `spark.scheduler.mode=FAIR` time-slices the cluster fairly between
  * in-flight jobs instead of running their stages strictly
  * first-come-first-served (with the default FIFO scheduler the jobs
  * still overlap; only the stage-level arbitration differs). Job ids are
  * then assigned at execution start, so they no longer reflect
  * submission order — that ordering guarantee is FIFO-mode parity.
  *
  * `parityMode` selects the golden-parity rank-mod group router instead of
  * the scalable hash router ([[graft.ops.GroupStage.counted]] takes the
  * same flag); both count identical lines.
  *
  * `rawParity` is the byte-exact tier: lines keep their real terminators
  * ([[graft.sources.ParityLines.sortTasks]], which also models the
  * reference's per-sort-task file concatenation), group through the full
  * reference cascade ([[graft.ops.GroupStage.referenceGroup]]) and are
  * written verbatim ([[graft.ops.Sinks.outputFilesRaw]]), so a job
  * reproduces the reference's output files byte-for-byte even on
  * unterminated inputs. Its jobs are group-only (`identity` map and
  * reduce): a pipe re-terminates every line, so behind one the stripped
  * `parityMode` tier is equivalent. `numMappers` plays the reference's
  * sort-task-count role (there: the number of ready workers at grouping
  * time).
  */
final class Engine(
    spark: SparkSession,
    parityMode: Boolean = false,
    ownsSession: Boolean = false,
    maxConcurrent: Int = 1,
    rawParity: Boolean = false)
    extends AutoCloseable {
  require(maxConcurrent >= 1, s"maxConcurrent must be >= 1, got $maxConcurrent")

  private val jobIds                                   = new AtomicInteger(0)
  private val pool: ExecutionContextExecutorService    =
    ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(maxConcurrent))
  // every submitted-but-not-awaited job; await() drains this snapshot so
  // the join works for BOTH the single-thread FIFO pool (where a marker
  // task would suffice) and the concurrent pool (where it would not)
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Future[JobResult]]()

  /** Run one job synchronously (the internal path; `submit` queues this). */
  def runJob(spec: JobSpec): JobResult = {
    val jobId = jobIds.getAndIncrement()
    val t0    = System.nanoTime()
    if (maxConcurrent > 1)
      // thread-local: names this job's stages into its own FAIR pool
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-job-$jobId")
    if (rawParity) {
      require(
        spec.mapperExecutable == "identity" && spec.reducerExecutable == "identity",
        s"rawParity jobs are group-only (mapper/reducer must be 'identity', got " +
          s"'${spec.mapperExecutable}'/'${spec.reducerExecutable}'): external executables " +
          "are line-pipe-oriented and re-terminate lines, erasing the bytes this tier exists to keep"
      )
      val tasks   = ParityLines.sortTasks(spark.sparkContext, spec.inputDirectory, spec.numMappers)
      val grouped = GroupStage.referenceGroup(tasks, spec.numReducers)
      JobResult(jobId, Sinks.outputFilesRaw(grouped, spec.outputDirectory), t0, System.nanoTime())
    } else {
      val lines   = LineSource(spark.sparkContext, spec.inputDirectory, spec.numMappers)
      val counts  = MapStage.counted(lines, spec.mapperExecutable)
      val grouped = GroupStage.counted(counts, spec.numReducers, parityMode)
      val reduced = ReduceStage.counted(grouped, spec.reducerExecutable)
      JobResult(jobId, Sinks.outputFiles(reduced, spec.outputDirectory), t0, System.nanoTime())
    }
  }

  /** Queued asynchronous submission (reference `new_manager_job`): strict
    * FIFO at `maxConcurrent = 1`, overlapping otherwise.
    */
  def submit(spec: JobSpec): Future[JobResult] = {
    val f = Future(runJob(spec))(pool)
    pending.add(f)
    f
  }

  /** Queued library-dataflow stage job — the same FIFO pool, job-id and
    * scheduler-pool contract as [[submit]], with a Spark action as the
    * payload instead of executable map/reduce stages (the reference's
    * manager queues any job payload FIFO; `graft.queries.Pipeline`'s
    * chained curation DAG is the production consumer: each stage job
    * reads the previous job's parquet artifact, so FIFO ordering IS the
    * dependency order). The body returns the artifact paths it wrote,
    * reported back through [[JobResult.outputFiles]].
    *
    * Stage jobs REQUIRE a FIFO engine (maxConcurrent == 1): the whole
    * contract is that queue order is the dependency order, and a
    * concurrent pool would start stage k+1 while stage k's artifact is
    * still being written. Independent (non-chained) payloads on a
    * concurrent engine belong on [[submit]]'s executable-job surface or
    * plain Futures — rejecting here keeps the artifact-chaining contract
    * impossible to misuse rather than latently racy (ADVICE r11).
    */
  def submitStage(body: SparkSession => Seq[String]): Future[JobResult] = {
    require(
      maxConcurrent == 1,
      s"submitStage chains jobs through queue order (stage k+1 reads stage k's artifact); " +
        s"an Engine with maxConcurrent=$maxConcurrent would run stages concurrently"
    )
    val f = Future {
      val jobId = jobIds.getAndIncrement()
      val t0    = System.nanoTime()
      JobResult(jobId, body(spark), t0, System.nanoTime())
    }(pool)
    pending.add(f)
    f
  }

  /** Block until every job queued so far has finished. Failed jobs count
    * as finished (their Futures carry the failure for the submitter);
    * `timeoutSec` bounds the TOTAL wait across all in-flight jobs.
    */
  def await(timeoutSec: Long = 600): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(timeoutSec)
    // peek-then-remove: the Future leaves the queue only AFTER it completes,
    // so a timed-out await() (Await.ready throws) leaves the still-running
    // job in `pending` and a retrying caller genuinely waits for it —
    // poll-first dropped it and made the retry a silent no-op
    var f = pending.peek()
    while (f != null) {
      val left = math.max(deadline - System.nanoTime(), 1L)
      scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.fromNanos(left))
      pending.remove(f)
      f = pending.peek()
    }
  }

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
