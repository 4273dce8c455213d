package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds, advanced by the monotonic clock, so span
  * times compare with the epoch-millisecond timestamps Spark records.
  */
object Clock {
  private val epoch0 = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private val mono0 = System.nanoTime()
  def nowNs: Long  = epoch0 + (System.nanoTime() - mono0)
}

/** One traced interval. `layer` is the tag its Spark jobs carry. */
final case class Span(id: Int, parent: Int, name: String, layer: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded in memory around the calls into each layer and written
  * out as JSON lines when the run ends. Opening a span tags the Spark jobs
  * the calling thread starts with the span's layer (a job-local property
  * that [[LayerListener]] reads), and restores the enclosing tag on close.
  */
final class Spans(sc: SparkContext, runId: String) {
  private val done  = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)] // (span id, layer)
  private var next  = 0

  def apply[T](name: String, layer: String = "")(body: => T): T = {
    val id     = next
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val tag    = if (layer.nonEmpty) layer else stack.headOption.map(_._2).getOrElse("")
    next += 1
    stack = (id, tag) :: stack
    sc.setLocalProperty(LayerListener.Key, tag)
    val t0 = Clock.nowNs
    try body
    finally {
      done += Span(id, parent, name, tag, t0, Clock.nowNs)
      stack = stack.tail
      sc.setLocalProperty(LayerListener.Key, stack.headOption.map(_._2).orNull)
    }
  }

  def all: Seq[Span] = done.toSeq

  /** Duration minus the part of it the span's direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum

  def write(path: String): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      Json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark work attributed to one layer tag. */
final class LayerAgg {
  var jobs, readJobs, tasks                              = 0L
  var runMs, gcMs, shuffleBytes, shuffleRecords, spilled = 0L
}

object LayerListener {
  val Key = "perfbench.layer"
}

/** Counts Spark jobs and sums task metrics per layer tag. */
final class LayerListener extends SparkListener {
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val aggs       = mutable.HashMap.empty[String, LayerAgg]

  private def agg(layer: String): LayerAgg = aggs.getOrElseUpdate(layer, new LayerAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.Key))).getOrElse("")
    val a     = agg(layer)
    a.jobs += 1
    // Spark names a stage after its first call site outside Spark, so a
    // parquet footer/schema read made while building a DataFrame shows here
    if (e.stageInfos.exists(_.name.startsWith("parquet at "))) a.readJobs += 1
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageLayer.getOrElse(e.stageId, ""))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spilled += m.diskBytesSpilled
    }
  }

  def get(layer: String): LayerAgg = synchronized(aggs.getOrElse(layer, new LayerAgg))
}

/** Catalyst analysis + optimization + planning time of every query
  * execution, stamped with the epoch millisecond its first phase began so
  * the run can attribute it to the span it fell in.
  */
final class PlanListener extends QueryExecutionListener {
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) events.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Planning seconds of the executions that began inside `s`. */
  def secondsWithin(s: Span): Double = {
    import scala.jdk.CollectionConverters._
    events.asScala.collect {
      case (startMs, ms) if startMs * 1000000L >= s.startNs - 1000000L && startMs * 1000000L <= s.endNs => ms
    }.sum / 1e3
  }
}

/** JSON for the run's result line and span file. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
