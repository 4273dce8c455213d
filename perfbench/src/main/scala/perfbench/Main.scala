package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.SparkSession

import graft.api.{Engine, JobSpec}
import graft.ops.{GroupStage, MapStage, ReduceStage, Sinks}

/** One operation the run performed. `phase` is `warm` (set-up), `check`
  * (set-up pass whose outputs are checked), `timed` (the measured closed
  * loop), `traced` (a timed operation with tracing on) or `layers` (a job
  * run layer by layer). `out` names the output the runner checks, if any.
  */
final case class Op(phase: String, kind: String, pass: Int, wallS: Double, error: String, out: String)

/** The benchmark's JVM side. `run.py` starts it from an exported classpath
  * with `--key value` pairs, checks the outputs it lists, and turns the
  * `PERFBENCH {...}` line it prints into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt     = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toDouble
    val spawnNs = opt("spawn-ns").toLong
    val spark   = graft.core.SparkEnv.session("perfbench")
    val session = Clock.nowNs
    val bench = opt("workload") match {
      case "wc_hash"   => new EngineBench(spark, opt, parity = false)
      case "grep_pipe" => new EngineBench(spark, opt, parity = true)
      case "queries"   => new QueryBench(spark, opt)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    bench.setUp()
    val setupEnd = Clock.nowNs
    if (opt("trace") == "1") {
      val spans = new Spans(spark.sparkContext, s"${opt("workload")}-${opt("seed")}-${ProcessHandle.current().pid()}")
      bench.traced(seconds, spans)
      spans.write(opt("spans"))
    } else bench.timed(seconds)
    val result = Map(
      "setup_s" -> (setupEnd - spawnNs) / 1e9,
      "setup"   -> (bench.setupParts + ("session_s" -> (session - spawnNs) / 1e9)),
      "ops"     -> bench.ops,
      "layers"  -> bench.layers
    )
    println("PERFBENCH " + Json(result))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-key medians over rows of metrics. */
  def medians(rows: Seq[Map[String, Double]]): Map[String, Double] =
    rows.flatMap(_.keys).distinct.map(k => k -> median(rows.flatMap(_.get(k)))).toMap
}

/** What every workload provides to [[Main]]. */
abstract class Bench(spark: SparkSession) {
  val ops        = mutable.ArrayBuffer.empty[Op]
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  val layers     = mutable.LinkedHashMap.empty[String, Double]
  protected val sc    = spark.sparkContext
  protected val cores = sc.defaultParallelism

  def setUp(): Unit
  def timed(seconds: Double): Unit

  /** Untraced and traced operations alternate, so warming drift cancels in
    * `trace.overhead`; the listeners are attached to traced ones only.
    */
  def traced(seconds: Double, spans: Spans): Unit

  /** Run `body(i)` until `seconds` have passed and at least `min` times. */
  protected def loop(seconds: Double, min: Int = 1)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i  = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { body(i); i += 1 }
  }

  protected def time(body: => Unit): (Double, String) = {
    val t0 = System.nanoTime()
    val err =
      try { body; null }
      catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  protected def timedSeconds(body: => Unit): Double = time(body)._1

  /** Attach `listeners` for `body`, then deliver every pending event to them. */
  protected def listening[T](listeners: SparkListener*)(body: => T): T = {
    listeners.foreach(sc.addSparkListener)
    try body
    finally {
      Bus.drain(sc)
      listeners.foreach(sc.removeSparkListener)
    }
  }
}

/** `wc_hash` and `grep_pipe`: closed-loop `Engine.runJob` over the corpus. */
final class EngineBench(spark: SparkSession, opt: Map[String, String], parity: Boolean) extends Bench(spark) {
  private val input               = opt("input")
  private val work                = opt("work")
  private val (mapper, reducer)   =
    if (parity) (s"${opt("bin")}/grep_map", s"${opt("bin")}/grep_reduce") else ("wc_map", "wc_reduce")
  private val (mappers, reducers) = (8, 4)
  private val engine              = new Engine(spark, parityMode = parity)
  private var n                   = 0

  private def job(phase: String, spans: Option[Spans] = None): Op = {
    n += 1
    val out  = s"$work/out/$phase-$n"
    val spec = JobSpec(input, out, mapper, reducer, mappers, reducers)
    val (wall, err) = time {
      spans match {
        case Some(s) => s("job", s"engine#$n")(engine.runJob(spec))
        case None    => engine.runJob(spec)
      }
    }
    val op = Op(phase, "job", n, wall, err, out)
    ops += op
    op
  }

  def setUp(): Unit = {
    // the first job runs cold; the next ones bring the code paths to speed
    setupParts ++= Seq("warmup_s" -> timedSeconds((1 to 5).foreach(_ => job("warm"))), "artifacts_s" -> 0.0)
  }

  def timed(seconds: Double): Unit = loop(seconds)(_ => job("timed"))

  def traced(seconds: Double, spans: Spans): Unit = {
    val listener   = new LayerListener
    val untraced   = mutable.ArrayBuffer.empty[Op]
    val tracedJobs = mutable.ArrayBuffer.empty[Op]
    loop(seconds * 2 / 3, min = 2) { i =>
      if (i % 2 == 0) untraced += job("timed")
      else tracedJobs += listening(listener)(job("traced", Some(spans)))
    }
    val rows = mutable.ArrayBuffer.empty[Map[String, Double]]
    listening(listener)(loop(seconds / 3)(_ => rows += layered(spans)))

    val perJob = tracedJobs.toSeq.map { op =>
      val a = listener.get(s"engine#${op.pass}")
      Map(
        "engine.task_s"          -> a.runMs / 1e3,
        "engine.gc_s"            -> a.gcMs / 1e3,
        "engine.core_util"       -> a.runMs / 1e3 / (op.wallS * cores),
        "group.spark_jobs"       -> a.jobs.toDouble,
        "group.shuffle_write_mb" -> a.shuffleBytes / 1048576.0,
        "group.shuffle_records"  -> a.shuffleRecords.toDouble,
        "group.spill_mb"         -> a.spilled / 1048576.0
      )
    }
    val med  = Main.medians(rows.toSeq ++ perJob)
    val jobS = Main.median(untraced.map(_.wallS).toSeq)
    layers ++= med
    layers("engine.layer_share") =
      Seq("sources.read_s", "map.self_s", "group.self_s", "reduce.self_s", "sink.self_s").map(med).sum / jobS
    layers("trace.overhead") = Main.median(tracedJobs.map(_.wallS).toSeq) / jobS
  }

  /** One job run layer by layer: each layer's public function on the
    * previous layer's cached output, a span around each call.
    */
  private def layered(spans: Spans): Map[String, Double] = {
    n += 1
    val k       = n
    val out     = s"$work/out/layers-$k"
    val procDir = sys.env.get("PERFBENCH_PROC_DIR").map(new File(_))
    def procs   = procDir.flatMap(d => Option(d.list())).map(_.count(_.startsWith("grep_map."))).getOrElse(0)
    val m       = mutable.LinkedHashMap.empty[String, Double]
    val (wall, err) = time {
      spans("job", s"layers#$k") {
        val lines = spans("sources", s"sources#$k") {
          val r = sc.textFile(input, mappers).cache()
          r.count()
          r
        }
        val procs0 = procs
        val mapped = spans("map", s"map#$k") {
          val r = MapStage(lines, mapper).cache()
          m("map.records_out") = r.count().toDouble
          r
        }
        m("map.pipe_procs") = (procs - procs0).toDouble
        val grouped = spans("group", s"group#$k") {
          val r = GroupStage(mapped, reducers, parity).cache()
          r.count()
          r
        }
        val reduced = spans("reduce", s"reduce#$k") {
          val r = ReduceStage(grouped, reducer).cache()
          m("reduce.records_out") = r.count().toDouble
          r
        }
        val files = spans("sink", s"sink#$k")(Sinks.outputFiles(reduced, out))
        m("sink.files") = files.size.toDouble
        m("sink.mb_written") = files.map(f => new File(f).length).sum / 1048576.0
        val sizes = grouped.mapPartitions(it => Iterator(it.size.toDouble)).collect().toSeq
        m("group.skew") = sizes.max / math.max(Main.median(sizes), 1.0)
        Seq(lines, mapped, grouped, reduced).foreach(_.unpersist(blocking = true))
      }
    }
    ops += Op("layers", "job", k, wall, err, out)
    val self = spans.all.filter(_.layer.endsWith(s"#$k")).map(s => s.name -> spans.selfSeconds(s)).toMap
    m("sources.read_s") = self.getOrElse("sources", 0.0)
    Seq("map", "group", "reduce", "sink").foreach(l => m(s"$l.self_s") = self.getOrElse(l, 0.0))
    m.toMap
  }
}

/** `queries`: closed-loop passes over a fixed set of registry queries,
  * noop sink. Each query belongs to a class (`rel` or `loop`).
  */
final class QueryBench(spark: SparkSession, opt: Map[String, String]) extends Bench(spark) {
  private val data    = opt("data")
  private val work    = opt("work")
  private val seed    = opt("seed").toLong
  private val classOf = opt("queries").split(",").map(_.split(":")).map(a => a(0) -> a(1)).toMap
  private val names   = classOf.keys.toSeq.sorted
  private val fns     = names.map(q => q -> graft.SparkEntry.queries(q)).toMap

  /** The seed permutes the query order of every pass. */
  private def order(pass: Int): Seq[String] = new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def setUp(): Unit = {
    var artifacts = Map.empty[String, Double]
    val warm      = timedSeconds { artifacts = graft.Bench.warmUp(spark, data, Some(names.toSet)) }
    // the first pass warms every query's code path and writes the results
    // the runner checks against the DuckDB oracle
    val check = timedSeconds {
      order(-1).foreach { q =>
        val out      = s"$work/check/$q"
        val (w, err) = time(fns(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(out))
        ops += Op("check", q, -1, w, err, out)
      }
    }
    val sql = graft.SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }
    Files.write(Paths.get(s"$work/check/oracle_sql.json"), Json(sql).getBytes(StandardCharsets.UTF_8))
    setupParts ++= Seq("artifacts_s" -> artifacts.values.sum, "warmup_s" -> (warm - artifacts.values.sum + check))
  }

  private def pass(p: Int, phase: String, spans: Option[Spans]): Unit =
    order(p).foreach { q =>
      val (w, err) = time {
        spans match {
          case None => fns(q)(spark, data).write.format("noop").mode("overwrite").save()
          case Some(s) =>
            val cls = classOf(q)
            s(q, s"$cls.query#$p") {
              val df = s("construct", s"$cls.construct#$p")(fns(q)(spark, data))
              s("execute", s"$cls.exec#$p")(df.write.format("noop").mode("overwrite").save())
            }
        }
      }
      ops += Op(phase, q, p, w, err, null)
    }

  def timed(seconds: Double): Unit = loop(seconds)(p => pass(p, "timed", None))

  def traced(seconds: Double, spans: Spans): Unit = {
    val listener = new LayerListener
    val plans    = new PlanListener
    loop(seconds, min = 2) { p =>
      if (p % 2 == 0) pass(p, "timed", None)
      else {
        spark.listenerManager.register(plans)
        try listening(listener)(pass(p, "traced", Some(spans)))
        finally spark.listenerManager.unregister(plans)
      }
    }

    val byPass = ops.filter(_.phase != "check").groupBy(_.pass)
    def walls(phase: String) = byPass.values.filter(_.head.phase == phase).map(_.map(_.wallS).sum).toSeq
    val tracedPasses = byPass.keys.filter(p => byPass(p).head.phase == "traced").toSeq
    for (cls <- classOf.values.toSeq.distinct) {
      val rows = tracedPasses.map { p =>
        val construct = spans.all.filter(_.layer == s"$cls.construct#$p")
        val exec      = spans.all.filter(_.layer == s"$cls.exec#$p")
        val c         = listener.get(s"$cls.construct#$p")
        val e         = listener.get(s"$cls.exec#$p")
        val plan      = exec.map(plans.secondsWithin).sum
        val execWall  = exec.map(_.seconds).sum
        Map(
          "construct_s"    -> construct.map(_.seconds).sum,
          "construct_jobs" -> c.jobs.toDouble,
          "read_jobs"      -> c.readJobs.toDouble,
          "plan_s"         -> plan,
          "exec_s"         -> (execWall - plan),
          "exec_jobs"      -> e.jobs.toDouble,
          "tasks"          -> e.tasks.toDouble,
          "task_s"         -> e.runMs / 1e3,
          "core_util"      -> e.runMs / 1e3 / (execWall * cores),
          "shuffle_mb"     -> e.shuffleBytes / 1048576.0,
          "spill_mb"       -> e.spilled / 1048576.0,
          "gc_s"           -> e.gcMs / 1e3
        )
      }
      Main.medians(rows).foreach { case (k, v) => layers(s"$cls.$k") = v }
    }
    layers("trace.overhead") = Main.median(walls("traced")) / Main.median(walls("timed"))
  }
}
