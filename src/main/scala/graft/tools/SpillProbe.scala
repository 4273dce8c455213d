package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Memory-pressure probe, run by `SpillSpec` in a FORKED JVM with a small
  * heap (-Xmx2g) and a starved execution pool (spark.memory.fraction set
  * low via system property — `SparkSession.builder` absorbs `-Dspark.*`).
  * The 100 TB posture claim under test: when the working set exceeds the
  * execution pool, operators SPILL and complete — they do not OOM. The
  * reference's own hardest gate is exactly this shape (its group stage
  * must hold < 1 MiB, `tests/test_manager_08.py:240`); Spark's answer is
  * graceful spill, and this probe makes that answer measurable.
  *
  * Two phases, spill accounted separately via a task-metrics listener:
  *   1. the heavy query family from the registry, unmodified;
  *   2. a guaranteed-pressure tail — a global sort of lineitem replicated
  *      8x with a widened key (~8x the bench corpus through one sort) —
  *      so the gate observes engaged spill machinery even when phase 1's
  *      working set happens to fit the starved pool.
  *
  * Prints ONE JSON line:
  *   {"heavySpilled":B,"tailSpilled":B,"diskSpilled":B,"failed":[...]}
  * Exit 0 iff every query completed.
  */
object SpillProbe {

  /** The expensive registry queries (VERDICT r7 top-5 by wall time). */
  val HeavyFamily: Seq[String] =
    Seq("q_shared_passages", "q_segment_dedup", "q_tpch_q21", "q_window_suite")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.SparkEnv.session("graft-spill-probe")

    val memSpilled  = new AtomicLong()
    val diskSpilled = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled): Unit
          diskSpilled.addAndGet(m.diskBytesSpilled): Unit
        }
      }
    })

    var failed = List.empty[String]
    for (name <- HeavyFamily) {
      try graft.SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch {
        case scala.util.control.NonFatal(e) =>
          failed ::= s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}"
      }
    }
    val heavyMem = memSpilled.get()

    try {
      graft.core.Tables(spark, sfDir).lineitem
        .withColumn("rep", explode(array((0 until 8).map(lit(_)): _*)))
        .withColumn(
          "pad",
          concat_ws("-", md5(concat_ws(":", col("l_orderkey"), col("l_linenumber"), col("rep"))),
            col("l_shipdate").cast("string"))
        )
        .orderBy(col("pad"), col("l_orderkey"), col("l_linenumber"), col("rep"))
        .write.format("noop").mode("overwrite").save()
    } catch {
      case scala.util.control.NonFatal(e) =>
        failed ::= s"pressure-tail: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}"
    }

    val failedJson = failed.reverse.map(m => "\"" + m.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
    println(
      s"""{"heavySpilled":$heavyMem,"tailSpilled":${memSpilled.get() - heavyMem},""" +
        s""""diskSpilled":${diskSpilled.get()},"failed":[${failedJson.mkString(",")}]}"""
    )
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
