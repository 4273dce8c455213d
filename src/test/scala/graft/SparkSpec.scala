package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; ScalaTest
  * suites run sequentially in the sbt test JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.SparkEnv.session("graft-test")

  /** Flatten an EXECUTED (possibly adaptive) physical plan into all of its
    * nodes: descends AdaptiveSparkPlanExec into its current plan and query
    * stages into their contents, and stops at ReusedExchange (its subtree
    * belongs to the original stage — descending would double-count scans
    * and exchanges). The ONE walker every plan-shape assertion shares;
    * hand-rolled copies drift when a Spark upgrade adds a wrapper node.
    */
  def adaptiveNodes(
      p: org.apache.spark.sql.execution.SparkPlan
  ): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec       => Seq(qs.plan)
      case _: ReusedExchangeExec    => Nil
      case other                    => other.children
    }
    p +: kids.flatMap(adaptiveNodes)
  }

  def resource(path: String): String = {
    val url = getClass.getClassLoader.getResource(path)
    require(url != null, s"missing test resource $path")
    new java.io.File(url.toURI).getAbsolutePath
  }

  /** Spark jobs started on this thread while `body` runs. A marker job
    * after `body` flushes the listener queue: events arrive in order, so
    * once the marker's start is seen every earlier start has been too.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc     = spark.sparkContext
    val probe  = s"jobs-probe-${System.nanoTime()}"
    val marker = s"$probe-marker"
    val jobs   = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen   = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == probe) jobs.incrementAndGet(): Unit
          else if (g == marker) seen.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(probe, "jobs under count")
      val out =
        try body
        finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS), "marker job start never arrived")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  def readLines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toList
    finally src.close()
  }
}
