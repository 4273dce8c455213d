package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import graft.core.Width

/** Pins for [[graft.core.Width]], the one stage-width policy: `compute`
  * leaves a multi-split file scan alone, numbers every other spread (so
  * AQE cannot coalesce it), and decides from the plan alone — no Spark
  * job at construction, even on a persisted, not-yet-built frame whose
  * plan holds an exchange; `grain` sizes from plan statistics.
  */
class WidthSpec extends SparkSpec {

  private def parquet(name: String, rows: Long, files: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(name).resolve("t").toString
    spark.range(0, rows, 1, files).toDF("id").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def hasRoundRobin(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.toString.contains("RoundRobinPartitioning")

  test("identity on a multi-split file scan") {
    val df  = parquet("width-multi", 10000, spark.sparkContext.defaultParallelism)
    val out = Width.compute(df)
    assert(out eq df, "Width.compute must return a multi-split file scan unchanged")
  }

  test("repairs a single-split exchange-free scan") {
    assume(spark.sparkContext.defaultParallelism > 1)
    val df  = parquet("width-single", 10000, 1)
    val out = Width.compute(df)
    assert(hasRoundRobin(out), "Width.compute must repartition a single-split scan")
    assert(out.count() == 10000L)
  }

  test("repartitions a frame with an upstream exchange and starts no Spark job") {
    // over a multi-split scan, so only the exchange (explicit, or one the
    // aggregate needs) keeps the frame out of the scan exception
    val scan = parquet("width-shuffled", 1000, spark.sparkContext.defaultParallelism)
    for (df <- Seq(scan.repartition(col("id")), scan.groupBy("id").count())) {
      val (out, jobs) = jobsDuring(Width.compute(df))
      assert(jobs == 0, s"Width.compute ran $jobs Spark job(s) at construction")
      assert(hasRoundRobin(out), "a shuffled frame is AQE-coalescible, so Width must number it")
      assert(out.count() == 1000L)
    }
  }

  test("a persisted, unbuilt frame whose plan holds an exchange starts no Spark job") {
    val df = spark
      .range(0, 3000, 1, numPartitions = 4)
      .toDF("id")
      .withColumn("k", col("id") % 97)
      .repartition(3, col("k"))
      .persist()
    try {
      val (out, jobs) = jobsDuring(Width.compute(df))
      assert(jobs == 0, s"Width.compute ran $jobs Spark job(s) on the unbuilt cache")
      assert(hasRoundRobin(out))
      assert(out.count() == 3000L)
    } finally df.unpersist(): Unit
  }

  test("a keyed call on a just-shuffled small frame is a numbered hash repartition") {
    val par = spark.sparkContext.defaultParallelism
    val df  = spark.range(0, 100, 1, numPartitions = 2).toDF("id").repartition(col("id"))
    val out = Width.compute(df, col("id"))
    out.queryExecution.analyzed match {
      case r: RepartitionByExpression =>
        assert(r.optNumPartitions.contains(par))
        assert(r.partitionExpressions.nonEmpty)
      case other => fail(s"expected a RepartitionByExpression on top, got ${other.nodeName}")
    }
    val top = out.queryExecution.sparkPlan.collectFirst { case e: ShuffleExchangeExec => e }
    assert(
      top.exists(_.shuffleOrigin == REPARTITION_BY_NUM),
      "AQE coalesces anything but a numbered repartition")
    assert(top.exists(_.outputPartitioning.numPartitions == par))
  }

  test("compute and grain on an empty scan: no throw, 0 rows, grain width 1") {
    val df = parquet("width-empty", 0, 1)
    assert(Width.compute(df).count() == 0L)
    val g = Width.grain(df)
    g.queryExecution.analyzed match {
      case r: Repartition => assert(r.numPartitions == 1)
      case other          => fail(s"expected a Repartition on top, got ${other.nodeName}")
    }
    assert(g.count() == 0L)
  }
}
