package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{GroupStage, MapStage, ReduceStage, Sinks}
import graft.sources.LineSource

/** Fault-tolerance parity (reference O10): the reference reassigns a dead
  * worker's in-flight task after missed heartbeats
  * (`/root/reference/mapreduce/manager/__main__.py:140-159`); Spark's
  * equivalent is lineage-based task re-execution. This spec injects a task
  * failure on the first attempt and asserts the job still completes with
  * correct results — requires its own session with task retries enabled
  * (`local[4,3]`; plain local[n] runs tasks with a single attempt).
  */
object FaultToleranceSpec {
  // JVM-static (local mode = one JVM): counts injection attempts including
  // the FAILED task attempt — accumulator updates from failed tasks are
  // discarded by Spark, so an accumulator would read 0 here.
  val injected = new java.util.concurrent.atomic.AtomicInteger(0)
}

class FaultToleranceSpec extends AnyFunSuite {

  /** Run `body` on a fresh `local[4, 3]` session (3 task attempts). */
  private def withRetrySession(body: SparkSession => Unit): Unit = {
    // release the shared default session so a new master config applies
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession
      .builder()
      .master("local[4, 3]") // 4 threads, 3 task attempts
      .appName("graft-ft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      FaultToleranceSpec.injected.set(0)
      body(spark)
    } finally {
      // leave a clean slate for subsequent suites (they getOrCreate lazily)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("job survives an injected task failure via task re-execution") {
    withRetrySession { spark =>
      val rdd = spark.sparkContext
        .parallelize(1 to 1000, 8)
        .mapPartitions { it =>
          val tc = TaskContext.get()
          if (tc.partitionId() == 3 && tc.attemptNumber() == 0) {
            FaultToleranceSpec.injected.incrementAndGet()
            throw new RuntimeException("injected worker death")
          }
          it
        }
      assert(rdd.sum() == (1 to 1000).sum.toDouble)
      assert(FaultToleranceSpec.injected.get() == 1, "the failure should have been injected exactly once")
    }
  }

  test("sink task that fails mid-write leaves only whole outputfileNN files") {
    withRetrySession { spark =>
      val lines = (1 to 400).map(i => s"line $i")
      // partition 1's first attempt yields 10 lines, then dies
      def run(inject: Boolean): Seq[String] = {
        val rdd = spark.sparkContext.parallelize(lines, 4).mapPartitionsWithIndex { (p, it) =>
          val tc = TaskContext.get()
          if (inject && p == 1 && tc.attemptNumber() == 0)
            it.zipWithIndex.map { case (l, k) =>
              if (k == 10) {
                FaultToleranceSpec.injected.incrementAndGet()
                throw new RuntimeException("injected failure mid-write")
              }
              l
            }
          else it
        }
        val out = Files.createTempDirectory("sink-retry").resolve("out").toString
        Sinks.outputFiles(rdd, out)
      }
      val clean  = run(inject = false)
      val failed = run(inject = true)
      assert(FaultToleranceSpec.injected.get() == 1, "the failure should have been injected exactly once")
      val names = (1 to 4).map(i => f"outputfile$i%02d")
      assert(failed.map(f => Paths.get(f).getFileName.toString) == names)
      assert(Paths.get(failed.head).getParent.toFile.list().sorted.toSeq == names)
      clean.zip(failed).foreach { case (c, f) =>
        assert(Files.readAllBytes(Paths.get(f)).sameElements(Files.readAllBytes(Paths.get(c))), f)
      }
      assert(Files.size(Paths.get(failed(1))) > 0)
    }
  }

  test("map task that fails after reading part of its split still writes byte-identical outputfileNN files") {
    withRetrySession { spark =>
      val input = Files.createTempDirectory("source-retry")
      for (f <- 0 until 3)
        Files.write(input.resolve(s"part$f"), (0 until 600).map(i => s"w${(f * 7 + i) % 97} W${i % 13}\t[x]").mkString("", "\n", "\n").getBytes("UTF-8"))
      // map partition 2's first attempt reads 20 lines of its split, then dies
      def run(inject: Boolean): Seq[String] = {
        val lines = LineSource(spark.sparkContext, input.toString, 4).mapPartitionsWithIndex { (p, it) =>
          if (inject && p == 2 && TaskContext.get().attemptNumber() == 0)
            it.zipWithIndex.map { case (l, k) =>
              if (k == 20) {
                FaultToleranceSpec.injected.incrementAndGet()
                throw new RuntimeException("injected failure mid-split")
              }
              l
            }
          else it
        }
        val grouped = GroupStage.counted(MapStage.counted(lines, "wc_map"), 2, parityMode = false)
        val out     = Files.createTempDirectory("source-retry-out").resolve("out").toString
        Sinks.outputFiles(ReduceStage.counted(grouped, "wc_reduce"), out)
      }
      try {
        val clean  = run(inject = false)
        val failed = run(inject = true)
        assert(FaultToleranceSpec.injected.get() == 1, "the failure should have been injected exactly once")
        assert(clean.size == 2 && failed.size == 2)
        clean.zip(failed).foreach { case (c, f) =>
          assert(Files.readAllBytes(Paths.get(f)).sameElements(Files.readAllBytes(Paths.get(c))), f)
        }
      } finally Sinks.deleteRecursively(input)
    }
  }
}
