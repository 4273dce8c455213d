package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Memory-pressure / spill gate: forks [[graft.tools.SpillProbe]] into a
  * 2 GiB JVM with a starved execution pool and asserts (a) the heavy query
  * family completes — no OOM, no failure — and (b) the spill machinery
  * actually engaged (`memoryBytesSpilled > 0` summed over task metrics).
  * Every other gate in this suite runs with 24 GiB of headroom; this is
  * the one that tests the degrade-gracefully posture a 100 TB cluster
  * run depends on (executors are never sized to hold the working set).
  */
class SpillSpec extends AnyFunSuite {

  // Spark 4 on JDK 17 cannot build a SparkContext without build.sbt's
  // jdk17AddOpens when launched outside spark-submit; the forked test JVM
  // carries them, so the probe inherits exactly that list
  private val addOpens =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(_.startsWith("--add-opens="))

  test("heavy family completes in a 2g JVM with a starved pool — spills, never OOMs") {
    assert(addOpens.nonEmpty, "test JVM carries no --add-opens= flags to forward")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp   = Seq("target/scala-2.13/classes", "/opt/spark/jars/*").mkString(":")
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g",
      // ~10% of the heap for execution+storage: the pressure that forces
      // sorts/aggregations to spill at sf0.1 working-set sizes
      "-Dspark.memory.fraction=0.1",
      "-Dspark.ui.enabled=false",
      "-cp", cp,
      "graft.tools.SpillProbe", "/root/testdata/sf0.1"
    )
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CPUS", "4")
    pb.redirectErrorStream(false)
    val proc = pb.start()
    val out  = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val err  = new String(proc.getErrorStream.readAllBytes(), "UTF-8")
    val done = proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
    assert(done, "spill probe did not finish within 15 minutes")
    val line = out.linesIterator.filter(_.startsWith("{\"heavySpilled\"")).toSeq.lastOption
    assert(line.isDefined, s"no probe JSON in stdout; stderr tail: ${err.takeRight(800)}")
    assert(proc.exitValue() == 0, s"probe failed: ${line.get}; stderr tail: ${err.takeRight(800)}")
    def field(name: String): Long =
      s""""$name":(-?\\d+)""".r.findFirstMatchIn(line.get).map(_.group(1).toLong).getOrElse(-1L)
    val heavy = field("heavySpilled")
    val tail  = field("tailSpilled")
    assert(!line.get.contains("\"failed\":[\""), s"queries failed under pressure: ${line.get}")
    info(s"memoryBytesSpilled: heavy family=$heavy, pressure tail=$tail, disk=${field("diskSpilled")}")
    assert(heavy + tail > 0, s"no spill observed — the pool was never under pressure: ${line.get}")
  }
}
