package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.api.{Engine, JobSpec}

/** BASELINE.md parity at the size of the reference's own large corpus
  * (`input_large`: 31,781 lines / 3.7 MB — the data behind the reference's
  * only quantified perf budget: group stage < 10 s, < 1 MiB
  * (`tests/test_manager_08.py:240-241`)). The full native job (map + group
  * + reduce + sink) must beat the reference's group-stage-only wall budget,
  * and the result must satisfy the token-conservation invariant.
  *
  * The corpus is generated here from a fixed seed at the same line count
  * and byte size, so the spec needs no external data.
  */
class LargeCorpusSpec extends SparkSpec {

  private val Lines = 31781

  /** `Lines` lines over four files: 8–28 tokens per line drawn
    * log-uniformly (Zipf-like) from a 20k-word vocabulary, with the
    * occasional tab and bracket that `wc_map` also splits on.
    */
  private def writeCorpus(dir: Path): Unit = {
    val rnd   = new java.util.Random(20240531L)
    val vocab = Array.tabulate(20000) { _ =>
      val len = 2 + rnd.nextInt(8)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
    val seps  = Array(" ", " ", " ", " ", " ", " ", " ", " ", " ", "\t", "[", "]")
    val files = Array.fill(4)(new StringBuilder)
    for (i <- 0 until Lines) {
      val sb = files(i % files.length)
      val n  = 8 + rnd.nextInt(21)
      for (t <- 0 until n) {
        if (t > 0) sb.append(seps(rnd.nextInt(seps.length)))
        val w = vocab(math.exp(rnd.nextDouble() * math.log(vocab.length.toDouble)).toInt - 1)
        sb.append(if (rnd.nextInt(10) == 0) w.capitalize else w)
      }
      sb.append('\n')
    }
    files.zipWithIndex.foreach { case (sb, k) =>
      Files.write(dir.resolve(f"part$k%02d.txt"), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  test("full word_count job over an input_large-sized corpus completes within the reference's 10s budget") {
    val largeDir = Files.createTempDirectory("wclarge-in")
    val outDir   = Files.createTempDirectory("wclarge")
    try {
      writeCorpus(largeDir)
      val mb = largeDir.toFile.listFiles().map(_.length).sum / 1e6
      info(f"corpus: $Lines lines, $mb%.2f MB")
      val engine = new Engine(spark, parityMode = true)
      val out    = outDir.resolve("out").toString
      val t0     = System.nanoTime()
      val res    = engine.runJob(JobSpec(largeDir.toString, out, "wc_map", "wc_reduce", 2, 2))
      val sec    = (System.nanoTime() - t0) / 1e9
      info(f"wall: $sec%.2f s (reference budget: group stage alone < 10 s, 'instructor < 1 s')")
      assert(sec < 10.0, s"took $sec s")
      // token conservation: counts sum to total tokens emitted by the mapper
      val total = res.outputFiles.flatMap(readLines).map(_.split("\t")(1).toLong).sum
      val expected = spark.sparkContext
        .textFile(largeDir.toString)
        .flatMap(graft.ops.MapStage.wcMap)
        .count()
      assert(total == expected)
    } finally {
      graft.ops.Sinks.deleteRecursively(largeDir)
      graft.ops.Sinks.deleteRecursively(outDir)
    }
  }
}
