package graft

import java.nio.file.Files

import graft.api.{Engine, JobSpec}

/** End-to-end parity of the generic 3-stage job runner against the
  * reference's golden outputs (`/root/reference/tests/testdata/correct/`,
  * copied into src/test/resources/wc — see FIXTURES.md §2).
  */
class EngineSpec extends SparkSpec {

  private def tmpDir(name: String): String =
    Files.createTempDirectory(name).resolve("out").toString

  private lazy val inputDir = resource("wc/input")
  private lazy val wcGolden = readLines(resource("wc/word_count_correct.txt"))
  private lazy val grepGolden = readLines(resource("wc/grep_correct.txt"))

  test("native word_count matches the reference golden byte-for-byte (1 reducer)") {
    val engine = new Engine(spark, parityMode = true)
    val out = tmpDir("wc1")
    val res = engine.runJob(JobSpec(inputDir, out, "wc_map", "wc_reduce", 4, 1))
    assert(res.outputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)) == Seq("outputfile01"))
    val got = readLines(res.outputFiles.head)
    assert(got == wcGolden)
  }

  test("word_count with 2 reducers: union of outputs equals golden (integration_03 semantics)") {
    val engine = new Engine(spark, parityMode = true)
    val out = tmpDir("wc2")
    val res = engine.runJob(JobSpec(inputDir, out, "wc_map", "wc_reduce", 4, 2))
    assert(res.outputFiles.size == 2)
    val got = res.outputFiles.flatMap(readLines).sorted
    assert(got == wcGolden.sorted)
    // every output file is itself sorted (reduce inputs are sorted runs)
    res.outputFiles.foreach { f =>
      val lines = readLines(f)
      assert(lines == lines.sorted)
    }
  }

  test("native grep matches the reference golden") {
    val engine = new Engine(spark, parityMode = true)
    val out = tmpDir("grep1")
    val res = engine.runJob(JobSpec(inputDir, out, "grep_map", "grep_reduce", 4, 1))
    val got = readLines(res.outputFiles.head)
    // grep output order: reduce input is globally sorted, so lines arrive
    // sorted; the golden file is in original scan order — compare as sets
    assert(got.sorted == grepGolden.sorted)
    assert(got.size == 6)
  }

  test("an input that ends mid-line routes its last line as a terminated one") {
    // Lines reach the rank-mod router without terminators, so the
    // unterminated "foo\t1" and file01's "foo\t1\n" are one distinct line:
    // sorted distinct bar foo qux zap → buckets 0 1 0 1, both foo copies
    // in bucket 1 (the reference's readlines() would count them apart)
    val dir = Files.createTempDirectory("unterminated-in")
    def put(name: String, text: String): Unit = {
      Files.write(dir.resolve(name), text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    put("file01", "bar\t1\nfoo\t1\nzap\t1\n")
    put("file02", "bar\t1\nqux\t1\nfoo\t1") // no trailing newline
    try {
      val res = new Engine(spark, parityMode = true)
        .runJob(JobSpec(dir.toString, tmpDir("unterminated"), "/bin/cat", "/bin/cat", 2, 2))
      def text(f: String) = new String(Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
      assert(res.outputFiles.map(text) == Seq("bar\t1\nbar\t1\nqux\t1\n", "foo\t1\nfoo\t1\nzap\t1\n"))
    } finally graft.ops.Sinks.deleteRecursively(dir)
  }

  test("hash router mode produces the same multiset of results") {
    val engine = new Engine(spark, parityMode = false)
    val out = tmpDir("wchash")
    val res = engine.runJob(JobSpec(inputDir, out, "wc_map", "wc_reduce", 4, 2))
    val got = res.outputFiles.flatMap(readLines).sorted
    assert(got == wcGolden.sorted)
  }

  test("FIFO queue: two submitted jobs both complete with correct results") {
    val engine = new Engine(spark, parityMode = true)
    val out1 = tmpDir("fifo1")
    val out2 = tmpDir("fifo2")
    val f1 = engine.submit(JobSpec(inputDir, out1, "wc_map", "wc_reduce", 4, 1))
    val f2 = engine.submit(JobSpec(inputDir, out2, "grep_map", "grep_reduce", 2, 1))
    engine.await()
    assert(f1.isCompleted && f2.isCompleted)
    assert(readLines(out1 + "/outputfile01") == wcGolden)
    assert(readLines(out2 + "/outputfile01").sorted == grepGolden.sorted)
    // FIFO: job ids assigned in submission order, and the single-thread
    // queue runs the second job only after the first has finished
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val r1 = Await.result(f1, 1.second)
    val r2 = Await.result(f2, 1.second)
    assert(r1.jobId < r2.jobId)
    assert(r1.finishedNanos <= r2.startedNanos, s"jobs ${r1.jobId} and ${r2.jobId} overlapped")
  }

  test("await after close returns at once: close has drained the queue") {
    val engine = new Engine(spark)
    val out    = tmpDir("closed")
    val f      = engine.submit(JobSpec(inputDir, out, "grep_map", "grep_reduce", 2, 1))
    engine.close()
    assert(f.isCompleted)
    engine.await(timeoutSec = 1)
    assert(readLines(out + "/outputfile01").sorted == grepGolden.sorted)
  }

  test("output directory is clobbered on re-run (reference _move_result_files)") {
    // both routers; the directory holds exactly the outputfileNN files
    for (parity <- Seq(true, false)) {
      val engine = new Engine(spark, parityMode = parity)
      val out = tmpDir(s"clobber-$parity")
      engine.runJob(JobSpec(inputDir, out, "grep_map", "grep_reduce", 2, 2))
      assert(new java.io.File(out).list().sorted.toSeq == Seq("outputfile01", "outputfile02"))
      val res = engine.runJob(JobSpec(inputDir, out, "grep_map", "grep_reduce", 2, 1))
      assert(res.outputFiles.size == 1)
      assert(new java.io.File(out).list().toSeq == Seq("outputfile01"))
    }
  }

  test("unknown mapper name fails with a clear error") {
    val engine = new Engine(spark)
    val e = intercept[IllegalArgumentException] {
      engine.runJob(JobSpec(inputDir, tmpDir("bad"), "no_such_op", "wc_reduce"))
    }
    assert(e.getMessage.contains("no_such_op"))
  }

  test("curation pipeline runs as chained FIFO stage jobs with parquet artifacts") {
    val work = tmpDir("pipe")
    val jobs = graft.queries.Pipeline.pipelineJobs(spark, "/root/testdata/sf0.001", work)
    assert(jobs.size == 6, s"expected 6 stage jobs, got ${jobs.size}")
    // queue semantics: ids assigned at execution start, strictly increasing,
    // and — on the single-thread FIFO pool — stage k+1 starts only after
    // stage k finishes (the dependency order the chain relies on)
    assert(jobs.map(_.jobId) == (0 to 5), s"job ids not FIFO: ${jobs.map(_.jobId)}")
    jobs.sliding(2).foreach {
      case Seq(a, b) =>
        assert(
          a.finishedNanos <= b.startedNanos,
          s"jobs ${a.jobId} and ${b.jobId} overlapped — queue did not serialize them"
        )
      case _ => ()
    }
    // every stage reported its artifact, and each artifact is readable
    val stages = Seq("s1_clean", "s2_segdedup", "s3_neardup", "s4_mix", "s5_pack", "s6_card")
    assert(jobs.map(_.outputFiles) == stages.map(st => Seq(s"$work/$st")))
    val counts = stages.take(4).map(st => spark.read.parquet(s"$work/$st").count())
    // the funnel only ever narrows: clean >= segdedup >= neardup >= mix
    assert(
      counts == counts.sorted.reverse && counts.last > 0,
      s"stage funnel not monotone non-increasing: $counts"
    )
    val card = spark.read.parquet(s"$work/s6_card").collect()
    assert(card.length == 1)
    assert(card(0).getLong(card(0).fieldIndex("n_clean")) == counts.head)
  }
}
