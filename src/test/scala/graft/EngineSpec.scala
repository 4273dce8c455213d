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

  test("rawParity job reproduces the reference route byte-for-byte on unterminated input") {
    // The GroupStageSpec unterminated fixture, promoted to the E2E API
    // path (round-13 verdict task 3). Hand-replay of the FULL reference
    // cascade at numMappers=2 (sort tasks: [file01], [file02]):
    //   task0 lines sorted:  bar\n foo\n zap\n            (unchanged)
    //   task1 worker sort:   bar\n, foo, qux\n  → join →  "bar\t1\nfoo\t1qux\t1\n"
    //     — the unterminated foo GLUES onto qux inside the worker's
    //       "".join (worker __main__.py:184-186); the manager re-reads
    //       TWO lines: "bar\t1\n", "foo\t1qux\t1\n"
    //   heapq.merge: bar\n(t0) bar\n(t1) foo\t1\n(t0) foo\t1qux\t1\n(t1) zap\n(t0)
    //   distinct walk: bar→0 (both copies), foo\n→1, fooqux→2, zap→3
    //   % 2 → file01: bar bar fooqux ; file02: foo\n zap\n
    val dir = Files.createTempDirectory("rawparity-in")
    def put(name: String, bytes: String): Unit = {
      Files.write(dir.resolve(name), bytes.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    put("file01", "bar\t1\nfoo\t1\nzap\t1\n")
    put("file02", "bar\t1\nqux\t1\nfoo\t1") // no trailing newline
    val engine = new Engine(spark, rawParity = true)
    val out    = tmpDir("rawparity")
    try {
      val res   = engine.runJob(JobSpec(dir.toString, out, "identity", "identity", 2, 2))
      def bytes(f: String) =
        new String(Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
      assert(res.outputFiles.size == 2)
      assert(bytes(res.outputFiles(0)) == "bar\t1\nbar\t1\nfoo\t1qux\t1\n")
      assert(bytes(res.outputFiles(1)) == "foo\t1\nzap\t1\n")

      // non-identity executables are rejected loudly — the pipe tier
      // re-terminates lines, silently defeating byte parity
      intercept[IllegalArgumentException] {
        engine.runJob(JobSpec(dir.toString, out, "wc_map", "wc_reduce", 2, 2))
      }
    } finally graft.ops.Sinks.deleteRecursively(dir)
  }

  test("rawParity models per-task file concatenation (multi-file sort task)") {
    // ADVICE r12 (medium): with MORE files than sort tasks, the reference
    // concatenates raw bytes per task BEFORE readlines — an unterminated
    // file's tail merges with the next file's first line. numMappers=1 puts
    // both files in ONE task: "foo\t1" + "bar\t1\n..." → line "foo\t1bar\t1\n".
    // Replay: task lines = aaa\n foo1bar1\n zzz\n (sorted already);
    // distinct walk: aaa→0 foo1bar1→1 zzz→0 (numReducers=2... count 2 % 2 = 0)
    val dir = Files.createTempDirectory("rawparity-concat")
    def put(name: String, bytes: String): Unit = {
      Files.write(dir.resolve(name), bytes.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    put("file01", "aaa\t1\nfoo\t1")         // unterminated, NOT last line of its task
    put("file02", "bar\t1\nzzz\t1\n")
    val engine = new Engine(spark, rawParity = true)
    val out    = tmpDir("rawparity-concat")
    try {
      val res = engine.runJob(JobSpec(dir.toString, out, "identity", "identity", 1, 2))
      def bytes(f: String) =
        new String(Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
      // concat = "aaa\t1\nfoo\t1bar\t1\nzzz\t1\n" → lines aaa\n, foo1bar1\n, zzz\n
      // sorted: aaa < foo\t1bar... < zzz; distinct ranks 0,1,2 → %2 = 0,1,0
      assert(bytes(res.outputFiles(0)) == "aaa\t1\nzzz\t1\n")
      assert(bytes(res.outputFiles(1)) == "foo\t1bar\t1\n")
    } finally graft.ops.Sinks.deleteRecursively(dir)
  }

  test("rawParity deals empty files round-robin like the reference's glob") {
    // Sorted listing: file01, file02 (empty), file03. The reference deals
    // partition[index % 2]: task0 = [file01, file03], task1 = [file02].
    //   task0 concat: "b\t1\nfoo\t1" + "a\t1\nzz\t1\n" → lines b\n, foo1a1\n, zz\n
    //     (file01's unterminated tail glues onto file03's first line);
    //     sorted and joined the same three lines; task1 has none
    //   distinct walk: b→0, foo1a1→1, zz→2; % 2 → file01: b zz ; file02: foo1a1
    // Skipping the empty file would deal file03 to task1 and glue nothing.
    val dir = Files.createTempDirectory("rawparity-empty")
    def put(name: String, bytes: String): Unit = {
      Files.write(dir.resolve(name), bytes.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    put("file01", "b\t1\nfoo\t1")
    put("file02", "")
    put("file03", "a\t1\nzz\t1\n")
    val engine = new Engine(spark, rawParity = true)
    val out    = tmpDir("rawparity-empty")
    try {
      val res = engine.runJob(JobSpec(dir.toString, out, "identity", "identity", 2, 2))
      def bytes(f: String) =
        new String(Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
      assert(res.outputFiles.size == 2)
      assert(bytes(res.outputFiles(0)) == "b\t1\nzz\t1\n")
      assert(bytes(res.outputFiles(1)) == "foo\t1a\t1\n")
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
    // FIFO: job ids assigned in submission order
    import scala.concurrent.Await
    import scala.concurrent.duration._
    assert(Await.result(f1, 1.second).jobId < Await.result(f2, 1.second).jobId)
  }

  test("concurrent mode: two submitted jobs overlap in time and still match the goldens") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    // opt-in departure from reference FIFO parity: a 2-wide pool runs both
    // jobs at once (each tagging its stages with its own scheduler pool for
    // FAIR-configured sessions); outputs must be byte-identical to the
    // FIFO-mode goldens, and the JobResult clocks must show actual overlap
    val engine = new Engine(spark, parityMode = true, maxConcurrent = 2)
    def attempt(tag: String): (Long, Boolean) = {
      val out1 = tmpDir(s"conc1$tag")
      val out2 = tmpDir(s"conc2$tag")
      val f1 = engine.submit(JobSpec(inputDir, out1, "wc_map", "wc_reduce", 4, 1))
      val f2 = engine.submit(JobSpec(inputDir, out2, "grep_map", "grep_reduce", 4, 1))
      engine.await()
      val r1 = Await.result(f1, 1.second)
      val r2 = Await.result(f2, 1.second)
      assert(readLines(out1 + "/outputfile01") == wcGolden)
      assert(readLines(out2 + "/outputfile01").sorted == grepGolden.sorted)
      val overlap =
        math.min(r1.finishedNanos, r2.finishedNanos) - math.max(r1.startedNanos, r2.startedNanos)
      (overlap, r1.jobId != r2.jobId)
    }
    val (overlap1, idsDistinct) = attempt("a")
    assert(idsDistinct)
    // scheduler hiccups could serialize one attempt; a genuine concurrency
    // bug (e.g. a 1-wide pool) serializes every attempt
    val overlap = if (overlap1 > 0) overlap1 else attempt("b")._1
    assert(overlap > 0, s"jobs never overlapped on a 2-wide pool (overlap=${overlap}ns)")
  }

  test("submitStage rejects a concurrent engine (artifact chaining needs FIFO order)") {
    val engine = new Engine(spark, maxConcurrent = 2)
    val e = intercept[IllegalArgumentException] {
      engine.submitStage(_ => Seq.empty)
    }
    assert(e.getMessage.contains("FIFO") || e.getMessage.contains("concurrently"))
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
