package graft

import java.nio.file.Files

import graft.api.{Engine, JobSpec}

/** External-executable compat (reference O3/O6 via `RDD.pipe`): line-pipe
  * executables in `src/test/resources/exec` — `sh`/`tr`/`awk` and
  * `python3` ports of the native wc/grep operators' documented semantics
  * ([[graft.ops.MapStage]], [[graft.ops.ReduceStage]]) — run through the
  * engine and must reproduce both goldens.
  */
class PipeSpec extends SparkSpec {

  private def exec(name: String): String = {
    val path = resource(s"exec/$name")
    assert(new java.io.File(path).canExecute, s"$path is not executable")
    path
  }

  private def tmpOut(name: String): String =
    Files.createTempDirectory(name).resolve("out").toString

  test("piped wc_map + wc_reduce reproduce the word_count golden") {
    val engine = new Engine(spark, parityMode = true)
    val res = engine.runJob(
      JobSpec(resource("wc/input"), tmpOut("pipewc"), exec("wc_map.sh"), exec("wc_reduce.sh"), 4, 1)
    )
    val got = readLines(res.outputFiles.head)
    assert(got == readLines(resource("wc/word_count_correct.txt")))
  }

  test("piped grep_map + grep_reduce reproduce the grep golden") {
    val engine = new Engine(spark, parityMode = true)
    val res = engine.runJob(
      JobSpec(resource("wc/input"), tmpOut("pipegrep"), exec("grep_map.py"), exec("grep_reduce.py"), 4, 1)
    )
    val got = readLines(res.outputFiles.head)
    assert(got.sorted == readLines(resource("wc/grep_correct.txt")).sorted)
  }

  test("piped executables with 2 reducers: union of outputs equals golden") {
    val engine = new Engine(spark, parityMode = true)
    val res = engine.runJob(
      JobSpec(resource("wc/input"), tmpOut("pipewc2"), exec("wc_map.sh"), exec("wc_reduce.sh"), 4, 2)
    )
    assert(res.outputFiles.size == 2)
    val got = res.outputFiles.flatMap(readLines).sorted
    assert(got == readLines(resource("wc/word_count_correct.txt")).sorted)
  }

  test("mixed mode: piped mapper with native reducer") {
    val engine = new Engine(spark, parityMode = true)
    val res = engine.runJob(
      JobSpec(resource("wc/input"), tmpOut("mixed"), exec("wc_map.sh"), "wc_reduce", 4, 1)
    )
    assert(readLines(res.outputFiles.head) == readLines(resource("wc/word_count_correct.txt")))
  }

  test("hash router: piped mapper, native reducer, 2 reducers: union equals golden") {
    val engine = new Engine(spark)
    val res = engine.runJob(
      JobSpec(resource("wc/input"), tmpOut("pipehash"), exec("wc_map.sh"), "wc_reduce", 4, 2)
    )
    assert(res.outputFiles.size == 2)
    val got = res.outputFiles.flatMap(readLines).sorted
    assert(got == readLines(resource("wc/word_count_correct.txt")).sorted)
  }

  test("hash router: native mapper, piped reducer, 2 reducers: union equals golden") {
    // the pipe reads the counted reduce input expanded back into every line
    val engine = new Engine(spark)
    val res = engine.runJob(
      JobSpec(resource("wc/input"), tmpOut("hashpipe"), "wc_map", exec("wc_reduce.sh"), 4, 2)
    )
    assert(res.outputFiles.size == 2)
    val got = res.outputFiles.flatMap(readLines).sorted
    assert(got == readLines(resource("wc/word_count_correct.txt")).sorted)
  }
}
