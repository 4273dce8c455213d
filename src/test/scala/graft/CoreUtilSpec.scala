package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the core session registries and wave-machinery guards. The
  * BuildWalls pin is pure-JVM; the precheck/payload pins borrow the shared
  * test session (driver-side bodies — no cluster work beyond one tiny
  * bucketed write).
  */
class CoreUtilSpec extends AnyFunSuite {

  test("BuildWalls accumulates duplicate names instead of overwriting") {
    graft.core.BuildWalls.record("coreutilspec_wall", 1.5)
    graft.core.BuildWalls.record("coreutilspec_wall", 2.5)
    graft.core.BuildWalls.record("coreutilspec_wall", 3.5)
    val snap = graft.core.BuildWalls.snapshot
    assert(snap("coreutilspec_wall") == 1.5, "first build must keep the bare name")
    assert(snap("coreutilspec_wall#2") == 2.5)
    assert(snap("coreutilspec_wall#3") == 3.5)
  }

  test("first-batch precheck charges the prediction at the spill-regime headroom") {
    // the model's one measured UNDER-prediction is 0.68 (5M-doc gram gate:
    // measured = 1.47× predicted) — a raw first-batch precheck passes on a
    // disk the campaign then overruns. Pin: free space BETWEEN predicted
    // and headroom×predicted must refuse BEFORE the first body runs, and
    // the refusal message (not ENOSPC at minute 80) must surface.
    val predicted = 1000L * 1024 * 1024
    val origProbe = graft.core.WaveScratch.freeSpaceProbe
    graft.core.WaveScratch.freeSpaceProbe =
      () => (predicted * 1.2).toLong // > predicted, < 1.5× predicted
    var bodyRan = false
    try {
      val e = intercept[IllegalArgumentException] {
        graft.core.AdaptiveWaves.run(
          graft.core.SparkEnv.session("graft-test"),
          "coreutilspec-headroom",
          units = 0 until 4,
          wavesPlanned = 2,
          predictedPerWave = predicted,
          budget = None)(_ => bodyRan = true)
      }
      assert(e.getMessage.contains("needs ~"), e.getMessage)
      assert(!bodyRan, "precheck must refuse before any wave runs")
      // and the same free space passes once a batch has MEASURED bytes
      // below it — the factor applies only while the model is the sole
      // information (simulated: free comfortably above 1.5× a tiny
      // prediction runs all batches)
      graft.core.WaveScratch.freeSpaceProbe = () => predicted * 2
      var waves = 0
      val (p, r) = graft.core.AdaptiveWaves.run(
        graft.core.SparkEnv.session("graft-test"),
        "coreutilspec-headroom",
        units = 0 until 4,
        wavesPlanned = 2,
        predictedPerWave = predicted,
        budget = None)(_ => waves += 1)
      assert(p == 2 && r == 2 && waves == 2)
    } finally graft.core.WaveScratch.freeSpaceProbe = origProbe
  }

  test("BucketedPayload rebuilds when its scratch dir vanished under the memo") {
    val spark = graft.core.SparkEnv.session("graft-test")
    import spark.implicits._
    def build = (0L until 64L).map(i => (i, s"payload row $i")).toDF("doc_id", "text")
    val first = graft.core.BucketedPayload
      .ensure(spark, "coreutilspec", "deadbeef", "doc_id", 4)(build)
    assert(first.count() == 64)
    // simulate the TTL sweep of a long-lived session: the scratch dir is
    // gone but the memo and the catalog entry survive — a raw memo hit
    // would serve a table whose files no longer exist
    val dir = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft-waves-${spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9_.-]", "_")}" +
        s"-pay-coreutilspec-deadbeef-4")
    assert(dir.exists(), s"expected payload scratch at $dir")
    graft.ops.Sinks.deleteRecursively(dir.toPath)
    val again = graft.core.BucketedPayload
      .ensure(spark, "coreutilspec", "deadbeef", "doc_id", 4)(build)
    assert(again.count() == 64, "stale memo entry must rebuild, not fail")
  }

  /** A scratch dir holding `link` → an outside dir with one file in it. */
  private def plantedLink(scratch: java.nio.file.Path): java.nio.file.Path = {
    import java.nio.file.Files
    val outside = Files.createTempDirectory("coreutilspec-outside")
    Files.writeString(outside.resolve("keep.txt"), "keep")
    Files.createDirectories(scratch.resolve("sub"))
    Files.writeString(scratch.resolve("sub/part-0"), "scratch")
    Files.createSymbolicLink(scratch.resolve("link"), outside)
    Files.createSymbolicLink(scratch.resolve("sub/link"), outside)
    outside
  }

  test("deleteRecursively removes a symlink to an outside dir as a link, not its target") {
    import java.nio.file.Files
    val scratch = Files.createTempDirectory("coreutilspec-scratch")
    val outside = plantedLink(scratch)
    try {
      graft.ops.Sinks.deleteRecursively(scratch)
      assert(!Files.exists(scratch, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(Files.readString(outside.resolve("keep.txt")) == "keep")
    } finally graft.ops.Sinks.deleteRecursively(outside)
  }

  test("freshDirFor clears a planted symlink without touching its target") {
    import java.nio.file.{Files, Paths}
    val spark   = graft.core.SparkEnv.session("graft-test")
    val path    = Paths.get(graft.core.WaveScratch.dirFor(spark, "coreutilspec", "link"))
    val outside = plantedLink(path)
    try {
      assert(graft.core.WaveScratch.freshDirFor(spark, "coreutilspec", "link") == path.toString)
      assert(!Files.exists(path, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(Files.readString(outside.resolve("keep.txt")) == "keep")
    } finally graft.ops.Sinks.deleteRecursively(outside)
  }
}
