package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the core session registries, the scratch free-space guard and
  * the recursive delete — all pure-JVM, no Spark session.
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

  test("ensureFreeSpace refuses a footprint the scratch volume cannot hold") {
    val e = intercept[IllegalArgumentException](
      graft.core.SessionArtifact.ensureFreeSpace(Long.MaxValue, "coreutilspec expansion"))
    assert(e.getMessage.contains("coreutilspec expansion needs ~"), e.getMessage)
    // an unknown (non-positive) footprint never refuses
    graft.core.SessionArtifact.ensureFreeSpace(0L, "coreutilspec expansion")
  }

  test("deleteRecursively removes a symlink to an outside dir as a link, not its target") {
    import java.nio.file.Files
    // a scratch dir holding `link` and `sub/link` → an outside dir with one file
    val scratch = Files.createTempDirectory("coreutilspec-scratch")
    val outside = Files.createTempDirectory("coreutilspec-outside")
    Files.writeString(outside.resolve("keep.txt"), "keep")
    Files.createDirectories(scratch.resolve("sub"))
    Files.writeString(scratch.resolve("sub/part-0"), "scratch")
    Files.createSymbolicLink(scratch.resolve("link"), outside)
    Files.createSymbolicLink(scratch.resolve("sub/link"), outside)
    try {
      graft.ops.Sinks.deleteRecursively(scratch)
      assert(!Files.exists(scratch, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(Files.readString(outside.resolve("keep.txt")) == "keep")
    } finally graft.ops.Sinks.deleteRecursively(outside)
  }
}
