package graft.core

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.ops.Sinks

/** Lifecycle of bounded-wave scratch directories (round 14).
  *
  * The wave loops ([[graft.ext.SetJoin.similarityJoinWaved]] and the band
  * family's waved verify) materialize each wave's output as parquet under
  * `java.io.tmpdir` precisely because free scratch disk is the binding
  * constraint the waves exist to respect — which makes LEAKED wave output
  * the one failure mode that silently re-creates the ENOSPC hazard the
  * budget protects against (round-13 gates left tens of GB of
  * `graft-setjoin-waves-*` across sessions). Three disciplines, shared by
  * every wave consumer:
  *
  *   1. '''Session-unique paths''': directory names embed the Spark
  *      applicationId plus the caller's full (unmasked) plan hash, so two
  *      sessions — or two plans colliding on a masked hash — can never
  *      overwrite each other's parquet while a memo still serves the stale
  *      path.
  *   2. '''Delete on exit''': every directory this session creates is
  *      registered and removed by a JVM shutdown hook — two consecutive
  *      gate runs leave /tmp flat.
  *   3. '''Crash TTL sweep''': on first use, wave dirs from OTHER sessions
  *      older than [[TtlMillis]] are deleted (a kill -9'd gate cannot run
  *      its hook; a 6h TTL cannot race a live gate on this box, where a
  *      full wave campaign completes in under an hour).
  *
  * Plus the capacity guard the wave loop calls per wave:
  * [[ensureFreeSpace]] fails BEFORE a wave starts when the scratch volume
  * cannot hold the wave's predicted footprint — the estimate's message,
  * not ENOSPC at minute 80.
  */
object WaveScratch {

  private val Prefix = "graft-waves-"

  /** Legacy round-13 prefix, swept by TTL only (never created anymore). */
  private val LegacyPrefix = "graft-setjoin-waves-"

  private val TtlMillis = 6L * 3600 * 1000

  private def tmpRoot = new File(sys.props("java.io.tmpdir"))

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach(p => Sinks.deleteQuietly(new File(p).toPath))
    }))
    sweepStale()
  }

  /** Remove wave dirs left by DEAD sessions: not this session's, not
    * modified within the TTL, and — because /tmp is shared and
    * world-writable — only entries that are REAL directories (no
    * symlinks: `lastModified` on a link resolves to the target, letting
    * an attacker-planted old link direct the sweep at an arbitrary tree)
    * owned by THIS process's user (another user's crashed session is
    * their sweep to run, and a dir we do not own is exactly the planted
    * shape).
    */
  private def sweepStale(): Unit = {
    val now = System.currentTimeMillis()
    val me = sys.props.getOrElse("user.name", "")
    def owned(d: File): Boolean =
      try java.nio.file.Files
        .getOwner(d.toPath, java.nio.file.LinkOption.NOFOLLOW_LINKS)
        .getName == me
      catch { case scala.util.control.NonFatal(_) => false }
    val dirs = Option(tmpRoot.listFiles()).getOrElse(Array.empty)
    for (
      d <- dirs
      if !java.nio.file.Files.isSymbolicLink(d.toPath) &&
        d.isDirectory &&
        (d.getName.startsWith(Prefix) || d.getName.startsWith(LegacyPrefix)) &&
        !registered.contains(d.getAbsolutePath) &&
        now - d.lastModified() > TtlMillis &&
        owned(d)
    ) {
      System.err.println(s"[wave-scratch] sweeping stale wave dir ${d.getAbsolutePath}")
      Sinks.deleteQuietly(d.toPath)
    }
  }

  /** Allocate (and register for exit-time deletion) a scratch directory
    * unique to this session and the caller's plan key. `tag` names the
    * consumer (setjoin, ngram, neardup); `key` carries the FULL plan hash
    * plus fan-out parameters.
    */
  def dirFor(spark: SparkSession, tag: String, key: String): String = {
    hookInstalled
    val app  = spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9_.-]", "_")
    val path = new File(tmpRoot, s"$Prefix$app-$tag-$key").getAbsolutePath
    registered.add(path)
    path
  }

  /** [[dirFor]], guaranteed to start EMPTY — the entry point for the wave
    * campaigns that `mode("append")` per-wave parquet into one directory.
    * Their memo is `computeIfAbsent`, so a campaign that THROWS mid-way
    * (the [[ensureFreeSpace]] require, OOM, ENOSPC — the designed failure
    * modes of exactly this regime) installs no mapping; a retry of the
    * same query in the same session re-enters the closure and gets the
    * SAME deterministic path with waves 0..k−1 already on disk — appending
    * the full campaign onto them would silently duplicate every pair the
    * failed attempt wrote. Deleting any prior contents at campaign entry
    * restores the retry-idempotence the round-14 per-wave-overwrite layout
    * had by construction, at zero cost on the first attempt (the dir does
    * not exist yet).
    */
  def freshDirFor(spark: SparkSession, tag: String, key: String): String = {
    val path = dirFor(spark, tag, key)
    val dir  = new File(path)
    if (dir.exists()) {
      System.err.println(
        s"[wave-scratch] clearing partial wave output from a prior failed campaign at $path")
      Sinks.deleteRecursively(dir.toPath)
    }
    path
  }

  /** Fail fast when the scratch volume cannot hold `needBytes`: the wave
    * estimate already knows the per-wave footprint, so running into ENOSPC
    * instead of reporting it would waste exactly the minutes the estimator
    * exists to save. Deliberately a conservative check — shuffle scratch
    * and the wave parquet share this volume on a single node.
    */
  /** Test seam: the free-space probe [[ensureFreeSpace]] reads. Production
    * value is the scratch volume's usable space; CoreUtilSpec swaps in a
    * fixed value to pin the headroom-guarded refusal without filling a
    * disk, and restores this default in a finally.
    */
  @volatile private[graft] var freeSpaceProbe: () => Long =
    () => tmpRoot.getUsableSpace

  def ensureFreeSpace(needBytes: Long, context: String): Unit = {
    val free = freeSpaceProbe()
    require(
      needBytes <= 0 || free >= needBytes,
      s"$context needs ~$needBytes B of scratch but ${tmpRoot.getAbsolutePath} has only " +
        s"$free B free — lower SPARK_GRAFT_SHUFFLE_BUDGET (more, smaller waves) or free disk"
    )
  }
}
