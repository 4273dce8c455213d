package graft.core

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.ops.Sinks

/** Lifecycle of query scratch directories (round 14).
  *
  * The contamination report's salted expansion
  * ([[graft.queries.Pipeline.contaminationReport]], engaged only when a
  * text's copy count crosses its spread threshold) is written as parquet
  * under `java.io.tmpdir` before it is sorted, and the path is memoized
  * for later constructions. Free scratch disk is the binding constraint on
  * that path, which makes LEAKED scratch output the one failure mode that
  * silently re-creates the ENOSPC hazard (round-13 gates left tens of GB
  * of `graft-setjoin-waves-*` across sessions). Three disciplines:
  *
  *   1. '''Session-unique paths''': directory names embed the Spark
  *      applicationId plus the caller's full (unmasked) plan hash, so two
  *      sessions — or two plans colliding on a masked hash — can never
  *      overwrite each other's parquet while a memo still serves the stale
  *      path.
  *   2. '''Delete on exit''': every directory this session creates is
  *      registered and removed by a JVM shutdown hook — two consecutive
  *      runs leave /tmp flat.
  *   3. '''Crash TTL sweep''': on first use, scratch dirs from OTHER
  *      sessions older than [[TtlMillis]] are deleted (a kill -9'd run
  *      cannot run its hook; a 6h TTL cannot race a live run on one box).
  *
  * Plus the capacity guard: [[ensureFreeSpace]] fails BEFORE the expansion
  * is written when the scratch volume cannot hold its predicted footprint
  * — the estimate's message, not ENOSPC mid-write.
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

  /** Remove scratch dirs left by DEAD sessions: not this session's, not
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
      System.err.println(s"[wave-scratch] sweeping stale scratch dir ${d.getAbsolutePath}")
      Sinks.deleteQuietly(d.toPath)
    }
  }

  /** Allocate (and register for exit-time deletion) a scratch directory
    * unique to this session and the caller's plan key. `tag` names the
    * consumer (contam); `key` carries the FULL plan hash plus the
    * parameters that shape the output.
    */
  def dirFor(spark: SparkSession, tag: String, key: String): String = {
    hookInstalled
    val app  = spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9_.-]", "_")
    val path = new File(tmpRoot, s"$Prefix$app-$tag-$key").getAbsolutePath
    registered.add(path)
    path
  }

  /** Fail fast when the scratch volume cannot hold `needBytes`: the
    * caller's estimate already knows the footprint, so running into ENOSPC
    * instead of reporting it would waste exactly the minutes the estimate
    * exists to save. Deliberately a conservative check — shuffle scratch
    * and the written parquet share this volume on a single node.
    */
  def ensureFreeSpace(needBytes: Long, context: String): Unit = {
    val free = tmpRoot.getUsableSpace
    require(
      needBytes <= 0 || free >= needBytes,
      s"$context needs ~$needBytes B of scratch but ${tmpRoot.getAbsolutePath} has only " +
        s"$free B free — free disk or point java.io.tmpdir at a larger volume"
    )
  }
}
