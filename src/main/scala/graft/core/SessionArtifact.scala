package graft.core

/** Shared scaffolding for session-scoped offline-build artifacts — the
  * IVF-index / z-order-layout / base-MV / k-NN-graph shape: a build that
  * production schedules as its own job, materialized once per (JVM,
  * fixture dir) under tmpdir and read by every consuming query in the
  * session. Query scratch uses the same paths and memo, keyed on a plan
  * hash instead of a fixture dir (q_contamination's salted expansion).
  *
  * Centralized because the idiom had already drifted four ways: each
  * builder hand-rolled the md5 tag, the pid-scoped path, the FutureTask
  * memoizer, and (only sometimes) the shutdown-hook sweep — two of the
  * four builders leaked their parquet under /tmp on every JVM exit. With
  * one [[pathFor]] the sweep is uniform by construction, and [[memo]] is
  * the Goetz memoizer (computeIfAbsent installs a cheap FutureTask without
  * holding any lock across the Spark write, so concurrent first calls for
  * DIFFERENT dirs build in parallel while same-dir callers block on one
  * shared build).
  */
object SessionArtifact {

  private val sweptPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    sweptPaths.forEach(p => graft.ops.Sinks.deleteQuietly(java.nio.file.Paths.get(p)))
  }))

  /** Tmpdir path for an artifact of `prefix` over fixture `dir`, registered
    * for the exit sweep. Pid-scoped like every session artifact: a per-JVM
    * memo must not share a directory with another process working the same
    * fixture.
    */
  def pathFor(prefix: String, dir: String): String = {
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"$prefix-${tag(dir)}-p${ProcessHandle.current().pid()}"
    ).getAbsolutePath
    sweptPaths.add(path)
    path
  }

  /** Short stable identifier for a fixture dir — for artifact names that
    * live in a per-JVM namespace (catalog tables) rather than on disk, so
    * pid-scoping is unnecessary but cross-dir uniqueness still is.
    */
  def tag(dir: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(dir.getBytes)
      .map("%02x".format(_))
      .mkString
      .take(12)

  /** Per-dir build memoizer: run `build` once per key, concurrent same-key
    * callers block on the one in-flight build. A FAILED build is not
    * memoized — the entry is dropped so a later call can retry (a
    * transient IO/Spark error would otherwise replay forever) and the
    * original cause is rethrown, not the ExecutionException wrapper — the
    * standard Goetz memoizer failure-handling refinement.
    */
  def memo[T](
      cache: java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.FutureTask[T]],
      key: String
  )(build: => T): T = {
    val task = cache.computeIfAbsent(key, _ => new java.util.concurrent.FutureTask[T](() => build))
    task.run() // FutureTask runs at most once; losers of the race just wait
    try task.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        cache.remove(key, task)
        throw Option(e.getCause).getOrElse(e)
    }
  }

  /** Fail fast when the scratch volume cannot hold `needBytes`: a caller
    * whose estimate already knows an artifact's footprint reports it
    * instead of running into ENOSPC mid-write. Conservative on purpose —
    * shuffle scratch and the written parquet share this volume on a single
    * node.
    */
  def ensureFreeSpace(needBytes: Long, context: String): Unit = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"))
    val free = root.getUsableSpace
    require(
      needBytes <= 0 || free >= needBytes,
      s"$context needs ~$needBytes B of scratch but ${root.getAbsolutePath} has only " +
        s"$free B free — free disk or point java.io.tmpdir at a larger volume"
    )
  }
}
