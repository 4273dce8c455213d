package graft.core

/** Session registry of offline-build wall times that happen INSIDE a query
  * construction rather than in Bench.warmUp — today the contamination
  * report's salted expansion memo, whose first construction writes the
  * expansion to scratch parquet and whose later reps then just re-read
  * it. Min-of-N timing would record the parquet-scan wall and silently
  * drop the expansion cost; Bench
  * merges this map into its `artifacts` field instead, the same honest
  * accounting the memoized pipeline stages get.
  */
object BuildWalls {
  private val walls =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** A session that builds an artifact for MORE than one plan under the same
    * name (multi-fixture gate, retry after a corpus rewrite) must not
    * silently overwrite the earlier wall: the first build keeps the bare
    * name (so round-over-round artifact diffs keep matching), later ones
    * get `name#2`, `name#3`, … — every wall this session paid stays in
    * the merged artifact.
    */
  def record(name: String, sec: Double): Unit = {
    var i = 1
    var k = name
    while (walls.putIfAbsent(k, sec) != null) {
      i += 1
      k = s"$name#$i"
    }
  }

  def snapshot: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    walls.forEach((k, v) => b += (k -> v.doubleValue()))
    b.result()
  }
}
