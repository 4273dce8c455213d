package graft.core

import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.storage.StorageLevel

/** The ONE persist-if-not-cached guard every module shares. Spark's
  * CacheManager keys on the logical plan, so a re-constructed identical
  * DataFrame reports the existing entry's storage level — `frame` is then
  * a no-op instead of logging "Asked to cache already cached data" on
  * every query construction (Bench, Verify, repeated tests). Centralized
  * so a future change to caching policy (storage level, logging,
  * unpersist discipline) has a single point of change.
  */
object Cached {
  /** Persist `df` at MEMORY_AND_DISK (the fastest correct choice at bench
    * scale) unless the plan is already cached.
    */
  def frame(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK) else df

  /** Memoized driver-side probes, keyed on the probe frame's analyzed-plan
    * semantic hash. The measure-then-decide probes (exact-duplicate
    * multiplicity, LSH band saturation, LSH plane derivation, IVF
    * centroid sizing) run at query-CONSTRUCTION time, and each uncached
    * probe is a scheduled job: ~10 pair-family queries paid ~0.1-0.2 s of
    * pure latency × reps per probe before the memo. Same staleness
    * contract as Spark's own CacheManager: a fixture dir rewritten
    * mid-session must not reuse the session.
    */
  private val probeMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  /** Memoized first column of `probe`'s first row, a long — `probe` is a
    * one-row aggregate (coalesce an empty input's null to a value).
    */
  def scalar(probe: DataFrame): Long =
    probeMemo
      .computeIfAbsent(probe.queryExecution.analyzed.semanticHash(), _ => probe.head().getLong(0))
      .longValue()

  /** Memoized `df.count()`; parquet footer metadata makes the first count
    * cheap.
    */
  def count(df: DataFrame): Long = scalar(df.agg(functions.count(functions.lit(1))))
}
