package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkSession factory for the graft engine.
  *
  * Every graft entry point (Verify, Bench, tests) calls `SparkEnv.session()`
  * FIRST — `getOrCreate()` ignores configs on an already-existing session,
  * so the scale- and correctness-sensitive knobs below must be set by
  * whoever creates the session:
  *
  *   - `spark.sql.shuffle.partitions` = local core count (default 4,
  *     overridable via SPARK_GRAFT_CPUS; the driver harness exports 32).
  *     Pinning partitions==cores is the deliberate local-mode choice; on a
  *     real cluster we'd leave a higher initial value and let AQE coalesce.
  *   - AQE on: runtime re-planning (skew-join splitting, partition
  *     coalescing, dynamic broadcast) is the main lever that lets the same
  *     declarative plans survive a 100x scale-up.
  *   - UTC session time zone + TIMESTAMP_MICROS parquet output so
  *     timestamp-producing results hash-match the DuckDB oracle.
  */
object SparkEnv {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def session(appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // (Round-17 negative result, left at the default true:
      // coalescePartitions.parallelismFirst=false — Spark's own doc
      // recommendation — was measured over the full sweep and SERIALIZED
      // the 1–64 MB stages whose per-row compute is the product:
      // q_shared_passages' fingerprint window 1.8→6.1 s, q_skyline
      // 2.0→3.4 s, q_bootstrap_ci 1.8→2.9 s. The sub-MB iterative-graph
      // shuffles it was meant to shrink already coalesce to one task
      // under parallelismFirst via the 1 MiB minPartitionSize.)
      //
      // Let AQE optimize CACHED plans too (round 17): with the default
      // `false`, every InMemoryRelation materializes at the static
      // shuffle.partitions width — all the family caches pinned 32
      // partitions of kilobytes each, so every cache-reading stage paid
      // 32 tasks of fixed overhead per query. AQE inside the cache build
      // coalesces to the advisory size; the trade (cached output
      // partitioning may stop matching a downstream join's demand) costs
      // an exchange only where one was already being paid — measured
      // whole-sweep before committing.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // native vector expressions (graft_dot / graft_cosine) in every session
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // some fixture generations carry TIMESTAMP(NANOS), which the
      // vectorized reader rejects; read those as raw nanos and let
      // Tables.nanosToTimestamp normalize (a no-op on timestamp[us] files).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // managed (bucketed) tables land outside the repo tree
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Typed accessors for the driver-generated parquet tables
  * (`/root/testdata/sf*`, see TESTDATA.md). Scans stay lazy DataFrames so
  * Catalyst pushes filters/column pruning into the parquet reader.
  */
final class Tables(spark: SparkSession, dir: String) {
  def t(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** `ts` as TIMESTAMP_NTZ, whatever its encoding ([[Tables.nanosToTimestamp]]). */
  def events: DataFrame = Tables.nanosToTimestamp(t("events"))
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** The one parquet reader in src/main: `path` read with its schema given,
    * so building the DataFrame runs no footer-read job. The schema is
    * inferred once per file stamp (every data file under `path` with its
    * relative name, length and mtime), so a rewritten file is re-inferred
    * on its next read. Each call still makes a fresh relation: a self-join
    * keeps distinct expression ids. Inference depends on the parquet
    * settings [[SparkEnv.session]] fixes for every session.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val schema = schemas.computeIfAbsent((path, stamp(spark, path)), _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Vector[(String, Long, Long)]), org.apache.spark.sql.types.StructType]()

  private def stamp(spark: SparkSession, path: String): Vector[(String, Long, Long)] = {
    val root  = new org.apache.hadoop.fs.Path(path)
    val fs    = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base  = fs.makeQualified(root).toUri.getPath
    val files = fs.listFiles(root, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
      .map(f => (f.getPath.toUri.getPath.stripPrefix(base), f.getLen, f.getModificationTime))
      .toVector.sorted
  }

  /** The one `ts` normalization. The fixture generator has shipped two
    * physical encodings, so this adapts on the READ schema: int64
    * epoch-nanos (TIMESTAMP(NANOS) under nanosAsLong) floor-divide to
    * micros with integer `DIV` (epoch-nanos exceed 2^53); a native
    * timestamp[us] is already micros. Every variant lands on TIMESTAMP_NTZ,
    * as the DuckDB oracle's naive TIMESTAMPs; the session TZ is UTC, so the
    * casts change only the logical type, never the instant.
    */
  def nanosToTimestamp(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    events.schema("ts").dataType match {
      case LongType =>
        events.withColumn("ts", expr("cast(timestamp_micros(ts DIV 1000) as timestamp_ntz)"))
      case TimestampNTZType => events
      case TimestampType =>
        events.withColumn("ts", expr("cast(ts as timestamp_ntz)"))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported type $other; expected int64 epoch-nanos or a parquet timestamp")
    }
  }
}
