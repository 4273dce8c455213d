package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Partitioned parquet sink. The reference reads and writes only
  * newline-delimited text directories; every other format goes through
  * Spark's own `DataFrameReader`/`Writer` directly. This is the one write
  * shape that needs more than a call.
  */
object Sources {

  /** Compacted partitioned write — the small-files guard. A naive
    * partitionBy write emits one file per (shuffle partition × partition
    * value): with 32 tasks and 1000 dates that is 32,000 files per write,
    * and at 100 TB the metadata alone throttles every downstream scan.
    * Repartitioning BY the partition columns first routes each value to one
    * task (one file per value), while `maxRecordsPerFile` re-splits values
    * too large for a single healthy file. Skewed partition values that
    * overwhelm even that get salted by the caller before the write.
    */
  def writeParquetCompacted(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String],
      maxRecordsPerFile: Long
  ): Unit = {
    require(partitionBy.nonEmpty, "compacted write needs partition columns")
    df.repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .partitionBy(partitionBy: _*)
      .parquet(path)
    // a partitioned write of zero rows leaves no data file, so a later read
    // could not infer the schema: write the empty frame unpartitioned
    val out = new org.apache.hadoop.fs.Path(path)
    val fs  = out.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.listStatus(out).exists(_.getPath.getName.startsWith(partitionBy.head + "=")))
      df.limit(0).write.mode(SaveMode.Overwrite).parquet(path)
  }
}
