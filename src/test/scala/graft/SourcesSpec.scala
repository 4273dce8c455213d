package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileSplit, TextInputFormat}
import org.apache.spark.rdd.HadoopRDD
import org.apache.spark.sql.functions._

import graft.api.{Engine, JobSpec}
import graft.sources.{LineSource, Sources}

/** The compacted partitioned parquet sink and the Engine's line source. */
class SourcesSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(name).resolve("data").toString

  test("compacted partitioned write emits one file per value, re-split by record cap") {
    // 100 rows over 2 partition values, on a multi-partition source df
    val df = spark.range(100).select(
      col("id"),
      (col("id") % 2).cast("string").as("bucket")
    ).repartition(8)
    val out = tmp("compact")
    Sources.writeParquetCompacted(df, out, partitionBy = Seq("bucket"), maxRecordsPerFile = 1000)
    def parts(v: String) = new java.io.File(s"$out/bucket=$v")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    // without the repartition this would be up to 8 files per value
    assert(parts("0").length == 1, parts("0").mkString(","))
    assert(parts("1").length == 1, parts("1").mkString(","))
    // the record cap re-splits an oversized partition value
    val out2 = tmp("compact2")
    Sources.writeParquetCompacted(df, out2, partitionBy = Seq("bucket"), maxRecordsPerFile = 20)
    val n0 = new java.io.File(s"$out2/bucket=0").listFiles().count(_.getName.endsWith(".parquet"))
    assert(n0 == 3, s"50 rows at cap 20 should split into 3 files, got $n0") // ceil(50/20)
    assert(spark.read.parquet(out2).count() == 100)
  }

  test("partitioned parquet write enables partition pruning on read") {
    import spark.implicits._
    // the IVF index's layout: a compacted write partitioned by the probe key
    val df = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0), (3L, "2024-01-02", 3.0))
      .toDF("id", "day", "v")
    val out = tmp("part")
    Sources.writeParquetCompacted(df, out, partitionBy = Seq("day"), maxRecordsPerFile = 1000)
    val pruned = spark.read.parquet(out).filter(col("day") === "2024-01-02")
    assert(pruned.count() == 2)
    // the physical scan must read only the matching partition directory
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") && scan.contains("day"), scan)
  }

  test("text reader exposes per-file identity like the reference's file scan") {
    // each split of the Engine's line source names the one file it reads,
    // as each of the reference's map tasks owns one input file
    val path  = resource("wc/input")
    val lines = LineSource(spark.sparkContext, path, 8)
    val files = lines.partitions.map(_.asInstanceOf[LineSource.Split].file).distinct
    assert(files.length == 8)
    assert(files.forall(_.contains("file0")))
    assert(files.toSeq == LineSource.files(path).map(_.toString))
  }

  /** A generated input directory: 1-5 files of lines ended by random
    * `\n`, `\r` and `\r\n`, holding lone 0xC3 / 0xA9 bytes and `é`,
    * sometimes opening with a UTF-8 byte-order mark and sometimes ending
    * in an unterminated tail; plus an empty file and the hidden `_SUCCESS`
    * and `.hidden`, which a read must skip.
    */
  private def lineDir(seed: Int): Path = {
    val rnd   = new scala.util.Random(seed)
    val dir   = Files.createTempDirectory(s"lines-$seed")
    val atoms = Seq("a", "Bb", "ccc", "\u00e9", " ", "\t").map(_.getBytes("UTF-8")) ++
      Seq(Array(0xc3.toByte), Array(0xa9.toByte))
    val ends = Seq("\n", "\r", "\r\n").map(_.getBytes("UTF-8"))
    for (i <- 0 until 1 + rnd.nextInt(5)) {
      val out = new java.io.ByteArrayOutputStream
      if (rnd.nextInt(3) == 0) out.write(Array(0xef, 0xbb, 0xbf).map(_.toByte))
      for (_ <- 0 until rnd.nextInt(60)) {
        for (_ <- 0 until rnd.nextInt(6)) out.write(atoms(rnd.nextInt(atoms.size)))
        out.write(ends(rnd.nextInt(ends.size)))
      }
      if (rnd.nextBoolean()) out.write("tail".getBytes("UTF-8"))
      Files.write(dir.resolve(f"part$i%02d"), out.toByteArray)
    }
    Files.write(dir.resolve("part-empty"), Array.emptyByteArray)
    Files.write(dir.resolve("_SUCCESS"), "hidden\n".getBytes("UTF-8"))
    Files.write(dir.resolve(".hidden"), "hidden\n".getBytes("UTF-8"))
    dir
  }

  test("line source equals a Hadoop text read: lines, partition count and partition contents") {
    val sc = spark.sparkContext
    // `sc.textFile`'s own read, each partition keyed by its split. Hadoop
    // lists a directory in file-system order, the line source in name
    // order, so partitions are compared split by split.
    def hadoop(path: String, n: Int): Seq[((String, Long, Long), List[String])] =
      sc.hadoopFile(path, classOf[TextInputFormat], classOf[LongWritable], classOf[Text], n)
        .asInstanceOf[HadoopRDD[LongWritable, Text]]
        .mapPartitionsWithInputSplit { (split, it) =>
          val s = split.asInstanceOf[FileSplit]
          Iterator(((s.getPath.toUri.getPath, s.getStart, s.getLength), it.map(_._2.toString).toList))
        }
        .collect()
        .toSeq
    def ours(path: String, n: Int): Seq[((String, Long, Long), List[String])] = {
      val splits = LineSource.splits(LineSource.files(path).map(f => (f.toString, Files.size(f))), n)
      splits.map(s => (s.file, s.start, s.length))
        .zip(LineSource(sc, path, n).mapPartitions(it => Iterator(it.toList)).collect())
    }
    // 30 bytes at 3 mappers: splits [0,10) [10,20) [20,30), and the
    // `\r\n` at bytes 9-10 straddles the first boundary
    val straddle = Files.createTempDirectory("lines-straddle")
    Files.write(straddle.resolve("part00"), "012345678\r\nabcdefghijklmnopq\r\n".getBytes("UTF-8"))
    val dirs = straddle +: (1 to 10).map(lineDir)
    val cuts = scala.collection.mutable.Set.empty[String]
    try {
      for (dir <- dirs.map(_.toString) :+ dirs(1).resolve("part00").toString; n <- Seq(1, 3, 7, 50)) {
        val got = ours(dir, n)
        val at  = s"$dir at $n mappers"
        val textFile = sc.textFile(dir, n)
        assert(got.size == textFile.getNumPartitions, at)
        assert(got.flatMap(_._2).sorted == textFile.collect().toSeq.sorted, at)
        assert(got == hadoop(dir, n).sortBy(_._1), at)
        // record which terminators the split boundaries fell after
        for (((file, start, _), _) <- got if start > 0) {
          val bytes = Files.readAllBytes(java.nio.file.Paths.get(file))
          if (bytes(start.toInt - 1) == '\r') cuts += (if (bytes(start.toInt) == '\n') "cr|lf" else "cr|")
        }
      }
      assert(cuts == Set("cr|lf", "cr|"), "the inputs must cut both inside a \\r\\n and after a lone \\r")
    } finally dirs.foreach(graft.ops.Sinks.deleteRecursively)
  }

  test("line source rejects a missing path or a subdirectory before any Spark job runs") {
    val dir = Files.createTempDirectory("lines-bad")
    Files.write(dir.resolve("part00"), "a\n".getBytes("UTF-8"))
    Files.createDirectory(dir.resolve("sub"))
    val missing = dir.resolve("missing").toString
    val outDir  = Files.createTempDirectory("lines-bad-out")
    val out     = outDir.resolve("out")
    try {
      // the source is lazy past its listing, so a throw here is before any job
      assert(intercept[IllegalArgumentException](LineSource(spark.sparkContext, missing, 2)).getMessage.contains(missing))
      assert(intercept[IllegalArgumentException](LineSource(spark.sparkContext, dir.toString, 2))
        .getMessage.contains(dir.resolve("sub").toString))
      // a job fails before its sink clears and creates the output directory
      intercept[IllegalArgumentException](new Engine(spark).runJob(JobSpec(missing, out.toString)))
      assert(!Files.exists(out))
    } finally Seq(dir, outDir).foreach(graft.ops.Sinks.deleteRecursively)
  }
}
