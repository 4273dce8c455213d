package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.ops.GroupStage

/** Golden parity of the rank-mod distinct-line router against the
  * reference's `test_manager_08` fixtures
  * (`/root/reference/tests/testdata/test_manager_08/correct/job-0/grouper-output/`),
  * plus routing invariants on both modes and the hash router's map-side
  * combine.
  */
class GroupStageSpec extends SparkSpec {

  private lazy val mapperOut: Seq[String] =
    Seq("file01", "file02", "file03", "file04")
      .flatMap(f => readLines(resource(s"groupstage/mapper-output/$f")))

  test("rank-mod router reproduces reduce01/reduce02 goldens byte-for-byte") {
    val lines  = spark.sparkContext.parallelize(mapperOut, 4)
    val routed = GroupStage(lines, 2, parityMode = true)
    val parts = routed
      .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.toList)) }
      .collect()
      .toMap
    assert(parts(0) == readLines(resource("groupstage/correct/reduce01")))
    assert(parts(1) == readLines(resource("groupstage/correct/reduce02")))
  }

  test("both routers keep all copies of a line in exactly one bucket, sorted") {
    val data  = (1 to 500).map(i => s"k${i % 37}\t${i % 5}") ++ Seq("\t1", "\t1")
    val lines = spark.sparkContext.parallelize(data, 8)
    for (mode <- Seq(true, false)) {
      val parts = GroupStage(lines, 3, mode)
        .mapPartitionsWithIndex { case (i, it) => it.map(l => (l, i)) }
        .collect()
      // multiset preserved
      assert(parts.map(_._1).sorted.toSeq == data.sorted)
      // each distinct line appears in exactly one partition
      val byLine = parts.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length)
      assert(byLine.values.forall(_ == 1))
    }
  }

  /** Heavy duplicates, one key with several values, `"\t1"` lines, a
    * proper-prefix pair continuing with '\t' and one continuing with a
    * char below '\n' — both sort BEFORE their prefix under the reference's
    * newline-terminated order.
    */
  private val combineData: Seq[String] =
    (1 to 2000).map(i => s"w${i % 7}\t1") ++ (1 to 300).map(i => s"key\t${i % 3}") ++
      Seq.fill(40)("\t1") ++ Seq.fill(5)("ab") ++ Seq.fill(3)("ab\tc") ++ Seq.fill(4)("ab\u0001c") ++
      Seq("ab\n", "ab\nz")

  test("hash router equals the driver-side model partition by partition") {
    val lines = spark.sparkContext.parallelize(new scala.util.Random(7).shuffle(combineData), 8)
    // n = 1 puts every prefix pair in one partition, so their order is pinned
    for (n <- Seq(1, 3)) {
      val parts = GroupStage(lines, n, parityMode = false)
        .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.toList)) }
        .collect()
        .toMap
      val model = combineData
        .groupBy(l => Math.floorMod(l.hashCode, n))
        .view
        .mapValues(_.sortWith((a, b) => (a + "\n").compareTo(b + "\n") < 0).toList)
        .toMap
      assert(parts.keySet == (0 until n).toSet)
      for (i <- 0 until n) assert(parts(i) == model.getOrElse(i, Nil), s"partition $i of $n")
    }
  }

  test("hash router shuffles one record per distinct (map partition, line) pair") {
    val sc    = spark.sparkContext
    val lines = sc.parallelize(combineData, 8)
    val distinctPairs = lines.glom().map(_.distinct.length.toLong).sum().toLong
    val group         = "groupstage-combine-probe"
    val stages        = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val mapTasks      = new AtomicLong(0L)
    val records       = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("spark.jobGroup.id") == group)
          js.stageIds.foreach(stages.add)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskType == "ShuffleMapTask" && te.taskMetrics != null) {
          records.addAndGet(te.taskMetrics.shuffleWriteMetrics.recordsWritten)
          mapTasks.incrementAndGet(): Unit
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "count the hash router's shuffle records")
      try GroupStage(lines, 3, parityMode = false).count()
      finally sc.clearJobGroup()
      // listener events arrive asynchronously: wait for all 8 map tasks
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (mapTasks.get() < 8 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally sc.removeSparkListener(listener)
    assert(mapTasks.get() == 8L)
    assert(records.get() == distinctPairs)
    assert(distinctPairs * 20 < combineData.size, "fixture must be duplicate-heavy")
  }

  /** More distinct lines than [[GroupStage.CombineBound]], interleaved
    * with heavy duplicates that therefore span several table flushes.
    */
  private lazy val overBound: Seq[String] =
    new scala.util.Random(11).shuffle(
      (0 until GroupStage.CombineBound + 4000).map(i => s"d$i\t1") ++ (1 to 30000).map(i => s"w${i % 13}\t${i % 2}")
    )

  test("combine flushes at its entry bound and still counts the input multiset") {
    val counts = GroupStage.combine(overBound.iterator).toList
    // the duplicated lines come out in several partial counts
    assert(counts.size > counts.map(_._1).distinct.size)
    assert(counts.groupMapReduce(_._1)(_._2)(_ + _) == overBound.groupMapReduce(identity)(_ => 1L)(_ + _))
  }

  test("hash router over one partition past the combine bound equals the driver-side model") {
    val n = 3
    val parts = GroupStage(spark.sparkContext.parallelize(overBound, 1), n, parityMode = false)
      .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.toList)) }
      .collect()
      .toMap
    val model = overBound
      .groupBy(l => Math.floorMod(l.hashCode, n))
      .view
      .mapValues(_.sortWith((a, b) => (a + "\n").compareTo(b + "\n") < 0).toList)
      .toMap
    for (i <- 0 until n) assert(parts(i) == model(i), s"partition $i of $n")
  }

  test("sort task reproduces the test_worker_06 merged golden (1 reducer)") {
    // the reference's worker sort task: concat group inputs, line-sort
    // (`/root/reference/tests/test_worker_06.py:109-122` asserts the
    // sorted union of both input files)
    val input = Seq("worker06/test_worker_06.group_input01", "worker06/test_worker_06.group_input02")
      .flatMap(f => readLines(resource(s"groupstage/$f")))
    val lines  = spark.sparkContext.parallelize(input, 2)
    val merged = GroupStage(lines, 1, parityMode = true)
      .collect()
      .toList
    assert(merged == input.sorted)
    assert(
      merged == List("\t1", "\t1", "bye\t1", "goodbye\t1", "hadoop\t1", "hadoop\t1",
        "hello\t1", "hello\t1", "world\t1", "world\t1")
    )
  }

  test("rank-mod assigns consecutive sorted distinct lines round-robin") {
    val data  = Seq("a\t1", "b\t1", "c\t1", "d\t1", "e\t1", "a\t1")
    val lines = spark.sparkContext.parallelize(data, 2)
    val parts = GroupStage(lines, 2, parityMode = true)
      .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.toList)) }
      .collect()
      .toMap
    // sorted distinct: a b c d e → buckets 0 1 0 1 0; both copies of "a" in bucket 0
    assert(parts(0) == List("a\t1", "a\t1", "c\t1", "e\t1"))
    assert(parts(1) == List("b\t1", "d\t1"))
  }
}
