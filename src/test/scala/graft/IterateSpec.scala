package graft

import org.apache.spark.sql.DataFrame

import graft.core.Iterate
import graft.queries.GraphQueries

/** Exactness and shape of [[graft.core.Iterate]], the one loop:
  * the fixpoint exit must return exactly what the same loop returns
  * with the exit off at the full round budget; a zero-edge graph
  * (Σprobe null, 0 rows) must neither throw nor disagree; and each round
  * must cost the Spark jobs measured for its shape, so a lost broadcast
  * gate or a regained exchange fails here without timing anything.
  */
class IterateSpec extends SparkSpec {

  private val scales = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def rows(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** (early-exit run, exit-off run) of each monotone loop at `dir`. */
  private def loops(dir: String): Seq[(String, Boolean => Iterate.Run)] = Seq(
    "q_kcore"      -> (fix => GraphQueries.kcoreRun(spark, dir, toFixpoint = fix)),
    "q_label_prop" -> (fix => GraphQueries.labelPropRun(spark, dir, toFixpoint = fix)),
    "q_bfs_hops"   -> (fix => GraphQueries.bfsRun(spark, dir, toFixpoint = fix))
  )

  for (dir <- scales; name <- Seq("q_kcore", "q_label_prop", "q_bfs_hops"))
    test(s"$name at ${dir.split('/').last}: the fixpoint exit equals the full-budget drive") {
      val drive = loops(dir).toMap.apply(name)
      val early = drive(true)
      val full  = drive(false)
      assert(!full.fixpoint && full.rounds.size >= early.rounds.size)
      assert(rows(early.last.frame) == rows(full.last.frame), s"$name: early exit changed the output")
      info(s"$name: ${early.last.index} of ${full.last.index} rounds, fixpoint ${early.fixpoint}")
    }

  test("q_kcore stops after peel round 10 of 16 at sf0.01") {
    val run = GraphQueries.kcoreRun(spark, "/root/testdata/sf0.01")
    assert(run.fixpoint, "k-core never reached its fixpoint within the budget")
    // the seed is peel round 1, so loop round i is peel round i + 1
    assert(run.last.index + 1 == 10, s"stopped after peel round ${run.last.index + 1}")
    // the last two rounds carry the same measure, and the alive set never grows
    val (a, b) = (run.rounds(run.rounds.size - 2), run.last)
    assert(a.rows == b.rows && a.sum == b.sum)
    val alive = run.rounds.map(_.rows)
    assert(alive.zip(alive.tail).forall { case (x, y) => y <= x }, s"rows per round: $alive")
  }

  test("nearDupClusters: the fixpoint exit equals a full-budget drive at both scales") {
    for (dir <- scales) {
      val docs = graft.core.Tables(spark, dir).documents
      val early = graft.ext.Dedup.nearDupClusterRun(docs, 1, 5, 10)
      val full  = graft.ext.Dedup.nearDupClusterRun(docs, 1, 5, 10, toFixpoint = false)
      assert(early.fixpoint && !full.fixpoint)
      assert(rows(early.last.frame) == rows(full.last.frame),
        s"nearDupClusters at $dir differs from the full-budget drive")
    }
  }

  test("a zero-edge graph: Σ is null on 0 rows, and neither drive throws or disagrees") {
    val dir = java.nio.file.Files.createTempDirectory("graft-iterate-empty")
    try {
      val src = graft.core.Tables(spark, "/root/testdata/sf0.001")
      src.embeddings.limit(0).write.parquet(dir.resolve("embeddings.parquet").toString)
      for ((name, drive) <- loops(dir.toString)) {
        val early = drive(true)
        val full  = drive(false)
        assert(early.last.rows == 0L && early.last.sum == null, s"$name: $early")
        assert(early.fixpoint, s"$name: an empty state must be its own fixpoint")
        assert(rows(early.last.frame).isEmpty && rows(full.last.frame).isEmpty)
      }
      import spark.implicits._
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      val dedup = graft.ext.Dedup.nearDupClusterRun(empty, 1, 5, 10)
      assert(dedup.fixpoint && dedup.last.rows == 0L && dedup.last.sum == null, s"dedup: $dedup")
      assert(graft.ext.Dedup.nearDupClusters(empty, 1, 5).count() == 0L)
    } finally graft.ops.Sinks.deleteRecursively(dir)
  }

  test("each loop round costs its measured Spark jobs at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    // (query, run, step, probe, jobs per round): a measured state broadcast
    // onto a cached grain is one broadcast job plus the round's one
    // checkpoint job (k-core's two alive sides share one broadcast); label
    // prop's jump broadcasts the round's min frame too
    val kEdges = GraphQueries.kcoreEdges(spark, dir)
    val e      = GraphQueries.hitsEdges(spark, dir)
    val hits   = GraphQueries.hitsStep(e)
    val cases: Seq[(String, Iterate.Run, Iterate.Round => DataFrame, String, Int)] = Seq(
      ("q_kcore", GraphQueries.kcoreRun(spark, dir), GraphQueries.kcoreStep(kEdges), "deg", 2),
      ("q_label_prop", GraphQueries.labelPropRun(spark, dir),
        GraphQueries.lpStep(GraphQueries.loopEdges(spark, dir)), "lbl", 3),
      ("q_bfs_hops", GraphQueries.bfsRun(spark, dir),
        GraphQueries.bfsStep(GraphQueries.loopEdges(spark, dir)), "hops", 2),
      ("q_hits", Iterate(GraphQueries.hitsSeed(e), "raw", 2, toFixpoint = false)(hits), hits, "raw", 2)
    )
    for ((name, run, step, probe, perRound) <- cases) {
      // one more round off a measured (checkpointed) state, after the run
      // built the session caches and memoized seed counts
      val (_, jobs) = jobsDuring(Iterate.measure(step(run.rounds(1)), probe))
      assert(jobs == perRound, s"$name: $jobs Spark jobs in one round, measured $perRound")
    }
  }
}
