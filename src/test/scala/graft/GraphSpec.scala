package graft

import org.apache.spark.sql.functions._

import graft.queries.GraphQueries

/** Semantics of the round-9 operators beyond their oracle hash checks:
  * PageRank invariants on the FULL rank table (the registered query is the
  * top 20), BM25 scoring cross-checked against a driver-side replay on the
  * fixture, and the topic-mixture totals.
  */
class GraphSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("pagerank conserves rank mass within the integer-floor dust bound") {
    val ranks = graft.queries.GraphQueries.pagerankRanks(spark, sf)
    val row   = ranks.agg(
      sum("rank_scaled").as("mass"),
      count(lit(1)).as("n"),
      min("rank_scaled").as("lo")
    ).collect()(0)
    val mass = row.getLong(0)
    val n    = row.getLong(1)
    // every node keeps a positive rank, and total mass stays at SCALE minus
    // bounded div-floor dust: each superstep loses < 1 unit per (edge
    // contribution + damping div), so after K steps the loss is tiny
    // relative to SCALE = 10^12
    assert(row.getLong(2) > 0L, "every node must keep positive rank")
    assert(mass <= graft.queries.GraphQueries.Scale, s"mass $mass exceeds SCALE")
    assert(
      mass > (graft.queries.GraphQueries.Scale / 100L) * 99L,
      s"mass $mass lost more than 1% to floor dust"
    )
    // bidirected construction: the node set is exactly suppliers ∪ parts
    // present in lineitem, preserved through every superstep
    val expected = graft.core
      .Tables(spark, sf)
      .lineitem
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
      .agg(
        (countDistinct(col("sk")) + countDistinct(col("pk"))).as("n_nodes")
      )
      .collect()(0)
      .getLong(0)
    assert(n == expected, s"rank table has $n nodes, graph has $expected")
  }

  test("pagerank K=20 through the checkpoint ladder: invariants hold, wall stays ~linear in K") {
    // K=20 crosses three localCheckpoint boundaries (every 5 supersteps).
    // Without lineage truncation the chained 20-step plan made ANALYSIS
    // itself super-linear; with it, doubling K from 10 to 20 must roughly
    // double wall, not blow up (generous 4x bound with a 1 s floor for
    // fixed overhead, same discipline as StressSpec's wall gates).
    def timedRun(k: Int): (Double, Long, Long) = {
      System.gc()
      val t0  = System.nanoTime()
      val row = graft.queries.GraphQueries
        .pagerankRanks(spark, sf, iters = k)
        .agg(sum("rank_scaled").as("mass"), count(lit(1)).as("n"))
        .collect()(0)
      ((System.nanoTime() - t0) / 1e9, row.getLong(0), row.getLong(1))
    }
    val (t10, _, n10)     = timedRun(10)
    val (t20, mass20, n20) = timedRun(20)
    info(f"pagerank wall: K=10 $t10%.2fs, K=20 $t20%.2fs")
    assert(n20 == n10, "node set must be preserved at any K")
    assert(mass20 <= graft.queries.GraphQueries.Scale)
    assert(
      mass20 > (graft.queries.GraphQueries.Scale / 100L) * 99L,
      s"mass $mass20 lost more than 1% to floor dust at K=20"
    )
    assert(t20 <= 4.0 * math.max(t10, 1.0), f"K=20 wall $t20%.2fs vs K=10 $t10%.2fs — superlinear in K")
  }

  test("pagerank favors high-degree nodes: top node degree >= median degree") {
    val top = graft.queries.GraphQueries
      .pagerankRanks(spark, sf)
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(1)
      .collect()(0)
      .getLong(0)
    val degs = graft.core
      .Tables(spark, sf)
      .lineitem
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
      .distinct()
      .select(explode(array(col("sk") * 2, col("pk") * 2 + 1)).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
    val topDeg = degs.filter(col("node") === top).collect()(0).getLong(1)
    val medianDeg = degs
      .selectExpr("percentile_approx(deg, 0.5) as m")
      .collect()(0)
      .getLong(0)
    assert(
      topDeg >= medianDeg,
      s"top-ranked node's degree $topDeg below median $medianDeg — damped PR should favor hubs"
    )
  }

  test("bm25 matches a driver-side integer replay on the fixture") {
    val docs = graft.core.Tables(spark, sf).documents
      .select("doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase.split(" ", -1).toSeq))
    val terms = Seq("scan", "join", "window")
    val dl    = docs.map { case (id, ts) => id -> ts.size.toLong }.toMap
    val s     = dl.values.sum
    val n     = docs.length.toLong
    val tf = docs
      .flatMap { case (id, ts) => ts.filter(terms.contains).map(t => (id, t)) }
      .groupBy(identity)
      .map { case ((id, t), xs) => (id, t, xs.length.toLong) }
      .toSeq
    val df = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val scores = tf
      .map { case (id, t, f) =>
        val idf    = (1000000L * n) / df(t)
        val tfpart = (22L * s * f * 1000L) / (10L * s * f + 3L * s + 9L * dl(id) * n)
        id -> idf * tfpart
      }
      .groupBy(_._1)
      .map { case (id, xs) => (id, xs.map(_._2).sum, xs.size.toLong) }
    val expected = scores.toSeq
      .sortBy { case (id, sc, _) => (-sc, id) }
      .take(20)
    val got = graft.queries.TextQueries.bm25
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == expected, s"bm25 mismatch:\n got     $got\n expected $expected")
    assert(got.nonEmpty && got.head._2 > 0L)
  }

  test("q_label_prop: converged on the fixture and equal to true mutual-kNN components") {
    val labels = graft.queries.Registry
      .queries("q_label_prop")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

    // one more synchronous round changes nothing: at this scale the labels
    // reach their fixpoint exactly at round LpIters (larger fixtures need
    // more rounds; the oracle replays the same fixed K there)
    val more = graft.queries.GraphQueries
      .labelPropRun(spark, sf, graft.queries.GraphQueries.LpIters + 1).last.frame
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(labels == more, "label propagation had not converged at LpIters")

    // driver-side union-find over the mutual edge set: community == the
    // min vec_id of the true connected component
    val mutual = graft.ext.Similarity
      .mutualKnnEdges(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    labels.foreach { case (node, community) =>
      assert(community == find(node), s"node $node: community $community != ${find(node)}")
    }
    // sanity: at least one non-singleton community exists on the fixture
    assert(labels.exists { case (n, c) => n != c }, "no non-trivial community found")
  }

  test("topic clusters: mixture totals equal the embedding corpus, cids within range") {
    val mix = graft.queries.Registry.queries("q_topic_clusters")(spark, sf)
    val tot = mix.agg(sum("n_vecs")).collect()(0).getLong(0)
    val nVec = graft.core.Tables(spark, sf).embeddings.count()
    assert(tot == nVec, s"mixture covers $tot of $nVec vectors")
    val cids = mix.select("cid").distinct().collect().map(_.getInt(0))
    // C is derived per corpus (clamp(ceil(sqrt(n)), [NCentroids, MaxCentroids]))
    val c    = graft.ext.Ivf.derivedCentroids(nVec)
    assert(cids.forall(cid => cid >= 0 && cid < c), s"cid out of [0, $c)")
  }

  test("q_kcore: equals the true 2-core fixpoint, reached within the round budget") {
    val out = graft.queries.Registry
      .queries("q_kcore")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

    // from-scratch peel to the TRUE fixpoint over the mutual edge set
    val mutual = graft.ext.Similarity
      .mutualKnnEdges(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    mutual.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    var alive  = adj.keySet.toSet
    var rounds = 0
    var done   = false
    while (!done) {
      val kill = alive.filter(v => (adj(v) & alive).size < GraphQueries.KcoreK)
      if (kill.isEmpty) done = true
      else { alive --= kill; rounds += 1 }
    }
    assert(
      rounds <= GraphQueries.KcoreRounds,
      s"fixture peel depth $rounds exceeds the ${GraphQueries.KcoreRounds}-round budget"
    )
    assert(out.keySet === alive, "survivor set differs from the true 2-core")
    out.foreach { case (v, d) =>
      assert(d === (adj(v) & alive).size.toLong, s"degree mismatch at node $v")
    }
    // non-trivial on the fixture: the 2-core keeps some cycle structure
    assert(alive.nonEmpty, "fixture 2-core unexpectedly empty")
  }

  test("q_bfs_hops: registered radius equals the true fixpoint and a driver-side BFS") {
    val out = graft.queries.Registry
      .queries("q_bfs_hops")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

    // driver-side multi-source BFS over the same symmetric edge set
    val edges = GraphQueries
      .lpSymEdges(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    edges.foreach { case (s0, d0) => adj(s0) ::= d0 }
    val seeds = graft.core
      .Tables(spark, sf)
      .embeddings
      .filter(col("label") === 0)
      .select("vec_id")
      .collect()
      .map(_.getLong(0))
    val dist    = scala.collection.mutable.Map.empty[Long, Long]
    var frontier = seeds.toList
    seeds.foreach(dist(_) = 0L)
    var depth = 0L
    while (frontier.nonEmpty) {
      depth += 1
      frontier = frontier.flatMap(adj).filterNot(dist.contains).distinct
      frontier.foreach(dist(_) = depth)
    }
    // the fixture's relaxation converges inside the registered budget: the
    // true eccentricity from the seed set fits in BfsRounds, so the K-round
    // min-plus table IS the fixpoint (no truncated-distance rows shipped)
    assert(
      dist.values.max <= GraphQueries.BfsRounds,
      s"seed eccentricity ${dist.values.max} exceeds the ${GraphQueries.BfsRounds}-round budget"
    )
    assert(out === dist.toMap, "relaxation distances differ from the driver BFS")
    // non-trivial: reaches beyond the seeds but not the whole graph
    assert(dist.values.max >= 1L, "fixture BFS never leaves the seed set")
  }

  test("q_hits: both sides present, scores positive and mass-bounded by the scale") {
    val rows = graft.queries.Registry.queries("q_hits")(spark, sf).collect()
    val (hubs, auths) = rows.partition(_.getString(0) == "hub")
    assert(hubs.nonEmpty && auths.nonEmpty, "both HITS sides must survive")
    assert(rows.forall(_.getLong(2) > 0L), "top scores must be positive")
    // each side renormalizes to HitsScale; the top-20 slice can only carry
    // less. Floor dust means strictly <= on the full frame too.
    assert(hubs.map(_.getLong(2)).sum <= GraphQueries.HitsScale, "hub mass exceeds scale")
    assert(auths.map(_.getLong(2)).sum <= GraphQueries.HitsScale, "authority mass exceeds scale")
    // within each side the result is score-descending with node tiebreak
    Seq(hubs, auths).foreach { side =>
      side.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(2) >= b.getLong(2), "side not score-sorted")
        case _           => ()
      }
    }
  }

  test("q_hits on an empty edge set returns no rows with the query's schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hits-empty")
    try {
      graft.core.Tables(spark, sf).lineitem.limit(0)
        .write.parquet(dir.resolve("lineitem.parquet").toString)
      val empty = graft.queries.Registry.queries("q_hits")(spark, dir.toString)
      val full  = graft.queries.Registry.queries("q_hits")(spark, sf)
      def shape(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
      assert(shape(empty) == shape(full))
      assert(empty.collect().isEmpty)
    } finally graft.ops.Sinks.deleteRecursively(dir)
  }

  test("q_link_predict: only distance-2 non-edges, scores match a driver replay") {
    val out = graft.queries.Registry.queries("q_link_predict")(spark, sf).collect()
    assert(out.nonEmpty, "fixture graph has no predicted links")
    val edges = graft.ext.Similarity
      .mutualKnnEdges(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    def aaW(deg: Int): Long = 1000000L / math.max(63 - java.lang.Long.numberOfLeadingZeros(deg.toLong), 1L)
    out.foreach { r =>
      val (u, v, cn, aa) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(!adj(u).contains(v), s"($u,$v) is an existing edge")
      val common = adj(u) & adj(v)
      assert(common.size.toLong == cn, s"($u,$v) common-neighbor count mismatch")
      // iterator, not Set.map — equal weights must not collapse before the sum
      assert(common.iterator.map(w => aaW(adj(w).size)).sum == aa, s"($u,$v) Adamic-Adar mismatch")
    }
  }

  test("q_assortativity equals an exact driver-side Newman estimator") {
    val row = graft.queries.Registry.queries("q_assortativity")(spark, sf).collect()(0)
    val edges = graft.ext.Similarity
      .mutualKnnEdges(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val deg = sym.groupBy(_._1).map { case (n0, es) => n0 -> es.length.toLong }
    val xs  = sym.map { case (a, b) => (deg(a), deg(b)) }
    val n   = xs.length.toLong
    val sx  = xs.map(_._1).sum
    val sy  = xs.map(_._2).sum
    val sxx = xs.map(p => p._1 * p._1).sum
    val syy = xs.map(p => p._2 * p._2).sum
    val sxy = xs.map(p => p._1 * p._2).sum
    assert(row.getLong(0) == n, "directed edge count mismatch")
    val d1 = n * sxx - sx * sx
    val d2 = n * syy - sy * sy
    assert(d1 != 0 && d2 != 0, "fixture graph unexpectedly degree-regular")
    val expected = (n * sxy - sx * sy).toDouble / (math.sqrt(d1.toDouble) * math.sqrt(d2.toDouble))
    assert(row.getDouble(1) == expected, "assortativity differs from the exact replay")
    assert(row.getDouble(1) >= -1.0 && row.getDouble(1) <= 1.0)
  }

  test("q_conductance equals a driver-side audit of the topic-cluster boundaries") {
    val out = graft.queries.Registry
      .queries("q_conductance")(spark, sf)
      .collect()
      .map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .toSeq
    val cid = spark.read
      .parquet(graft.ext.Ivf.indexFor(spark, sf).path)
      .selectExpr("vec_id", "CAST(cid AS LONG) AS cid")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val edges = graft.ext.Similarity
      .mutualKnnEdges(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val vol = sym.groupBy(e => cid(e._1)).map { case (c, es) => c -> es.length.toLong }
    val cut = sym
      .filter(e => cid(e._1) != cid(e._2))
      .groupBy(e => cid(e._1))
      .map { case (c, es) => c -> es.length.toLong }
    val expected = cid.values
      .groupBy(identity)
      .map { case (c, ns) =>
        val v = vol.getOrElse(c, 0L)
        val k = cut.getOrElse(c, 0L)
        (c, ns.size.toLong, (v - k) / 2, k, if (v == 0) None else Some(k * 1000000L / v))
      }
      .toSeq
      .sortBy(t => (-t._2, t._1))
      .take(20)
    assert(out == expected, "conductance audit differs from the driver replay")
    // the audit must be non-vacuous: an independently-derived centroid
    // partition disagrees with the k-NN graph SOMEWHERE (unlike converged
    // components, whose cut is identically zero — the vacuity this query
    // deliberately avoids)
    assert(out.exists(_._4 > 0L), "no cut edges anywhere — the audit is vacuous")
  }

  test("q_random_walk equals a driver-side md5-argmin walk replay") {
    val out = graft.queries.Registry
      .queries("q_random_walk")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    val edges = graft.ext.Similarity
      .mutualKnnEdges(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    (edges ++ edges.map { case (a, b) => (b, a) }).foreach { case (a, b) => adj(a) ::= b }
    def h7(s0: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s0.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString.take(7), 16)
    }
    val expected = adj.keySet.toSeq.sorted.map { w =>
      var cur  = w
      var path = w.toString
      for (t <- 1 to graft.queries.GraphQueries.WalkSteps) {
        val next = adj(cur).map(d => (h7(s"$w:$t:$d"), d)).min._2
        path += s">$next"
        cur = next
      }
      (w, path, cur)
    }
    assert(out == expected, "walk paths differ from the driver replay")
    // the walks must actually move: at least one walker ends off its start
    assert(out.exists(t => t._1 != t._3), "every walk returned to its start")
  }
}
