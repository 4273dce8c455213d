package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Cached, Iterate, Tables, Width}

/** Iterative graph analytics — the genre the MapReduce lineage is named
  * for (PageRank was THE canonical multi-job MapReduce workload; the
  * reference's FIFO job queue exists to chain exactly such jobs,
  * `/root/reference/mapreduce/manager/__main__.py:278-291`). Here one
  * declarative lineage expresses the whole K-iteration computation and
  * Catalyst/AQE plan each superstep's join+aggregate.
  *
  * The graph is the supplier–part bipartite graph observed in `lineitem`
  * (distinct (l_suppkey, l_partkey) pairs), bidirected so every node both
  * emits and receives mass. Node ids are namespaced into one integer
  * space: supplier s → 2·s, part p → 2·p+1.
  *
  * Cross-engine determinism: the entire power iteration runs in FIXED-
  * POINT integer arithmetic at scale 10¹² — contribution = rank div
  * outdeg, damping = (15·(SCALE div N)) div 100 + (85·Σcontrib) div 100 —
  * so ranks are exact BIGINTs in both engines regardless of partitioning
  * or summation order (a float PageRank's sum order would break the hash
  * compare; the div-floor dust lost per step is ≤ outdeg ulps of 10⁻¹²).
  *
  * Scale shape: the edge set with its out-degrees is built ONCE (explode
  * of the two struct variants — NOT a union of two projections of the
  * distinct, which would evaluate the dedup twice; the out-degree rides a
  * window over the same shuffle) and cached — the production analog is a
  * bucketed-by-src edge table written once and co-partition-joined every
  * iteration with zero edge re-shuffle. Each iteration then shuffles only
  * the (node, rank) frame: |V|-sized, NEVER |E|-sized intermediate state,
  * and the per-dst sum is a partial+final aggregate (map-side combine
  * absorbs hub fan-in). K is fixed, so the oracle replays every step with
  * unrolled CTEs. Lineage is truncated every [[GraphQueries.CheckpointEvery]]
  * supersteps (eager localCheckpoint) so analysis time stays linear in K
  * — GraphSpec runs K=20 through it; the registered K=5 never triggers
  * a checkpoint and keeps the pure declarative plan.
  */
object GraphQueries {

  /** Fixed-point scale: ranks are integers at 10⁻¹² resolution. */
  val Scale = 1000000000000L

  /** Power-iteration count (fixed — the oracle unrolls it). */
  val Iters = 5

  /** Lineage-truncation cadence: every [[CheckpointEvery]] supersteps the
    * rank frame is `localCheckpoint`ed (eager) — the [[graft.core.Iterate]]
    * analyzer lesson, sparse, because each superstep reads its predecessor
    * once. Never fires at the registered K=5, so the oracle-checked
    * query's plan is byte-identical to the unchained form.
    */
  private val CheckpointEvery = 5

  /** The full (node, kind, rank_scaled) table after [[Iters]] supersteps —
    * exposed separately from the registered top-20 query so invariants
    * (mass conservation, node-set preservation) are testable on the whole
    * frame.
    */
  def pagerankRanks(s: SparkSession, dir: String, iters: Int = Iters): DataFrame = {
    val pairs = Tables(s, dir).lineitem
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
      .distinct()
    val edges = pairs
      .select(
        explode(
          array(
            struct((col("sk") * 2).as("src"), (col("pk") * 2 + 1).as("dst")),
            struct((col("pk") * 2 + 1).as("src"), (col("sk") * 2).as("dst"))
          )
        ).as("e")
      )
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // Size-derived edge-grain partitioning (guide §2.2; Width.grain):
    // every superstep's SMJ aligns the rank frame to adj's partition
    // count, so the session default (32) multiplied into 5 iterations of
    // 32-task stages over a sub-MB grain — StageProbe r17 attributed most
    // of q_pagerank's wall to that scheduling, and the driver's 8-cpu run
    // beat 32-cpu 0.55× (PERF_r16). The explicit repartition satisfies
    // the outdeg window's ClusteredDistribution(src), so it REPLACES the
    // window's exchange rather than adding one; at 100 TB the formula
    // yields thousands of partitions.
    val adj = Cached.frame(
      Width
        .grain(edges, col("src"))
        .withColumn(
          "outdeg",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("src"))
        )
    )
    val nodes = adj.select(col("src").as("node")).distinct()
    // 1-row cache: every iteration's damping term references nN, and the
    // un-cached subtree (distinct + count over adj) re-executed once PER
    // REFERENCE — StageProbe r16 counted six identical 32-task stage pairs
    // per run. Runtime exchange reuse does not collapse them across AQE
    // broadcast stages; the cache does.
    val nN = Cached.frame(nodes.agg(count(lit(1)).as("n")))
    var ranks = nodes
      .crossJoin(broadcast(nN))
      .select(col("node"), expr(s"${Scale}L div n").as("rank"))
    for (i <- 0 until iters) {
      // hint("merge"): at fixture scale Catalyst BROADCASTS adj (the |E|
      // frame fits the 10 MB threshold), rebuilding an |E|-row hash
      // relation per superstep — the exact shape that cannot exist at
      // 100 TB. The cached adj is already hash-partitioned AND sorted by
      // src (the outdeg window's exchange+sort), so SMJ streams it with
      // ZERO extra work and only the |V| rank frame moves per iteration —
      // the scaladoc's scale contract, now enforced in the physical plan.
      ranks = adj
        .hint("merge")
        .join(ranks, adj("src") === ranks("node"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("m"))
        .crossJoin(broadcast(nN))
        .select(
          col("dst").as("node"),
          expr(s"(15 * (${Scale}L div n)) div 100 + (85 * m) div 100").as("rank")
        )
      if ((i + 1) % CheckpointEvery == 0 && (i + 1) < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(
      col("node"),
      when(col("node") % 2 === 0, "supplier").otherwise("part").as("kind"),
      col("rank").as("rank_scaled")
    )
  }

  val pagerank: Q = Q(
    "q_pagerank",
    (s, dir) =>
      pagerankRanks(s, dir)
        .orderBy(col("rank_scaled").desc, col("node"))
        .limit(20),
    Some(pagerankOracleSql(Iters))
  )

  /** Unrolled power-iteration replay: r0 → r`iters`, each step the same
    * integer expressions the Spark lineage evaluates.
    */
  def pagerankOracleSql(iters: Int): String = {
    val steps = (1 to iters)
      .map { i =>
        s"""r$i AS (
           |  SELECT e.dst AS node,
           |    (15 * ($Scale // nn.n)) // 100
           |      + (85 * CAST(SUM(r.rank // d.outdeg) AS BIGINT)) // 100 AS rank
           |  FROM edges e
           |  JOIN r${i - 1} r ON r.node = e.src
           |  JOIN deg d ON d.src = e.src, nn
           |  GROUP BY e.dst, nn.n)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
       |edges AS (
       |  SELECT 2*sk AS src, 2*pk+1 AS dst FROM pairs
       |  UNION ALL
       |  SELECT 2*pk+1 AS src, 2*sk AS dst FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (SELECT deg.src AS node, $Scale // nn.n AS rank FROM deg, nn),
       |$steps
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS kind,
       |  rank AS rank_scaled
       |FROM r$iters ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  /** Label-propagation rounds for [[labelProp]] (fixed — the oracle
    * unrolls them). Each round is neighbor-min THEN pointer-jump. The jump
    * shortens label chains but does not guarantee doubling reach per
    * round, so K=10 is NOT a convergence bound: measured per-round Σlbl
    * converges exactly at round 10 at sf0.001 (the scale GraphSpec checks),
    * still falls at rounds 11 and 12 at sf0.01, and holds only from round
    * 15 at sf0.1. The oracle replays the same fixed K, so the hash check
    * is exact at every scale.
    */
  val LpIters = 10

  /** The symmetrized mutual-edge frame one propagation run reads. */
  private[graft] def lpSymEdges(s: SparkSession, dir: String): DataFrame =
    Cached.frame(
      graft.ext.Similarity
        .mutualKnnEdges(s, dir)
        .select(
          explode(
            array(
              struct(col("a").as("src"), col("b").as("dst")),
              struct(col("b").as("src"), col("a").as("dst"))
            )
          ).as("e")
        )
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    )

  /** The cached (src, dst, w) grain every label-prop, k-core and BFS round
    * reads: the [[lpSymEdges]] edges at w = 1 plus one w = 0 self-loop per
    * embedding (the round's "self" term), `Width.grain`-partitioned on dst,
    * the key every round aggregates on. With the measured state broadcast
    * ([[graft.core.Iterate]]) a round scans it, hash-joins and aggregates
    * with no exchange. (Round 17's src-partitioned cache lost because its
    * merge joins re-exchanged both sides across every checkpoint.)
    */
  private[graft] def loopEdges(s: SparkSession, dir: String): DataFrame =
    Cached.frame(
      Width.grain(
        lpSymEdges(s, dir)
          .select(col("src"), col("dst"), lit(1L).as("w"))
          .unionByName(
            Tables(s, dir).embeddings
              .select(col("vec_id").as("src"), col("vec_id").as("dst"), lit(0L).as("w"))
          ),
        col("dst")
      )
    )

  /** Identity labels over every embedding, off the grain's self-loops. */
  private[graft] def lpSeed(edges: DataFrame): Iterate.Round =
    Iterate.seed(edges.filter(col("w") === 0L).select(col("src").as("node"), col("dst").as("lbl")))

  /** One neighbor-min + pointer-jump round (shape pinned in PlanGoldenSpec). */
  private[graft] def lpStep(edges: DataFrame)(r: Iterate.Round): DataFrame = {
    val m = edges
      .join(r.side(r.frame), col("src") === col("node"))
      .groupBy(col("dst").as("node"))
      .agg(min("lbl").as("lbl"))
    // pointer jump: every label is a node id of m, which has exactly the
    // state's rows (the node set is fixed), so the same gate applies
    m.as("p")
      .join(r.side(m.as("q")), col("p.lbl") === col("q.node"))
      .select(col("p.node").as("node"), col("q.lbl").as("lbl"))
  }

  private[graft] def labelPropRun(s: SparkSession, dir: String, iters: Int = LpIters,
      toFixpoint: Boolean = true): Iterate.Run = {
    val edges = loopEdges(s, dir)
    Iterate(lpSeed(edges), "lbl", iters, toFixpoint)(lpStep(edges))
  }

  /** Community detection by min-label propagation WITH pointer jumping
    * (the hash-to-min MapReduce connected-components family, Rastogi et
    * al. 2013 — public method) over the MUTUAL k-NN graph — the
    * graph-native complement to the k-means topic audit
    * (`q_topic_clusters`): communities emerge from the high-precision
    * mutual-neighbor relation itself, no centroid model. The output row
    * is (vec_id, community) after [[LpIters]] rounds. Where propagation
    * has converged, `community` is the component's minimum vec_id
    * (asserted against a union-find replay in GraphSpec at sf0.001); at
    * larger scales K rounds stop short of that fixpoint (see [[LpIters]])
    * and a node may carry a larger label of its own component. The oracle
    * replays the same fixed K, so the hash check is exact either way.
    *
    * Scale shape: the [[graft.ext.Similarity.mutualKnnEdges]] grain is
    * built once (cached, shared with `q_graph_triangles`) into the ≤ k·n
    * [[loopEdges]] frame; each [[graft.core.Iterate]] round joins the
    * measured |V|-row (node, lbl) state onto it, takes a partial+final
    * `min` per node and resolves one pointer jump. Isolated vectors keep
    * themselves as singleton communities through their self-loop.
    */
  val labelProp: Q = Q(
    "q_label_prop",
    (s, dir) =>
      labelPropRun(s, dir).last.frame
        .select(col("node").as("vec_id"), col("lbl").as("community"))
        .orderBy("vec_id"),
    Some(labelPropOracleSql(LpIters))
  )

  /** Unrolled neighbor-min + pointer-jump rounds over the mutual k-NN
    * graph — the [[pagerankOracleSql]] pattern nested over the full k-NN
    * graph replay from [[graft.ext.Similarity.knnJoinOracleSql]].
    */
  /** Every unrolled CTE is MATERIALIZED: each round references the prior
    * round TWICE (self-union and jump join), so DuckDB's default CTE
    * inlining would expand the plan 2^K-fold — materialization makes the
    * replay linear in K, exactly like the Spark lineage it mirrors.
    */
  def labelPropOracleSql(iters: Int): String =
    s"""${lpReplayCtes(iters)}
       |SELECT node AS vec_id, lbl AS community FROM l$iters ORDER BY vec_id""".stripMargin

  /** The full label-propagation replay as a CTE prefix ending in
    * `l<iters>` (node, lbl) — shared by [[labelPropOracleSql]] and the
    * community-audit oracles that consume the converged labels.
    */
  private def lpReplayCtes(iters: Int): String = {
    val steps = (1 to iters)
      .map { i =>
        s"""m$i AS MATERIALIZED (
           |  SELECT node, MIN(lbl) AS lbl FROM (
           |    SELECT node, lbl FROM l${i - 1}
           |    UNION ALL
           |    SELECT s.dst AS node, l.lbl FROM sym s JOIN l${i - 1} l ON l.node = s.src)
           |  GROUP BY 1),
           |l$i AS MATERIALIZED (
           |  SELECT p.node AS node, q.lbl AS lbl
           |  FROM m$i p JOIN m$i q ON q.node = p.lbl)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH knn AS MATERIALIZED (
       |${graft.ext.Similarity.knnJoinOracleSql(graft.ext.Similarity.KnnK)}),
       |${graft.ext.Similarity.mutualEdgesCte},
       |sym AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM und
       |  UNION ALL
       |  SELECT b AS src, a AS dst FROM und),
       |l0 AS MATERIALIZED (SELECT vec_id AS node, vec_id AS lbl FROM embeddings),
       |$steps""".stripMargin
  }

  /** Peel rounds for the k-core decomposition. A dangling path peels one
    * node per round, so the peeling depth is data-dependent; 16 covers the
    * fixtures with margin (fixpoint asserted in GraphSpec), and
    * [[graft.core.Iterate]] stops once a round repeats its predecessor —
    * after round 10 at sf0.01 and 13 at sf0.1. That is the production
    * shape: chain fixed-pass jobs until `alive` stops shrinking.
    */
  val KcoreRounds = 16

  /** Minimum degree for core membership: the 2-core (every vertex on a
    * cycle) — the densest non-trivial core of a mutual k-NN graph whose
    * degree is capped at k = 3 by construction (a 3-core would demand
    * 3-regular components, which the fixture graph — correctly — does not
    * contain).
    */
  val KcoreK = 2

  /** Peel round 1, (v, deg): every node starts alive, so its full degree. */
  private[graft] def kcoreSeed(edges: DataFrame): Iterate.Round =
    Iterate.seed(edges.groupBy(col("dst").as("v")).agg(count(lit(1)).as("deg")))

  /** One peel round: each node's degree within the subgraph induced by the
    * previous round's alive set (deg ≥ [[KcoreK]]) — two key joins against
    * the broadcast alive frame, then a partial+final count by dst (the
    * count by src, as the edge set is symmetric). Shape pinned in
    * PlanGoldenSpec.
    */
  private[graft] def kcoreStep(edges: DataFrame)(r: Iterate.Round): DataFrame = {
    val alive = r.side(r.frame.filter(col("deg") >= KcoreK).select("v"))
    edges
      .join(alive.as("a"), col("src") === col("a.v"))
      .join(alive.as("b"), col("dst") === col("b.v"))
      .groupBy(col("dst").as("v"))
      .agg(count(lit(1)).as("deg"))
  }

  /** The undirected mutual edges of [[loopEdges]], self-loops dropped. */
  private[graft] def kcoreEdges(s: SparkSession, dir: String): DataFrame =
    loopEdges(s, dir).filter(col("w") === 1L)

  /** The peel's (v, deg) frames, round 1 (the seed) through `rounds`. */
  private[graft] def kcoreRun(s: SparkSession, dir: String, rounds: Int = KcoreRounds,
      toFixpoint: Boolean = true): Iterate.Run = {
    val edges = kcoreEdges(s, dir)
    Iterate(kcoreSeed(edges), "deg", rounds - 1, toFixpoint)(kcoreStep(edges))
  }

  /** k-core decomposition (Seidman 1983) of the mutual k-NN graph by the
    * standard distributed peel (Batagelj–Zavrsnik made sequential peeling
    * canonical; the bulk-synchronous variant removes ALL sub-k nodes each
    * round): drop every node with induced degree < [[KcoreK]], recompute
    * degrees on the survivors, repeat. The surviving 3-core is the
    * "dense semantic neighborhoods" summary next to `q_graph_triangles`'s
    * per-node clustering signal — SemDeDup-style pruning targets exactly
    * these regions, while hub-free sparse nodes (peeled early) are the
    * unique long-tail documents a curation pass protects.
    *
    * Scale shape: each [[graft.core.Iterate]] round is two hash joins of
    * the cached ≤ 2k·n [[loopEdges]] grain (shared with `q_label_prop`)
    * against the measured |alive| node frame plus one partial+final count.
    * Rounds are capped at [[KcoreRounds]] so the oracle can unroll;
    * GraphSpec asserts the fixture reaches its fixpoint within them.
    */
  val kcore: Q = Q(
    "q_kcore",
    (s, dir) =>
      kcoreRun(s, dir).last.frame
        .filter(col("deg") >= KcoreK)
        .select(col("v").as("vec_id"), col("deg").as("degree"))
        .orderBy("vec_id"),
    Some(kcoreOracleSql(KcoreRounds))
  )

  /** Unrolled peel rounds — [[labelPropOracleSql]]'s MATERIALIZED-CTE
    * pattern (each round references the prior alive set twice, so default
    * CTE inlining would expand 2^K-fold) over the same full k-NN graph
    * replay.
    */
  def kcoreOracleSql(rounds: Int): String = {
    val steps = (1 to rounds)
      .map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT s.src AS v, COUNT(*) AS deg
           |  FROM sym s JOIN a${i - 1} x ON s.src = x.v JOIN a${i - 1} y ON s.dst = y.v
           |  GROUP BY 1),
           |a$i AS MATERIALIZED (SELECT v FROM d$i WHERE deg >= $KcoreK)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH knn AS MATERIALIZED (
       |${graft.ext.Similarity.knnJoinOracleSql(graft.ext.Similarity.KnnK)}),
       |${graft.ext.Similarity.mutualEdgesCte},
       |sym AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM und
       |  UNION ALL
       |  SELECT b AS src, a AS dst FROM und),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym),
       |$steps
       |SELECT v AS vec_id, deg AS degree FROM d$rounds WHERE deg >= $KcoreK
       |ORDER BY vec_id""".stripMargin
  }

  /** BFS relaxation radius (fixed — the oracle unrolls it). The semantics
    * is deliberately "reach within [[BfsRounds]] hops", not
    * run-to-convergence: a bounded-radius neighborhood is itself the
    * product (how far does influence from the seed set propagate through
    * the near-neighbor graph), and a fixed K is what an unrolled-CTE
    * oracle can replay. [[graft.core.Iterate]] stops earlier only when a
    * round changes nothing, which leaves the K-round table unchanged.
    */
  val BfsRounds = 8

  /** One min-plus relaxation: dist'(v) = min over the in-edges (u, v, w)
    * of [[loopEdges]] of dist(u) + w (the w = 0 self-loop is dist(v)).
    */
  private[graft] def bfsStep(edges: DataFrame)(r: Iterate.Round): DataFrame =
    edges
      .join(r.side(r.frame), col("src") === col("node"))
      .groupBy(col("dst").as("node"))
      .agg(min(col("hops") + col("w")).as("hops"))

  /** Hop distances after `rounds` relaxations from the label-0 seed set. */
  private[graft] def bfsRun(s: SparkSession, dir: String, rounds: Int = BfsRounds,
      toFixpoint: Boolean = true): Iterate.Run = {
    val seeds = Tables(s, dir).embeddings.filter(col("label") === 0)
    val seed  = Iterate.seed(seeds.select(col("vec_id").as("node"), lit(0L).as("hops")))
    Iterate(seed, "hops", rounds, toFixpoint)(bfsStep(loopEdges(s, dir)))
  }

  /** Multi-source BFS (bounded-radius min-plus / Bellman–Ford relaxation,
    * the iterable-MapReduce shortest-path workload next to PageRank) over
    * the mutual k-NN graph: hop distance from every vector to the nearest
    * label-0 seed, within [[BfsRounds]] hops. The pipeline reading: label 0
    * is a trusted/curated slice, and hop distance through the
    * high-precision mutual-neighbor relation is a transitive-affinity score
    * — documents 1–2 hops from curated data are expansion candidates,
    * unreached nodes are semantically disconnected from it.
    *
    * Scale shape: each [[graft.core.Iterate]] round joins the measured
    * ≤ |V|-row (node, hops) state onto the cached [[loopEdges]] grain
    * (shared with `q_label_prop`/`q_kcore`) and takes a partial+final
    * `min` per node. A
    * frontier-delta variant (propagate only changed nodes) halves traffic
    * on late rounds but changes no semantics; at the fixture diameters the
    * dense relaxation is already sub-second. Unreached nodes carry no row
    * (no sentinel ∞ to disagree on between engines).
    */
  val bfs: Q = Q(
    "q_bfs_hops",
    (s, dir) =>
      bfsRun(s, dir).last.frame
        .select(col("node").as("vec_id"), col("hops"))
        .orderBy("vec_id"),
    Some(bfsOracleSql(BfsRounds))
  )

  /** Unrolled min-plus rounds — [[labelPropOracleSql]]'s MATERIALIZED-CTE
    * pattern (each round references the prior frame twice) over the same
    * full k-NN graph replay.
    */
  def bfsOracleSql(rounds: Int): String = {
    val steps = (1 to rounds)
      .map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT node, MIN(hops) AS hops FROM (
           |    SELECT node, hops FROM d${i - 1}
           |    UNION ALL
           |    SELECT s.dst AS node, l.hops + 1 AS hops
           |    FROM sym s JOIN d${i - 1} l ON l.node = s.src)
           |  GROUP BY 1)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH knn AS MATERIALIZED (
       |${graft.ext.Similarity.knnJoinOracleSql(graft.ext.Similarity.KnnK)}),
       |${graft.ext.Similarity.mutualEdgesCte},
       |sym AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM und
       |  UNION ALL
       |  SELECT b AS src, a AS dst FROM und),
       |d0 AS MATERIALIZED (
       |  SELECT vec_id AS node, CAST(0 AS BIGINT) AS hops
       |  FROM embeddings WHERE label = 0),
       |$steps
       |SELECT node AS vec_id, hops FROM d$rounds ORDER BY vec_id""".stripMargin
  }

  /** Link prediction over the mutual k-NN graph (Liben-Nowell & Kleinberg
    * 2003): for every non-adjacent pair at distance 2, the common-neighbor
    * count and an integer Adamic–Adar score — Σ over shared neighbors w of
    * 10⁶ div max(⌊log₂ deg(w)⌋, 1), the "rare shared neighbors count more"
    * weighting with the house `length(bin(·))−1` integer log so the score
    * is exact cross-engine (the float 1/ln(deg) form would hash-drift).
    * Pipeline reading: predicted links over the near-neighbor relation are
    * retrieval-expansion candidates — pairs the embedding model does not
    * yet connect but whose neighborhoods already overlap.
    *
    * Scale shape: the wedge join is the ONLY pair generator and it is
    * degree-bounded BY CONSTRUCTION — mutual-k-NN degree ≤ k, so wedges
    * ≤ |V|·k² regardless of corpus size (no df-cap needed, unlike
    * `q_cooccur`'s unbounded per-doc sets). Degrees ride a partial+final
    * count over the cached [[lpSymEdges]] grain shared with
    * `q_label_prop`/`q_kcore`/`q_bfs_hops`; the middle-node weight joins
    * onto the wedge stream before the (u,v) partial+final aggregate, the
    * existing-edge exclusion is a left-anti hash join against the a<b edge
    * frame, and the top-50 is TakeOrderedAndProject with a full (score, u,
    * v) total order.
    */
  val linkPredict: Q = Q(
    "q_link_predict",
    (s, dir) => {
      val sym = lpSymEdges(s, dir)
      val deg = sym
        .groupBy(col("src").as("w"))
        .agg(count(lit(1)).as("deg"))
        .select(
          col("w"),
          (lit(1000000L) / greatest(length(bin(col("deg"))) - 1, lit(1)))
            .cast("long")
            .as("aa_w")
        )
      val wedges = sym
        .as("e1")
        .join(sym.as("e2"), col("e1.dst") === col("e2.src") && col("e1.src") < col("e2.dst"))
        .select(col("e1.src").as("u"), col("e2.dst").as("v"), col("e1.dst").as("w"))
      val und = graft.ext.Similarity.mutualKnnEdges(s, dir)
      wedges
        .join(deg, "w")
        .groupBy("u", "v")
        .agg(count(lit(1)).as("common_neighbors"), sum("aa_w").as("aa_ppm"))
        .join(und, col("u") === col("a") && col("v") === col("b"), "left_anti")
        .orderBy(col("aa_ppm").desc, col("u"), col("v"))
        .limit(50)
    },
    Some(
      s"""WITH knn AS MATERIALIZED (
         |${graft.ext.Similarity.knnJoinOracleSql(graft.ext.Similarity.KnnK)}),
         |${graft.ext.Similarity.mutualEdgesCte},
         |sym AS (
         |  SELECT a AS src, b AS dst FROM und
         |  UNION ALL
         |  SELECT b AS src, a AS dst FROM und),
         |deg AS (
         |  SELECT src AS w,
         |    CAST(1000000 // GREATEST(LENGTH(bin(COUNT(*))) - 1, 1) AS BIGINT) AS aa_w
         |  FROM sym GROUP BY 1),
         |wed AS (
         |  SELECT e1.src AS u, e2.dst AS v, e1.dst AS w
         |  FROM sym e1 JOIN sym e2 ON e2.src = e1.dst AND e1.src < e2.dst),
         |sc AS (
         |  SELECT u, v, COUNT(*) AS common_neighbors, CAST(SUM(aa_w) AS BIGINT) AS aa_ppm
         |  FROM wed JOIN deg USING (w) GROUP BY 1, 2)
         |SELECT u, v, common_neighbors, aa_ppm FROM sc
         |WHERE NOT EXISTS (SELECT 1 FROM und WHERE a = u AND b = v)
         |ORDER BY aa_ppm DESC, u, v LIMIT 50""".stripMargin
    )
  )

  /** HITS iteration count (fixed — the oracle unrolls it). */
  val HitsIters = 4

  /** HITS fixed-point scale: 10⁹, not PageRank's 10¹², so the per-step
    * `raw · SCALE` product stays ≤ 10¹⁸ < 2⁶³ (raw ≤ Σ scores = SCALE
    * after each normalization).
    */
  val HitsScale = 1000000000L

  /** The cached distinct supplier→part edge set. */
  private[graft] def hitsEdges(s: SparkSession, dir: String): DataFrame =
    Cached.frame(
      Tables(s, dir).lineitem
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .distinct()
    )

  /** The uniform seed as a raw frame, raw 1 per supplier and Σraw = |S|
    * (its memoized row count), so the first normalization raw · SCALE div
    * Σraw is exactly h0 = SCALE div |S|.
    */
  private[graft] def hitsSeed(e: DataFrame): Iterate.Round = {
    val h0 = Iterate.seed(e.select(col("s").as("n")).distinct().withColumn("raw", lit(1L)))
    h0.copy(sum = java.math.BigDecimal.valueOf(h0.rows))
  }

  /** The round's raw frame normalized to total mass [[HitsScale]] by its
    * folded Σraw, as (`key`, v).
    */
  private def hitsScores(r: Iterate.Round, key: String): DataFrame =
    r.frame.select(col("n").as(key), expr(s"raw * ${HitsScale}L div ${r.sum.longValueExact}L").as("v"))

  /** One HITS half-step: even rounds hold hub raw scores and push them to
    * authorities, odd rounds the reverse, each onto the edge grain
    * partitioned on the side it sums onto. Shape pinned in PlanGoldenSpec.
    */
  private[graft] def hitsStep(e: DataFrame): Iterate.Round => DataFrame = {
    val bySup  = Cached.frame(Width.grain(e, col("s")))
    val byPart = Cached.frame(Width.grain(e, col("p")))
    r => {
      val (edges, key, out) = if (r.index % 2 == 0) (byPart, "s", "p") else (bySup, "p", "s")
      edges.join(r.side(hitsScores(r, key)), key).groupBy(col(out).as("n")).agg(sum("v").as("raw"))
    }
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over the DIRECTED
    * supplier→part relation observed in lineitem — the second classic
    * iterative-MapReduce ranking next to [[pagerank]], and the one whose
    * normalization step exercises the per-superstep GLOBAL total that
    * PageRank's fixed damping avoids. Suppliers are hubs (they point at
    * parts), parts are authorities; K=[[HitsIters]] mutual-reinforcement
    * rounds, each renormalized to total mass [[HitsScale]] in pure integer
    * arithmetic — score = raw · SCALE div Σraw — so every score is an
    * exact BIGINT cross-engine (the textbook L2 normalization needs a
    * square root; L1 is the standard integer-exact substitute and keeps
    * the same fixpoint direction).
    *
    * Scale shape: the distinct edge set is cached once per side it sums
    * onto; the 2K half-steps run through [[graft.core.Iterate]] with no
    * fixpoint exit (the normalized power iteration has no monotone order).
    * Each half-step's Σraw is the probe its own checkpoint job folds in,
    * so the normalizer costs no job and enters the next half-step as a
    * literal. Top-20 per side is two TakeOrderedAndProject heaps under a
    * total (score, node) order.
    */
  val hits: Q = Q(
    "q_hits",
    (s, dir) => {
      val e    = hitsEdges(s, dir)
      val seed = hitsSeed(e)
      // an empty edge set has no hubs or authorities, and neither the
      // seed's SCALE div |S| nor a round's Σraw normalizer is defined on it
      if (seed.rows == 0L)
        e.select(lit("hub").as("side"), col("s").as("node"), lit(0L).as("score"))
      else {
        val run = Iterate(seed, "raw", 2 * HitsIters, toFixpoint = false)(hitsStep(e))
        def top(r: Iterate.Round, side: String) =
          hitsScores(r, "node")
            .select(lit(side).as("side"), col("node"), col("v").as("score"))
            .orderBy(col("score").desc, col("node"))
            .limit(20)
        top(run.last, "hub")
          .unionByName(top(run.rounds(2 * HitsIters - 1), "auth"))
          .orderBy(col("side"), col("score").desc, col("node"))
      }
    },
    Some(hitsOracleSql(HitsIters))
  )

  /** Unrolled K-round HITS replay: per round one authority CTE and one hub
    * CTE, each normalized by its own scalar-subquery total (the 1-row
    * broadcast's SQL form). All-positive integers, so DuckDB `//` flooring
    * equals Spark `div` truncation.
    */
  def hitsOracleSql(rounds: Int): String = {
    val steps = (1 to rounds)
      .map { i =>
        s"""a${i}r AS MATERIALIZED (SELECT p, CAST(SUM(v) AS BIGINT) AS raw
           |  FROM e JOIN h${i - 1} USING (s) GROUP BY 1),
           |a$i AS MATERIALIZED (SELECT p, CAST(raw * $HitsScale // (SELECT SUM(raw) FROM a${i}r) AS BIGINT) AS v FROM a${i}r),
           |h${i}r AS MATERIALIZED (SELECT s, CAST(SUM(v) AS BIGINT) AS raw
           |  FROM e JOIN a$i USING (p) GROUP BY 1),
           |h$i AS MATERIALIZED (SELECT s, CAST(raw * $HitsScale // (SELECT SUM(raw) FROM h${i}r) AS BIGINT) AS v FROM h${i}r)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
       |h0 AS MATERIALIZED (
       |  SELECT s, CAST($HitsScale // (SELECT COUNT(DISTINCT s) FROM e) AS BIGINT) AS v
       |  FROM (SELECT DISTINCT s FROM e)),
       |$steps
       |SELECT side, node, score FROM (
       |  (SELECT 'hub' AS side, s AS node, v AS score FROM h$rounds
       |   ORDER BY v DESC, s LIMIT 20)
       |  UNION ALL
       |  (SELECT 'auth' AS side, p AS node, v AS score FROM a$rounds
       |   ORDER BY v DESC, p LIMIT 20))
       |ORDER BY side, score DESC, node""".stripMargin
  }

  /** Degree assortativity (Newman 2002) of the mutual k-NN graph — one
    * number answering "do well-connected vectors neighbor each other?":
    * the Pearson correlation of endpoint degrees over the DIRECTED edge
    * list of the symmetrized graph (the standard estimator; each
    * undirected edge contributes both orientations, making the x/y
    * marginals symmetric). Positive ⇒ hub-hub linking (dense semantic
    * cores — SemDeDup-style pruning targets), negative ⇒ hub-periphery
    * (hubs as connectors of unique long-tail content). Degrees are small
    * exact integers, so every moment is an exact BIGINT; the single
    * emitted correlation divides once through IEEE `sqrt` (correctly
    * rounded, the q_mix_temperature precedent — the d1·d2 product would
    * overflow int64, so each factor roots separately), with the
    * regular-graph degenerate case (zero variance) pinned to NULL in both
    * engines.
    *
    * INT64 CEILING (the q_gini documentation discipline): with n directed
    * edges and degree ≤ 2k, the variance products n·sxx grow like
    * n²·(2k)² ≈ (|V|·2k)²·(2k)², which crosses 2⁶³ around |V|·k ~ 10⁸⁻⁹ —
    * a ~10-billion-vector mutual-kNN graph at k=8. Past that, lift the six
    * moment columns (and the oracle's) to DECIMAL(38,0): the folds and the
    * two variance products stay exact there to ~10³⁸, and only the final
    * one-division/two-sqrt step changes representation. Kept BIGINT here
    * because exact integer folds are cheaper than decimal128 at every
    * scale the fixture contract reaches, and the escape hatch is a
    * type-only swap.
    *
    * Scale shape: degrees are a partial+final count over the cached
    * [[lpSymEdges]] grain; attaching them to both endpoints is two hash
    * joins of the ≤2k·n edge frame against the |V|-row degree frame; the
    * moment fold is one 1-row partial+final aggregate. Nothing
    * corpus-sized crosses more than one exchange.
    */
  val assortativity: Q = Q(
    "q_assortativity",
    (s, dir) => {
      val sym = lpSymEdges(s, dir)
      val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      sym
        .join(deg.select(col("node").as("src"), col("deg").as("x")), "src")
        .join(deg.select(col("node").as("dst"), col("deg").as("y")), "dst")
        .agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"),
          sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy")
        )
        .select(
          col("n").as("n_directed_edges"),
          when(
            col("n") * col("sxx") - col("sx") * col("sx") === 0 ||
              col("n") * col("syy") - col("sy") * col("sy") === 0,
            lit(null)
          ).otherwise(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
                sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
          ).as("assortativity")
        )
    },
    Some(
      s"""WITH knn AS MATERIALIZED (
         |${graft.ext.Similarity.knnJoinOracleSql(graft.ext.Similarity.KnnK)}),
         |${graft.ext.Similarity.mutualEdgesCte},
         |sym AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM und
         |  UNION ALL
         |  SELECT b AS src, a AS dst FROM und),
         |deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
         |m AS (
         |  SELECT COUNT(*) AS n,
         |    CAST(SUM(dx.deg) AS BIGINT) AS sx, CAST(SUM(dy.deg) AS BIGINT) AS sy,
         |    CAST(SUM(dx.deg * dx.deg) AS BIGINT) AS sxx,
         |    CAST(SUM(dy.deg * dy.deg) AS BIGINT) AS syy,
         |    CAST(SUM(dx.deg * dy.deg) AS BIGINT) AS sxy
         |  FROM sym e JOIN deg dx ON dx.node = e.src JOIN deg dy ON dy.node = e.dst)
         |SELECT n AS n_directed_edges,
         |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
         |       ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
         |            (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
         |             sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS assortativity
         |FROM m""".stripMargin
    )
  )

  /** Per-TOPIC conductance audit: the k-means topic clusters
    * (`q_topic_clusters`' persisted IVF assignment) evaluated against the
    * mutual k-NN graph — the centroid-vs-graph agreement scorecard run
    * before clusters are TRUSTED as curation/pruning units (SemDeDup
    * prunes within clusters; a leaky cluster makes that pruning blind).
    * For each of the 20 largest clusters: vector count, internal
    * undirected edges, cut edges, and conductance cut/vol in ppm
    * (vol = directed edge endpoints in members = 2·internal + cut). Near-0
    * ⇒ the centroid partition respects the neighbor structure; high ⇒ the
    * cluster is a centroid artifact. NOT run on the [[labelProp]]
    * components — a converged component has zero cut edges by definition,
    * so that audit is vacuous; the independently-derived centroid
    * partition is the one whose boundary quality is in question.
    * All-integer (counts + one div), hash-exact.
    *
    * Scale shape: assignments read from the ALREADY-persisted
    * cid-partitioned index ([[graft.ext.Ivf.indexFor]] — the artifact a
    * production pipeline maintains anyway), 2-column projection session-
    * cached (two endpoint joins + the size count read it); labeling the
    * edge list is two hash joins of the ≤2k·n cached [[lpSymEdges]]
    * frame; the per-cluster aggregate is partial+final onto the
    * C=O(√n) grain; top-20 is TakeOrderedAndProject under a total
    * (n_vecs, cid) order. Edgeless clusters surface via the left join
    * with vol 0 and NULL conductance — pinned, not dropped.
    */
  val conductance: Q = Q(
    "q_conductance",
    (s, dir) => {
      val asg = Cached.frame(
        Tables.read(s, graft.ext.Ivf.indexFor(s, dir).path)
          .select(col("vec_id"), col("cid").cast("int").as("cid"))
      )
      val sym = lpSymEdges(s, dir)
      val grp = sym
        .join(asg.select(col("vec_id").as("src"), col("cid").as("src_cid")), "src")
        .join(asg.select(col("vec_id").as("dst"), col("cid").as("dst_cid")), "dst")
        .groupBy(col("src_cid").as("cid"))
        .agg(
          count(lit(1)).as("vol"),
          sum(when(col("src_cid") =!= col("dst_cid"), 1L).otherwise(0L)).as("cut")
        )
      asg
        .groupBy("cid")
        .agg(count(lit(1)).as("n_vecs"))
        .join(grp, Seq("cid"), "left")
        .select(
          col("cid").cast("long").as("cid"),
          col("n_vecs"),
          expr("(coalesce(vol, 0L) - coalesce(cut, 0L)) div 2L").as("internal_edges"),
          coalesce(col("cut"), lit(0L)).as("cut_edges"),
          when(coalesce(col("vol"), lit(0L)) === 0, lit(null))
            .otherwise(expr("(cut * 1000000L) div vol"))
            .as("conductance_ppm")
        )
        .orderBy(col("n_vecs").desc, col("cid"))
        .limit(20)
    },
    Some {
      val (fitPrefix, fitted) = graft.ext.Ivf.fitReplayCtes
      s"""WITH $fitPrefix,
         |af AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT q.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${graft.ext.Ivf.d2ReplaySql("q.qv", "c.cv")}, c.cid) AS rn
         |    FROM q, $fitted c) WHERE rn = 1),
         |knn AS MATERIALIZED (
         |${graft.ext.Similarity.knnJoinOracleSql(graft.ext.Similarity.KnnK)}),
         |${graft.ext.Similarity.mutualEdgesCte},
         |sym AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM und
         |  UNION ALL
         |  SELECT b AS src, a AS dst FROM und),
         |grp AS (
         |  SELECT ax.cid AS cid, COUNT(*) AS vol,
         |    CAST(SUM(CASE WHEN ax.cid <> ay.cid THEN 1 ELSE 0 END) AS BIGINT) AS cut
         |  FROM sym e JOIN af ax ON ax.vec_id = e.src JOIN af ay ON ay.vec_id = e.dst
         |  GROUP BY 1),
         |sz AS (SELECT cid, COUNT(*) AS n_vecs FROM af GROUP BY 1)
         |SELECT CAST(sz.cid AS BIGINT) AS cid, sz.n_vecs,
         |  (COALESCE(vol, 0) - COALESCE(cut, 0)) // 2 AS internal_edges,
         |  COALESCE(cut, 0) AS cut_edges,
         |  CASE WHEN COALESCE(vol, 0) = 0 THEN NULL
         |       ELSE (cut * 1000000) // vol END AS conductance_ppm
         |FROM sz LEFT JOIN grp ON grp.cid = sz.cid
         |ORDER BY n_vecs DESC, cid LIMIT 20""".stripMargin
    }
  )

  /** Walk length for [[randomWalk]] (fixed — the oracle unrolls it). */
  val WalkSteps = 4

  /** Deterministic "random" walks — the DeepWalk/node2vec CORPUS-SAMPLING
    * primitive (Perozzi et al. 2014): from every connected node, a
    * [[WalkSteps]]-step walk over the mutual k-NN graph whose step choice
    * is the md5-argmin neighbor under a (walker, step, candidate) salt —
    * hash-derived pseudo-randomness instead of an RNG, the same
    * determinism play as the hash split/sampler family, so every path is
    * reproducible, shard-independent, and hash-checkable cross-engine
    * (rand()-seeded walks are partition-layout-dependent and would break
    * both properties). The emitted (walker, path, end_node) rows are
    * exactly the skip-gram training sequences an embedding stage consumes.
    *
    * Scale shape: per step ONE hash join of the |V|-row walker frame
    * against the cached [[lpSymEdges]] grain (fan-out ≤ deg ≤ 2k by
    * construction) and one partial+final `min(struct(h, dst))` argmin per
    * walker — map-side combine absorbs the fan-out before the shuffle.
    * State is (walker, path, cur): linear lineage (each step references
    * its predecessor once), so no checkpoint ladder is needed at K=4.
    * Isolated vectors have no edges and thus no walk — dropped by the
    * seed definition (walkers = nodes of the edge frame), documented.
    */
  val randomWalk: Q = Q(
    "q_random_walk",
    (s, dir) => {
      val sym = lpSymEdges(s, dir)
      var st = sym
        .select(col("src").as("walker"))
        .distinct()
        .select(
          col("walker"),
          col("walker").cast("string").as("path"),
          col("walker").as("cur")
        )
      for (t <- 1 to WalkSteps) {
        val salt = graft.ext.Dedup.baseHash(
          concat(
            col("walker").cast("string"),
            lit(s":$t:"),
            col("dst").cast("string")
          )
        )
        st = st
          .join(sym, st("cur") === sym("src"))
          .select(col("walker"), col("path"), struct(salt.as("h"), col("dst")).as("c"))
          .groupBy("walker", "path")
          .agg(min("c").as("m"))
          .select(
            col("walker"),
            concat(col("path"), lit(">"), col("m.dst").cast("string")).as("path"),
            col("m.dst").as("cur")
          )
      }
      st.select(col("walker"), col("path"), col("cur").as("end_node")).orderBy("walker")
    },
    Some(randomWalkOracleSql(WalkSteps))
  )

  /** Unrolled K-step walk replay: per step the same md5-argmin via a
    * per-walker row_number over (h, dst).
    */
  def randomWalkOracleSql(steps: Int): String = {
    def h(t: Int) =
      s"CAST('0x' || substr(md5(CAST(walker AS VARCHAR) || ':$t:' || CAST(dst AS VARCHAR)), 1, 7) AS BIGINT)"
    val rounds = (1 to steps)
      .map { t =>
        s"""w$t AS MATERIALIZED (
           |  SELECT walker, path || '>' || CAST(dst AS VARCHAR) AS path, dst AS cur FROM (
           |    SELECT walker, path, dst,
           |      row_number() OVER (PARTITION BY walker ORDER BY ${h(t)}, dst) AS rn
           |    FROM w${t - 1} JOIN sym ON sym.src = w${t - 1}.cur)
           |  WHERE rn = 1)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH knn AS MATERIALIZED (
       |${graft.ext.Similarity.knnJoinOracleSql(graft.ext.Similarity.KnnK)}),
       |${graft.ext.Similarity.mutualEdgesCte},
       |sym AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM und
       |  UNION ALL
       |  SELECT b AS src, a AS dst FROM und),
       |w0 AS MATERIALIZED (
       |  SELECT node AS walker, CAST(node AS VARCHAR) AS path, node AS cur
       |  FROM (SELECT DISTINCT src AS node FROM sym)),
       |$rounds
       |SELECT walker, path, cur AS end_node FROM w$steps ORDER BY walker""".stripMargin
  }

  val all: Seq[Q] =
    Seq(pagerank, labelProp, kcore, bfs, linkPredict, hits, assortativity, conductance,
      randomWalk)
}
