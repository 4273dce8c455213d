package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables

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

  /** The full (node, kind, rank_scaled) table after [[Iters]] supersteps —
    * exposed separately from the registered top-20 query so invariants
    * (mass conservation, node-set preservation) are testable on the whole
    * frame.
    */
  /** Lineage-truncation cadence: every [[CheckpointEvery]] supersteps the
    * rank frame is `localCheckpoint`ed (eager), so the analyzed plan stays
    * O([[CheckpointEvery]]) deep no matter how large K grows — without it,
    * K≫5 made ANALYSIS time itself super-linear (each step re-analyzes the
    * whole chained lineage). Never fires at the registered K=5, so the
    * oracle-checked query's plan is byte-identical to the unchained form.
    * `localCheckpoint` trades fault-tolerance for speed (blocks are not
    * replicated); a production run at K≫5 swaps in reliable
    * `checkpoint()` against the cluster checkpoint dir — same call site.
    */
  private val CheckpointEvery = 5

  def pagerankRanks(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      iters: Int = Iters): org.apache.spark.sql.DataFrame = {
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
    val adj = graft.core.Cached.frame(
      graft.core.Width
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
    val nN = graft.core.Cached.frame(nodes.agg(count(lit(1)).as("n")))
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
    * unrolls them). Each round is neighbor-min THEN pointer-jump, so the
    * compressed reach doubles per round (2¹⁰ ≥ any plausible component
    * diameter at verify scales); plain neighbor-min alone needs
    * diameter-many rounds, and the sf0.001 mutual-kNN graph already has
    * diameter > 8. Convergence is asserted in GraphSpec.
    */
  val LpIters = 10

  /** Per-node community labels after `iters` rounds of hash-to-min-style
    * propagation over the MUTUAL k-NN graph — each round takes the min
    * label over self+neighbors, then pointer-jumps (every node adopts
    * its current label's label, the path-compression step that makes
    * convergence O(log n) rounds instead of O(diameter)). Exposed
    * separately from the registered query so GraphSpec can assert
    * convergence (one more round changes nothing on the fixture).
    */
  /** The symmetrized mutual-edge frame one propagation run reads. */
  private[graft] def lpSymEdges(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    // NOT src-repartitioned (round-17 negative result): a src-keyed sorted
    // cache was built and measured — label prop 2.53→2.86 s, k-core
    // 2.48→3.61 s, BFS 1.35→1.79 s at sf0.1/32c — because the per-round
    // SMJs do not reuse the cached partitioning across the checkpoint
    // boundary (each round's probe side is a LogicalRDD with unknown
    // partitioning, so EnsureRequirements re-exchanges BOTH sides) and the
    // extra exchange+sort at cache build is pure cost. Reverted; the plain
    // cache stands.
    graft.core.Cached.frame(
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

  /** One neighbor-min + pointer-jump round — exposed un-checkpointed so
    * PlanGoldenSpec pins the per-round shape (partial+final `min`
    * aggregate, then the jump's self-equi-join) that every superstep
    * re-executes; a lost map-side combine or a join-strategy flip here
    * multiplies by K.
    */
  private[graft] def lpRound(
      sym: org.apache.spark.sql.DataFrame,
      lbl: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val m = lbl
      .unionByName(
        sym.join(lbl, sym("src") === lbl("node")).select(col("dst").as("node"), col("lbl"))
      )
      .groupBy("node")
      .agg(min("lbl").as("lbl"))
    // pointer jump: labels are node ids of the same component, so every
    // label resolves against the (node, lbl) frame itself
    m.as("p")
      .join(m.as("q"), col("p.lbl") === col("q.node"))
      .select(col("p.node").as("node"), col("q.lbl").as("lbl"))
  }

  def labelPropLabels(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      iters: Int = LpIters): org.apache.spark.sql.DataFrame = {
    val sym = lpSymEdges(s, dir)
    var lbl = Tables(s, dir).embeddings.select(col("vec_id").as("node"), col("vec_id").as("lbl"))
    for (_ <- 0 until iters) {
      // EVERY round truncates lineage (vs PageRank's sparse ladder): the
      // round references its predecessor twice (self-union + neighbor
      // push) and m twice (the jump's join sides), so the ANALYZED plan —
      // not just the executed work; caching cannot help the analyzer —
      // would grow 4^K without truncation (measured: 109 s at sf0.1 for
      // K=10 vs sub-second truncated). The checkpoint is |V| rows per
      // round — metadata-sized at any corpus scale.
      lbl = lpRound(sym, lbl).localCheckpoint()
    }
    lbl
  }

  /** Community detection by min-label propagation WITH pointer jumping
    * (the hash-to-min MapReduce connected-components family, Rastogi et
    * al. 2013 — public method) over the MUTUAL k-NN graph — the
    * graph-native complement to the k-means topic audit
    * (`q_topic_clusters`): communities emerge from the high-precision
    * mutual-neighbor relation itself, no centroid model. The output row
    * is (vec_id, community) where `community` is the component's minimum
    * vec_id once converged — asserted against a union-find replay in
    * GraphSpec; the fixed-K-round semantics is what the oracle replays,
    * so the hash check is exact either way.
    *
    * Scale shape: the [[graft.ext.Similarity.mutualKnnEdges]] grain is
    * built once (cached, shared with `q_graph_triangles`) and symmetrized
    * into a ≤ k·n edge frame; every round shuffles only the (node, lbl)
    * frame — |V|-sized, with map-side `min` combine absorbing hub fan-in
    * (the PageRank discipline) and one self-equi-join for the pointer
    * jump; a PER-ROUND eager localCheckpoint keeps the analyzed plan
    * constant-size (each round references its predecessor twice, so the
    * tree would otherwise grow 4^K — an analyzer cost no cache can fix),
    * and O(log n) rounds suffice at ANY corpus
    * scale because the jump doubles compressed reach per round — the
    * property that makes this the 100 TB connected-components algorithm
    * rather than diameter-many neighbor rounds. Isolated vectors keep
    * themselves as singleton communities by the identity seed union.
    */
  val labelProp: Q = Q(
    "q_label_prop",
    (s, dir) =>
      labelPropLabels(s, dir)
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

  /** Peel rounds for the k-core decomposition. A bulk peel needs
    * "peeling depth" rounds to reach the fixpoint, and a dangling path
    * peels one node per round — so the depth is data-dependent (measured:
    * 8 rounds at sf0.01, 11 at sf0.1). 16 covers the fixtures with margin
    * (fixpoint asserted in GraphSpec); production chains fixed-pass jobs
    * until `alive` stops shrinking — the multi-job iteration the engine's
    * FIFO queue exists for — so the per-round lineage truncation here IS
    * the production shape, just driven to convergence.
    */
  val KcoreRounds = 16

  /** Minimum degree for core membership: the 2-core (every vertex on a
    * cycle) — the densest non-trivial core of a mutual k-NN graph whose
    * degree is capped at k = 3 by construction (a 3-core would demand
    * 3-regular components, which the fixture graph — correctly — does not
    * contain).
    */
  val KcoreK = 2

  /** Final-round induced degrees after `rounds` peels — exposed separately
    * so GraphSpec can assert the fixpoint (one more round changes
    * nothing).
    */
  private[graft] def kcoreDegrees(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    val sym   = lpSymEdges(s, dir)
    var alive = sym.select(col("src").as("v")).distinct()
    var deg   = alive.select(col("v").as("src"), lit(0L).as("deg"))
    for (_ <- 1 to rounds) {
      // degree within the subgraph induced by the current alive set: two
      // key joins against the (distinct) alive frame, then a partial+final
      // count. The per-round eager localCheckpoint is the labelProp
      // discipline — alive is derived from deg, which references the
      // previous alive twice, so the analyzed plan would grow 2^K without
      // truncation; the checkpoint is |alive| rows per round.
      // (Round-17 negative result, kept as the original shape: counting by
      // dst — legal by the symmetry of sym and of the alive predicate — to
      // reuse the second join's exchange was built and MEASURED WORSE,
      // 2.48 → 3.7 s at sf0.1/32c: the eliminated aggregate exchange was
      // also the AQE coalesce point, so the per-round checkpoint kept the
      // join's width and every later round paid more tasks than the
      // exchange cost.)
      deg = sym
        .join(alive.withColumnRenamed("v", "src"), "src")
        .join(alive.withColumnRenamed("v", "dst"), "dst")
        .groupBy("src")
        .agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      alive = deg.filter(col("deg") >= KcoreK).select(col("src").as("v"))
    }
    deg
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
    * Scale shape: the [[lpSymEdges]] frame is the cached ≤ 2k·n mutual
    * edge grain shared with `q_label_prop`; each round is two hash joins
    * against the |alive| node frame plus one partial+final count — never
    * an all-pairs structure — and the per-round localCheckpoint keeps the
    * analyzed plan constant-size (the labelProp 4^K lesson). Rounds are
    * fixed at [[KcoreRounds]] so the oracle can unroll; GraphSpec asserts
    * the fixture reaches its fixpoint within them.
    */
  val kcore: Q = Q(
    "q_kcore",
    (s, dir) =>
      kcoreDegrees(s, dir, KcoreRounds)
        .filter(col("deg") >= KcoreK)
        .select(col("src").as("vec_id"), col("deg").as("degree"))
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
    * oracle can replay. GraphSpec separately drives the same lineage to a
    * fixpoint and checks it against a driver-side BFS.
    */
  val BfsRounds = 8

  /** Hop distances after `rounds` min-plus relaxations from the seed set —
    * exposed separately from the registered query for GraphSpec's
    * convergence/replay assertions.
    */
  private[graft] def bfsHops(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    val sym = lpSymEdges(s, dir)
    var dist = Tables(s, dir).embeddings
      .filter(col("label") === 0)
      .select(col("vec_id").as("node"), lit(0L).as("hops"))
    for (_ <- 0 until rounds) {
      // min-plus relaxation: dist'(v) = min(dist(v), 1 + min over in-
      // neighbors u of dist(u)). References dist twice (self-union +
      // neighbor push), so the per-round eager localCheckpoint is the
      // labelProp 4^K discipline; the checkpoint is ≤ |V| rows.
      dist = dist
        .unionByName(
          sym
            .join(dist, sym("src") === dist("node"))
            .select(col("dst").as("node"), (col("hops") + 1).as("hops"))
        )
        .groupBy("node")
        .agg(min("hops").as("hops"))
        .localCheckpoint()
    }
    dist
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
    * Scale shape: the cached [[lpSymEdges]] grain (shared with
    * `q_label_prop`/`q_kcore`) is the only edge structure; each round
    * shuffles the (node, hops) frame — ≤ |V| rows, map-side `min` combine
    * absorbing hub fan-in — plus one hash join against the ≤ 2k·n edge
    * frame; per-round lineage truncation keeps analysis O(1) per round. A
    * frontier-delta variant (propagate only changed nodes) halves traffic
    * on late rounds but changes no semantics; at the fixture diameters the
    * dense relaxation is already sub-second. Unreached nodes carry no row
    * (no sentinel ∞ to disagree on between engines).
    */
  val bfs: Q = Q(
    "q_bfs_hops",
    (s, dir) =>
      bfsHops(s, dir, BfsRounds)
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

  /** Per-half-step score-frame broadcast cutoff (guide §3.1): at or below
    * this many nodes the |V|-sized score frame broadcasts (~16 MB framed at
    * the cutoff — bounded driver/executor cost) and the cached |E| grain is
    * never exchanged; above it the half-step falls back to a merge SMJ,
    * since a corpus-scale node set cannot broadcast. Decided per side from
    * node counts measured once at construction.
    */
  val HitsBroadcastNodes = 1000000L

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
    * Scale shape: the distinct edge set builds once and is cached; each
    * half-step attaches the |V|-sized score frame to it by a MEASURED
    * size decision (§3.1 "pick the join strategy deliberately"): below
    * [[HitsBroadcastNodes]] nodes the score frame broadcasts — the cached
    * edge grain is then never exchanged at all, the cheapest possible
    * half-step — and above it the join falls back to a merge SMJ (a
    * billion-node score frame cannot broadcast). The two node counts come
    * from ONE bounded driver read at construction, which also folds the
    * h0 seed divisor in as a literal. Each half-step ends in one
    * partial+final sum onto the |V| grain, and the
    * normalizer is a 1-row aggregate broadcast back via
    * `crossJoin(broadcast(...))` — the house keyless-window replacement,
    * here exercised PER SUPERSTEP. Each normalized frame references its
    * raw frame TWICE (once directly, once inside the total), so the plan
    * would quadruple per round (4^K — the labelProp analyzer lesson, and
    * measured here: the un-checkpointed K=4 lineage hung analysis); the
    * per-half-step eager `localCheckpoint` on the ≤|V|-row raw grain
    * truncates it. Top-20 per side is two TakeOrderedAndProject heaps
    * under a total (score, node) order.
    */
  /** The cached distinct supplier→part edge set plus its two node counts
    * (ONE bounded driver read) — shared by the registered query and the
    * plan-golden pin on the half-step shape.
    */
  private[graft] def hitsEdges(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, Long, Long) = {
    val e = graft.core.Cached.frame(
      Tables(s, dir).lineitem
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .distinct()
    )
    val cnts = e.agg(countDistinct("s").as("ns"), countDistinct("p").as("np")).first()
    (e, cnts.getLong(0), cnts.getLong(1))
  }

  /** The uniform seed frame: h0(s) = SCALE div |S| with the divisor folded
    * in as a literal from the one bounded driver read (same
    * 1-row-through-the-driver footprint as the previous
    * crossJoin(broadcast(agg)) at any scale, minus its plan machinery).
    */
  private[graft] def hitsSeed(
      e: org.apache.spark.sql.DataFrame,
      nSup: Long): org.apache.spark.sql.DataFrame =
    e.select("s").distinct().select(col("s"), lit(HitsScale / nSup).as("v"))

  /** One HITS half-step push (pre-checkpoint, pre-normalize): attach the
    * |V|-sized score frame to the cached edge grain and partial+final sum
    * onto the opposite node set. Join strategy is a MEASURED size decision
    * (guide §3.1): StageProbe r17 caught the previous merge shape
    * re-exchanging the cached |E| frame in EVERY half-step's job (the
    * score side is a checkpoint LogicalRDD whose partitioning/size
    * Catalyst cannot see, so the SMJ re-shuffled both sides); broadcasting
    * the measured-small score frame leaves the edge grain entirely
    * unshuffled per half-step, and past [[HitsBroadcastNodes]] the merge
    * SMJ stands. Pinned in PlanGoldenSpec.
    */
  private[graft] def hitsPush(
      e: org.apache.spark.sql.DataFrame,
      scores: org.apache.spark.sql.DataFrame,
      key: String,
      nNodes: Long,
      outKey: String): org.apache.spark.sql.DataFrame = {
    val joined =
      if (nNodes <= HitsBroadcastNodes) e.join(broadcast(scores), key)
      else e.hint("merge").join(scores, key)
    joined.groupBy(outKey).agg(sum("v").as("raw"))
  }

  val hits: Q = Q(
    "q_hits",
    (s, dir) => {
      val (e, nSup, nPart) = hitsEdges(s, dir)
      // an empty edge set has no hubs or authorities, and neither the
      // seed's SCALE div |S| nor a round's Σraw normalizer is defined on it
      if (nSup == 0L)
        e.select(lit("hub").as("side"), col("s").as("node"), lit(0L).as("score"))
      else {
        def push(
            scores: org.apache.spark.sql.DataFrame,
            key: String,
            nNodes: Long,
            outKey: String): org.apache.spark.sql.DataFrame =
          hitsPush(e, scores, key, nNodes, outKey).localCheckpoint()
        var h = hitsSeed(e, nSup)
        var a: org.apache.spark.sql.DataFrame = null
        // per-half-step normalizer: the raw frame is ALREADY materialized by
        // the eager localCheckpoint, so the global total is one bounded
        // driver row read straight off the checkpoint (`first()`), folded
        // into the plan as a literal — where the previous
        // crossJoin(broadcast(agg)) shape re-planned an aggregate + a
        // broadcast exchange + a BNLJ per half-step (measured r16: 8 extra
        // AQE stage pairs, ~100-150 ms each, on identical values). Same
        // 1-row-through-the-driver footprint as the broadcast at any scale.
        def tot(raw: org.apache.spark.sql.DataFrame): Long =
          raw.agg(sum("raw").as("tot")).first().getLong(0)
        for (_ <- 1 to HitsIters) {
          val rawA = push(h, "s", nSup, "p")
          a = rawA.select(col("p"), expr(s"raw * ${HitsScale}L div ${tot(rawA)}L").as("v"))
          val rawH = push(a, "p", nPart, "s")
          h = rawH.select(col("s"), expr(s"raw * ${HitsScale}L div ${tot(rawH)}L").as("v"))
        }
        val hubs = h
          .select(lit("hub").as("side"), col("s").as("node"), col("v").as("score"))
          .orderBy(col("score").desc, col("node"))
          .limit(20)
        val auths = a
          .select(lit("auth").as("side"), col("p").as("node"), col("v").as("score"))
          .orderBy(col("score").desc, col("node"))
          .limit(20)
        hubs.unionByName(auths).orderBy(col("side"), col("score").desc, col("node"))
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
    * cluster is a centroid artifact. NOT run on the [[labelPropLabels]]
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
      val asg = graft.core.Cached.frame(
        s.read
          .parquet(graft.ext.Ivf.indexFor(s, dir).path)
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
