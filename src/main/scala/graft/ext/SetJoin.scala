package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Tables, Width}
import graft.queries.Q

/** EXACT set-similarity self-join with prefix filtering — the
  * deterministic complement to the MinHash/LSH candidate tier
  * ([[Dedup.candidatePairs]]): every pair above the Jaccard threshold is
  * found, by construction, with zero banding-recall trade. The classic
  * All-Pairs/PPJoin prefix principle (Bayardo et al. 2007, "Scaling Up
  * All Pairs Similarity Search"; Xiao et al. 2008, PPJoin — public
  * algorithms): order every set by ONE global canonical token order
  * (ascending document frequency, ties by token — rarest first), and any
  * two sets with Jaccard ≥ t must share an element inside their first
  * |d| − ⌈t·|d|⌉ + 1 tokens. Proof shape: J ≥ t ⟹ the overlap i satisfies
  * i ≥ t/(1+t)·(|a|+|b|) ≥ t·max(|a|,|b|), so a set whose LAST
  * ⌈t·|d|⌉ − 1 tokens held the entire overlap would contradict i ≥
  * ⌈t·|d|⌉ — some shared token sits in each prefix. The equi-join on
  * prefix tokens therefore yields a COMPLETE candidate set and the exact
  * intersection verify pass only discards, never misses.
  *
  * Correctness does not depend on WHICH global order is used — only
  * completeness-preserving prefix lengths — so the rare-first order is
  * purely the performance lever (a prefix of rare shingles lands in
  * near-empty join buckets; a frequent-first order would funnel every doc
  * through the same hot tokens). That makes the DuckDB oracle free to be
  * the brute-force first-principles all-pairs Jaccard join — it validates
  * the optimized path against the DEFINITION, not a replay of the plan.
  *
  * Sets are the family's distinct 3-word shingles ([[Dedup.shingleSets]] —
  * the same one-scan-per-session cached grain every dedup query shares),
  * and the exact-duplicate pre-collapse discipline applies unchanged:
  * pairing runs over one representative per distinct text (identical text
  * ⟹ identical set ⟹ J = 1 cliques the exact-dedup tier already owns),
  * replayed in the oracle via the same rep CTE. Word-level sets were
  * measured and rejected: on this corpus ~74% of ALL doc pairs clear
  * t = 0.5 on distinct words (tiny shared vocabulary ⟹ dense similarity
  * graph, no filter can help); shingle similarity is bimodal (25/124,750
  * pairs at sf0.01) — the regime prefix filtering exists for.
  *
  * Scale shape at 100 TB: the df table is vocab-sized metadata; the
  * canonical order needs NO global rank materialization (the (df, token)
  * tuple IS the sort key, compared within-row by `array_sort` — no
  * keyless window anywhere); candidate generation is an equi hash join on
  * prefix tokens whose fan-out the rare-first order bounds; verification
  * touches only candidates. The one quadratic hazard — a token frequent
  * enough to appear in many prefixes — is exactly what ascending-df
  * ordering pushes OUT of prefixes.
  */
object SetJoin {

  /** Jaccard threshold 1/2 as an exact rational — the verify predicate is
    * integer cross-multiplication (2·|∩| ≥ |∪|), no doubles until the one
    * reported division.
    */
  private val TNum = 1L
  private val TDen = 2L

  /** Enumeration fan-out of the salted candidate join (see
    * [[similarityJoin]]): each prefix-token group's pair enumeration is
    * split saltB ways, at the cost of saltB× replication of the narrow
    * prefix frame on the d2 side. Derived from the SESSION, not a
    * compile-time constant (round 12): at local[32] this is the 8 the 10×
    * gate certified (32/4), but on a thousands-of-cores cluster a fixed 8
    * would still enumerate each hot-token group's |group|²/8 pairs on just
    * 8 tasks — `defaultParallelism/4` scales the split with the cluster
    * while the /4 keeps the replication cost (saltB× the narrow prefix
    * frame) a constant fraction of total memory per core. Capped at 64:
    * past that the replication volume grows faster than the residual
    * skew it removes (a 64-way split already caps any group's per-task
    * share at ~1.6% of its pairs), and SetJoinSpec pins the
    * meet-exactly-once invariant at the derived value, 8, and a
    * non-dividing fan-out.
    */
  private[graft] def saltBFor(docs: DataFrame): Int =
    math.min(64, math.max(8, docs.sparkSession.sparkContext.defaultParallelism / 4))

  /** WITHIN-GROUP prefix-filter candidate enumeration at an arbitrary
    * rational threshold `tNum/tDen` — [[similarityJoinWith]]'s candidate
    * machinery generalized over a grouping key, so other families can
    * re-route a saturated hash bucket's |B|² enumeration through the exact
    * prefix principle (round-13 consumer: `Dedup.ngramVerifiedPairs`'s
    * band-saturation re-route). Input schema: (gid, doc_id, toks, sz) with
    * `toks` already in a per-CORPUS canonical rare-first order (ANY global
    * order preserves completeness — the theorem in the object scaladoc —
    * rare-first is the performance choice). Output: distinct (d1, d2),
    * d1 < d2, within the same gid, passing the prefix length + positional
    * bounds — a COMPLETE candidate set for J ≥ tNum/tDen within each
    * group. The same salting discipline applies: each group's enumeration
    * splits `saltB` ways, pairs meet exactly once at salt = hash(d1).
    */
  private[graft] def groupedPrefixCandidates(
      sets: DataFrame,
      tNum: Long,
      tDen: Long,
      saltB: Int): DataFrame = {
    // |d| − ⌈t·|d|⌉ + 1 in exact integers: ⌈t·sz⌉ = (sz·tNum + tDen − 1) div tDen
    val plen =
      (col("sz") - call_function("div", col("sz").cast("long") * tNum + lit(tDen - 1), lit(tDen)) +
        lit(1)).cast("int")
    val pref = sets.select(
      col("gid"),
      col("doc_id"),
      col("sz"),
      posexplode(slice(col("toks"), lit(1), plen)).as(Seq("pos", "tok"))
    )
    val prefA = Width.compute(
      pref.withColumn("salt", pmod(hash(col("doc_id")), lit(saltB))),
      col("gid"), col("tok"), col("salt"))
    val prefB = Width.compute(
      pref.withColumn("salt", explode(array((0 until saltB).map(lit): _*))),
      col("gid"), col("tok"), col("salt"))
    prefA
      .alias("a")
      .join(
        prefB.alias("b"),
        col("a.gid") === col("b.gid") && col("a.tok") === col("b.tok") &&
          col("a.salt") === col("b.salt") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * tNum <= col("b.sz") * tDen &&
          col("b.sz") * tNum <= col("a.sz") * tDen &&
          lit(1) + least(col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1) >=
          expr(
            s"(${tNum}L * (CAST(a.sz AS BIGINT) + b.sz) + ${tNum + tDen - 1}L) div ${tNum + tDen}L"
          )
      )
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Per-doc shingle sets ordered by the global rare-first canonical
    * order, with sizes — the grain both the prefix generator and the
    * verify pass read. Built on the family-shared [[Dedup.shingleSets]]
    * cache (one documents scan per session) and cached itself: the df
    * aggregate + per-doc sort runs once, not once per downstream use.
    * Setless docs (< 3 tokens) are excluded: they cannot reach any
    * positive threshold against anything.
    */
  private def orderedSets(docs: DataFrame): DataFrame = {
    // Round-robin spread BEFORE the explode (round 11): the family shingle
    // cache inherits the fixture parquet's 3-4 input splits, so the
    // 100M-row (doc_id, tok) explode + its two shuffle writes (df count,
    // df join) ran as FOUR map tasks spilling for minutes at 10× — the
    // true bottleneck both half-sweep grinds pointed at. One narrow
    // 500k-row exchange of the set rows buys 32-way map parallelism for
    // everything downstream; at production scale the scan has thousands
    // of splits and the exchange is a no-op-sized rebalance.
    val sets = Width.compute(Dedup.shingleSets(docs).filter(size(col("sset")) > 0))
    val tk = sets.select(col("doc_id"), explode(col("sset")).as("tok"))
    val dfs = tk.groupBy("tok").agg(count(lit(1)).as("df"))
    graft.core.Cached.frame(
      tk.join(dfs, "tok")
        .groupBy("doc_id")
        .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
        .select(
          col("doc_id"),
          transform(col("ord"), x => x.getField("tok")).as("stoks"),
          // 64-bit token hashes for the cheap verify pre-filter: long-array
          // intersection is several times cheaper than string-array (no
          // per-element string hashing/equality). CROSS-doc collisions only
          // INFLATE the intersect (over-admission the exact string tier
          // discards), but an INTRA-doc collision collapses two distinct
          // tokens to one hash and can DEFLATE it — a qualifying pair would
          // be rejected, breaking this query's exactness premise. `hok`
          // (hashes collision-free within this doc) is computed once at
          // build; the filter below only trusts the hash tier when BOTH
          // sides are collision-free, falling through to the exact tier
          // otherwise (probability ~2^-64 per doc, so the fallback is
          // effectively never taken and costs nothing hot).
          transform(col("ord"), x => xxhash64(x.getField("tok"))).as("htoks"),
          (size(array_distinct(transform(col("ord"), x => xxhash64(x.getField("tok"))))) ===
            size(col("ord"))).as("hok"),
          size(col("ord")).as("sz")
        )
    )
  }

  /** |d| − ⌈t·|d|⌉ + 1 for t = 1/2, in exact integer arithmetic
    * (⌈d/2⌉ = (d+1) div 2).
    */
  private def prefixLen(sz: Column): Column =
    (sz - call_function("div", sz + 1, lit(TDen / TNum)) + 1).cast("int")

  /** All pairs (d1 < d2) with shingle-set Jaccard ≥ 1/2, exactly. One plan
    * at every corpus SIZE — unconditional [[saltBFor]] salting: a
    * size-derived fan-out was measured at sf0.1 and bought nothing (the
    * small-scale residual is the spread/hok correctness work, not the
    * salt), so the plan the 10× gate certified is the plan at every data
    * scale; only the SESSION's core count moves the fan-out.
    */
  def similarityJoin(docs: DataFrame): DataFrame =
    similarityJoinWith(docs, saltBFor(docs))

  /** [[similarityJoin]] at an explicit salt fan-out — split out so
    * SetJoinSpec can prove the salted enumeration equals brute force on a
    * corpus small enough to enumerate exactly, at more than one fan-out.
    */
  private[graft] def similarityJoinWith(docs: DataFrame, saltB: Int): DataFrame = {
    val base =
      if (Dedup.hasExactDups(docs)) docs.join(Dedup.repIds(docs), "doc_id") else docs
    val os = orderedSets(base)
    verifiedForSalts(os, saltB).orderBy("d1", "d2")
  }

  /** The verified-pairs pipeline over the ordered-set grain at salt
    * fan-out `saltB` (unsorted; the caller orders): prefix-token candidate
    * enumeration, then the hash-tier and exact string-tier verify.
    */
  private def verifiedForSalts(os: DataFrame, saltB: Int): DataFrame = {
    // one row per (doc, prefix position, token)
    val pref = os.select(
      col("doc_id"),
      col("sz"),
      posexplode(slice(col("stoks"), lit(1), prefixLen(col("sz"))))
        .as(Seq("pos", "tok"))
    )
    // SALTED enumeration (Vernica 2010's block split, the round-11 fix for
    // quadratic-OUTPUT skew): on a saturated token space a handful of hot
    // prefix tokens hold most rows, so a plain tok-equi-join concentrates
    // the |group|² pair enumeration in as many TASKS as there are hot
    // tokens — measured twice in the round-11 half-registry 10× sweep as
    // 4 busy cores + 28 idle, spill-thrashing for >30 min. AQE's skew
    // split cannot help: it keys on shuffle INPUT bytes, and the hot
    // partitions are small in bytes (the blow-up is the join OUTPUT).
    // Salting splits every tok group's enumeration SaltB ways: the d1
    // side keeps one salt (hash of its own id), the d2 side replicates
    // across all SaltB salts, so each (d1, d2) pair still meets EXACTLY
    // once — at salt = hash(d1) — and the candidate set is unchanged.
    // Cost: SaltB× replication of the narrow prefix frame (a few GB at
    // 500k docs); benefit: the quadratic stage engages every core.
    val prefA = Width.compute(
      pref.withColumn("salt", pmod(hash(col("doc_id")), lit(saltB))), col("tok"), col("salt"))
    val prefB = Width.compute(
      pref.withColumn("salt", explode(array((0 until saltB).map(lit): _*))), col("tok"), col("salt"))
    // Two output-neutral PPJoin prunes ride the candidate join itself (the
    // exact verify below only discards, so both are pure work savers — and
    // necessary ones: on the 10× stress corpus the small synthetic
    // vocabulary saturates the shingle space, prefix df climbs with corpus
    // size, and the unpruned collision set ground for >50 min where the
    // pruned one gates in minutes):
    //  - length filter: J >= t forces t <= |a|/|b| <= 1/t;
    //  - per-collision positional filter (Xiao 2008; the MapReduce form is
    //    Vernica 2010): overlap i <= 1 + min(|a| - pa, |b| - pb) at any
    //    shared prefix position, and J >= t needs i >= ceil(t/(1+t) *
    //    (|a|+|b|)), so a collision sitting late in BOTH prefixes cannot
    //    witness a qualifying pair. Completeness: a true pair's FIRST
    //    shared token satisfies the bound (1 + min(...) >= i there), so at
    //    least one collision per qualifying pair always survives into the
    //    distinct. For t = 1/2 the required overlap is ceil((sa+sb)/3).
    val cands = prefA
      .alias("a")
      .join(
        prefB.alias("b"),
        col("a.tok") === col("b.tok") && col("a.salt") === col("b.salt") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * TNum <= col("b.sz") * TDen &&
          col("b.sz") * TNum <= col("a.sz") * TDen &&
          lit(1) + least(col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1) >=
          expr(
            s"(${TNum}L * (CAST(a.sz AS BIGINT) + b.sz) + ${TNum + TDen - 1}L) div ${TNum + TDen}L"
          )
      )
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val h1 = os.select(
      col("doc_id").as("d1"), col("htoks").as("h1"), col("hok").as("hok1"), col("sz").as("sza"))
    val h2 = os.select(
      col("doc_id").as("d2"), col("htoks").as("h2"), col("hok").as("hok2"), col("sz").as("szb"))
    val s1 = os.select(col("doc_id").as("d1"), col("stoks").as("s1"))
    val s2 = os.select(col("doc_id").as("d2"), col("stoks").as("s2"))
    // spread before the CPU-heavy verify (measured without it: 4 tasks
    // busy, 28 cores idle on the 10× corpus), keyed by d1 so the first
    // verify join reuses the exchange
    val hashTier = Width
      .compute(cands, col("d1"))
      // HASH-FIRST topology (round 13): the mult=30/100 single-node gates
      // died of ENOSPC in the exchange that routes candidate rows to their
      // d2 side — each row was carrying the d1 side's FULL payload (string
      // shingle array ~2 KB + hash array). Attaching only the long-hash
      // columns here cuts that exchange's per-row payload ~3×, and the
      // string arrays join AFTER the hash tier has pruned candidates down
      // to ~true-pair volume (the hash bound restates J ≥ t exactly under
      // `hok`; cross-doc collisions only over-admit a vanishing fraction).
      .join(h1, "d1")
      .join(h2, "d2")
      // tier-1 verify on the long-hash arrays: |∩| >= ceil(t/(1+t)(sa+sb))
      // is EXACTLY J >= t restated WHEN both sides are intra-doc
      // collision-free (hok); otherwise the hash intersection could
      // under-count and the pair falls through to the exact tier unpruned
      .filter(
        !col("hok1") || !col("hok2") ||
          size(array_intersect(col("h1"), col("h2"))) * (TNum + TDen) >=
          expr(s"${TNum}L * (CAST(sza AS BIGINT) + szb)")
      )
      .select(col("d1"), col("d2"), col("sza"), col("szb"))
    // d2 first: the hash tier's last join left the stream d2-partitioned,
    // so the s2 join reuses that exchange and only the s1 join reshuffles
    hashTier
      .join(s2, "d2")
      .join(s1, "d1")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .withColumn("uni", col("sza").cast("long") + col("szb") - col("inter"))
      .filter(col("inter") * TDen >= col("uni") * TNum)
      .select(
        col("d1"),
        col("d2"),
        col("inter"),
        col("uni"),
        (col("inter").cast("double") / col("uni")).as("jac")
      )
  }

  /** Brute-force first-principles oracle: all rep pairs, exact Jaccard on
    * distinct shingle lists, same integer threshold — deliberately NOT a
    * replay of the prefix plan (see scaladoc above). Fine at oracle scale;
    * the Spark side is the one that must never materialize all pairs.
    */
  private val oracleSql =
    s"""WITH docs0 AS (${Dedup.sqlRepDocs}),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
       |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM docs0)),
       |sets AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       |p AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
       |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS BIGINT) AS uni
       |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id)
       |SELECT d1, d2, inter, uni, CAST(inter AS DOUBLE) / uni AS jac
       |FROM p WHERE inter * $TDen >= uni * $TNum
       |ORDER BY d1, d2""".stripMargin

  val setJoinQ: Q = Q(
    "q_set_join",
    (s, dir) => similarityJoin(Tables(s, dir).documents),
    Some(oracleSql)
  )

  val all: Seq[Q] = Seq(setJoinQ)
}
