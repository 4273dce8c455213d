package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Cached, Tables, Width}
import graft.queries.Q

/** EXACT set-similarity self-join with prefix filtering — the
  * deterministic complement to the MinHash/LSH candidate tier
  * ([[Dedup.candidatePairs]]): every pair above the Jaccard threshold is
  * found, by construction, with zero banding-recall trade. The prefix
  * principle, the salted enumeration and the tiered verify are
  * [[SetSim]]'s; this query picks the sets and the threshold. Because
  * correctness does not depend on which global order the prefix uses, the
  * DuckDB oracle is free to be the brute-force first-principles all-pairs
  * Jaccard join — it validates the optimized path against the DEFINITION,
  * not a replay of the plan.
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
  * Scale shape at 100 TB: the df table is vocab-sized metadata;
  * candidate generation is an equi hash join on prefix tokens whose
  * fan-out the rare-first order bounds; verification touches only
  * candidates. The one quadratic hazard — a token frequent enough to
  * appear in many prefixes — is exactly what ascending-df ordering pushes
  * OUT of prefixes.
  */
object SetJoin {

  /** Jaccard threshold 1/2 as an exact rational — the verify predicate is
    * integer cross-multiplication (2·|∩| ≥ |∪|), no doubles until the one
    * reported division.
    */
  private val TNum = 1L
  private val TDen = 2L

  /** Per-doc shingle sets in the rare-first canonical order with their
    * hashed image — the one cached grain both the prefix enumeration and
    * the verify read (doc_id, toks, h, hok, sz). Built on the family-shared
    * [[Dedup.shingleSets]] cache (one documents scan per session); the df
    * aggregate + per-doc sort runs once, not once per downstream use.
    * With exact duplicates the cache is restricted to one representative
    * per distinct text ([[Dedup.repIds]]). Setless docs (< 3 tokens) are
    * excluded: they cannot reach any positive threshold against anything.
    */
  private def orderedSets(docs: DataFrame): DataFrame = {
    val all  = Dedup.shingleSets(docs)
    val reps = if (Dedup.hasExactDups(docs)) all.join(Dedup.repIds(docs), "doc_id") else all
    // Round-robin spread BEFORE the explode: the family shingle cache
    // inherits the fixture parquet's 3-4 input splits, so the 100M-row
    // (doc_id, tok) explode + its two shuffle writes (df count, df join)
    // ran as FOUR map tasks spilling for minutes on a 10× corpus. One
    // narrow exchange of the set rows buys full map parallelism for
    // everything downstream; at production scale the scan has thousands
    // of splits and the exchange is a no-op-sized rebalance.
    val sets = Width.compute(reps.filter(size(col("sset")) > 0))
    Cached.frame(
      SetSim.rareFirst(sets, "sset").select(col("doc_id") +: col("toks") +: SetSim.image(col("toks")): _*)
    )
  }

  /** All pairs (d1 < d2) with shingle-set Jaccard ≥ 1/2, exactly. One plan
    * at every corpus SIZE — unconditional [[SetSim.saltBFor]] salting: a
    * size-derived fan-out was measured at sf0.1 and bought nothing, so
    * only the SESSION's core count moves the fan-out.
    */
  def similarityJoin(docs: DataFrame): DataFrame =
    similarityJoinWith(docs, SetSim.saltBFor(docs))

  /** [[similarityJoin]] at an explicit salt fan-out — split out so
    * SetJoinSpec can prove the salted enumeration equals brute force on a
    * corpus small enough to enumerate exactly, at more than one fan-out.
    */
  private[graft] def similarityJoinWith(docs: DataFrame, saltB: Int): DataFrame = {
    val os = orderedSets(docs)
    SetSim
      .verify(SetSim.prefixCandidates(os, TNum, TDen, saltB), os, os, "toks", TNum, TDen)
      .filter(col("inter") * TDen >= col("uni") * TNum)
      .select(
        col("d1"),
        col("d2"),
        col("inter"),
        col("uni"),
        (col("inter").cast("double") / col("uni")).as("jac")
      )
      .orderBy("d1", "d2")
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
