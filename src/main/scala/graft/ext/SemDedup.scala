package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Q

/** SemDeDup-style semantic deduplication over the embedding corpus
  * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication" — public method): find groups of
  * semantically near-identical documents INSIDE each semantic (k-means)
  * cluster and keep one representative per group — the paper's keep-rule
  * retains the example FARTHEST from the cluster centroid (low
  * centroid-similarity preserves the diverse/"edge" copies; the ones near
  * the centroid are the redundant mass).
  *
  * Composition — each leg reuses an already-hash-checked index:
  *
  *   - semantic scope: the persisted IVF k-means index ([[Ivf.indexFor]],
  *     C derived ~ √n) assigns every vector a cluster `cid` and an EXACT
  *     int64 centroid distance `d2` (recomputed scan-stage against the
  *     C-entry centroid literal — no join).
  *   - candidate pairs: the sign-LSH bucket join ([[Similarity
  *     .nearDupPairs]], derived plane count → ~constant bucket occupancy)
  *     proposes cosine ≥ τ pairs; pairs are then RESTRICTED to same-cid.
  *     This is what keeps the operator linear at 100 TB: within-cluster
  *     pairing via LSH buckets costs O(n·occupancy), never the
  *     per-cluster all-pairs O((n/C)²·C) a naive SemDeDup join would.
  *     The inherited trade, stated plainly: a same-cluster duplicate pair
  *     whose signatures never share a bucket in any table is not a
  *     candidate — the same measured banding-recall trade as
  *     `q_embed_neardup`/`q_ann_recall`, audited there, in exchange for
  *     never materializing a cluster-sized quadratic.
  *   - survivor rule (deterministic, order-independent): drop v iff some
  *     same-cluster τ-neighbor u dominates it — u is farther from the
  *     centroid (d2_u > d2_v), ties to the smaller vec_id. Exactly one
  *     member of every dominance chain survives; vectors with no
  *     same-cluster neighbor keep trivially.
  *
  * Output per vector: (vec_id, cid, d2, n_sem, keep) — `n_sem` is the
  * same-cluster τ-neighbor count (the redundancy audit), `d2` the exact
  * integer centroid distance, `keep` the verdict. All integer except the
  * cosine threshold, so the whole verdict table is hash-checkable.
  *
  * Scale shape: one scan of the persisted index (scan-stage d2), the
  * bucket-bounded pair join, two hash joins of the pair list against the
  * (vec_id, cid, d2) projection, a partial+final aggregate on the
  * pair-bounded grain, and one left join back to the corpus. No window,
  * no crossJoin, nothing driver-side beyond the already-bounded centroid
  * literals.
  */
object SemDedup {

  /** Same threshold as `q_embed_neardup` so the LSH candidate/pair layer
    * is shared (and its cache hit) between the two queries.
    */
  val SemTau: Double = Similarity.NearDupTau

  /** The verdict frame over the fixture corpus under `dir`. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir).embeddings
    val idx = Ivf.indexFor(s, dir)
    // persisted index rows + exact centroid distance: element_at picks the
    // row's own centroid from the C-entry literal (centroids are ordered
    // by cid by construction), qdist is the exact int64 L2
    val cvec = element_at(Ivf.centroidArrayLit(idx.centroids), col("cid") + 1)
      .getField("cvec")
    val withD2 = Ivf
      .quantized(Tables.read(s, idx.path))
      .withColumn("d2", Ivf.qdist(cvec))
      .select(col("vec_id"), col("cid").cast("int").as("cid"), col("d2"))
    val pairs = Similarity.cachedNearDupPairs(emb)
    val sem = pairs
      .join(
        withD2.select(col("vec_id").as("v1"), col("cid").as("c1"), col("d2").as("dd1")),
        "v1"
      )
      .join(
        withD2.select(col("vec_id").as("v2"), col("cid").as("c2"), col("d2").as("dd2")),
        "v2"
      )
      .filter(col("c1") === col("c2"))
    val und = sem
      .select(col("v1").as("a"), col("dd1").as("da"), col("v2").as("b"), col("dd2").as("db"))
      .unionByName(
        sem.select(col("v2").as("a"), col("dd2").as("da"), col("v1").as("b"), col("dd1").as("db"))
      )
    val agg = und
      .groupBy(col("a"))
      .agg(
        count(lit(1)).as("n_sem"),
        max(
          when(col("db") > col("da") || (col("db") === col("da") && col("b") < col("a")), 1)
            .otherwise(0)
        ).as("dominated")
      )
    withD2
      .join(agg, withD2("vec_id") === agg("a"), "left")
      .select(
        col("vec_id"),
        col("cid"),
        col("d2"),
        coalesce(col("n_sem"), lit(0L)).as("n_sem"),
        when(coalesce(col("dominated"), lit(0)) === 1, 0).otherwise(1).as("keep")
      )
      .orderBy("vec_id")
  }

  /** Full replay: the IVF fit CTEs ([[Ivf.fitCtesSql]] — derived C, fit
    * sample, unrolled Lloyd's iterations), a full-corpus assignment
    * carrying the winning distance, the LSH pair oracle embedded as a
    * subquery, the same-cid restriction, and the dominance aggregate.
    */
  def oracleSql(tau: Double): String = {
    val (fitPrefix, fitted) = Ivf.fitCtesSql(Ivf.Iters)
    s"""WITH $fitPrefix,
       |af AS (
       |  SELECT vec_id, cid, d FROM (
       |    SELECT q.vec_id, c.cid, ${Ivf.d2Sql("q.qv", "c.cv")} AS d,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${Ivf.d2Sql("q.qv", "c.cv")}, c.cid) AS rn
       |    FROM q, $fitted c) WHERE rn = 1),
       |pairs AS (SELECT v1, v2 FROM (${Similarity.nearDupOracleSql(tau)})),
       |sem AS (
       |  SELECT p.v1, a1.d AS d1, p.v2, a2.d AS d2
       |  FROM pairs p
       |  JOIN af a1 ON a1.vec_id = p.v1
       |  JOIN af a2 ON a2.vec_id = p.v2
       |  WHERE a1.cid = a2.cid),
       |und AS (
       |  SELECT v1 AS a, d1 AS da, v2 AS b, d2 AS db FROM sem
       |  UNION ALL
       |  SELECT v2, d2, v1, d1 FROM sem),
       |agg AS (
       |  SELECT a AS vec_id, COUNT(*) AS n_sem,
       |    MAX(CASE WHEN db > da OR (db = da AND b < a) THEN 1 ELSE 0 END) AS dominated
       |  FROM und GROUP BY a)
       |SELECT af.vec_id, CAST(af.cid AS INTEGER) AS cid, CAST(af.d AS BIGINT) AS d2,
       |  COALESCE(agg.n_sem, 0) AS n_sem,
       |  CAST(CASE WHEN COALESCE(agg.dominated, 0) = 1 THEN 0 ELSE 1 END AS INTEGER) AS keep
       |FROM af LEFT JOIN agg USING (vec_id)
       |ORDER BY af.vec_id""".stripMargin
  }

  val semDedupQ: Q = Q(
    "q_semdedup",
    (s, dir) => semDedup(s, dir),
    Some(oracleSql(SemTau))
  )

  val all: Seq[Q] = Seq(semDedupQ)
}
