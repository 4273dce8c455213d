package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Tables
import graft.queries.Q

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two paths:
  *   - brute-force cosine top-k against a query vector — the exactness
  *     baseline. The query vector is ONE row, broadcast; the scan side is
  *     embarrassingly parallel (per-row fold, no shuffle except the final
  *     top-k, which Spark plans as TakeOrderedAndProject: per-partition
  *     heaps + a k-row driver merge). This shape survives 100 TB: cost is
  *     one pass over the vectors.
  *   - sign-LSH (random hyperplane) bucketing — the approximate scale path
  *     for vector-to-vector workloads (near-dup pairs): vectors meet only
  *     within their LSH bucket via a hash join on the bucket key, never via
  *     a cartesian product.
  *
  * All arithmetic is float→double cast then a left-to-right `aggregate`
  * fold, so scores are deterministic and engine-independent.
  */
object Similarity {

  /** Deterministic left-to-right dot product — the native codegen'd
    * [[graft.functions.DotProduct]] expression (single fused loop inside
    * whole-stage codegen; the zip_with/aggregate formulation would run as
    * CodegenFallback and walk the arrays per lambda dispatch).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Single-pass cosine via [[graft.functions.CosineSimilarity]]. */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** Deterministic random hyperplanes for sign-LSH (seeded, engine-local).
    * Float so plane literal arrays type-match the float embeddings.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian().toFloat)
  }

  /** Bucket key: concatenated sign bits of projections onto the planes. */
  def lshBucket(emb: Column, planes: Array[Array[Float]]): Column = {
    val bits = planes.map { p =>
      val planeCol = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(p.map(lit)): _*)
      when(dot(emb, planeCol) >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(scala.collection.immutable.ArraySeq.unsafeWrapArray(bits): _*)
  }

  /** Multi-table LSH buckets: `(table_id, bucket)` rows, one per table.
    * Standard (L tables x k planes) sign-LSH: a single k-plane table's
    * collision probability is (1 - θ/π)^k, far too low for useful recall;
    * L independent tables union their candidates, so recall is
    * 1 - (1 - p^k)^L while each table's join stays bucket-bounded.
    */
  def lshTables(emb: Column, nTables: Int, nPlanes: Int, dim: Int = 64): Column = {
    val tables = (0 until nTables).map { t =>
      val planes = hyperplanes(nPlanes, dim, seed = 42L + t)
      struct(lit(t).as("table_id"), lshBucket(emb, planes).as("bucket"))
    }
    array(tables: _*)
  }

  // ---- corpus-derived plane count (the LSH sizing rule, applied) --------

  /** Per-bucket occupancy the plane count targets: with 2^p buckets per
    * table, p is sized so n / 2^p ≈ this. Small enough that the bucket
    * self-join's per-bucket quadratic term stays trivial, large enough
    * that cosine-close vectors still collide.
    */
  private[graft] val TargetOccupancy = 32L

  /** Plane-count ceiling: 2^16 buckets covers ~2M vectors per table at the
    * target occupancy, far past any fixture scale, and bounds the oracle's
    * hyperplane-literal text. (A deployment indexing >10^7 vectors per
    * executor raises it together with the oracle's `MaxPlanes`.)
    */
  private[graft] val MaxPlanes = 16

  /** The sizing rule the scaladoc used to state and the code now APPLIES:
    * the smallest p in [minPlanes, MaxPlanes] with 2^p ≥ ceil(n /
    * [[TargetOccupancy]]), so per-bucket occupancy — and with it the
    * bucket self-join's per-bucket quadratic candidate term — stays
    * ~constant as the corpus grows (the round-9 scale gate measured 10×
    * vectors ⇒ ~13× wall under a FIXED p). Pure integer arithmetic so the
    * DuckDB oracle derives the identical p from COUNT(*) — no
    * float-log2 rounding hazard at exact powers of two.
    */
  private[graft] def derivedPlanes(n: Long, minPlanes: Int): Int = {
    val buckets = (n + TargetOccupancy - 1) / TargetOccupancy
    (minPlanes to MaxPlanes).find(p => (1L << p) >= buckets).getOrElse(MaxPlanes)
  }

  /** Corpus count for plane derivation — the shared memoized probe
    * ([[graft.core.Cached.count]], same discipline as Dedup's dup-probe
    * memo): ~6 ANN queries would otherwise each schedule a count job at
    * construction time, and the session-wide memo also dedups against the
    * IVF centroid derivation over the same embeddings plan.
    */
  private def vecCount(emb: DataFrame): Long = graft.core.Cached.count(emb)

  /** 1-based rank column for an ALREADY-ORDERED ≤k-row result. The heavy
    * ordering work happened upstream (TakeOrderedAndProject); rank is just
    * the row's position, so a `zipWithIndex` over the tiny result replaces
    * the unpartitioned window that would otherwise (correctly but
    * misleadingly) warn about single-partition movement.
    *
    * `DataFrame.rdd` preserving the top-k order is not a documented planner
    * contract, so the callers pass the ordering keys and we re-assert the
    * order on a SINGLE partition — `coalesce(1)` first, because a
    * per-partition sort alone would still rank wrong if the ≤k rows ever
    * materialized as >1 partition whose partition order is not the global
    * order. One partition of ≤k rows makes rank well-defined by
    * construction, and is free at this size. (q_ann_topk's hash-checked
    * oracle would also catch a rank regression.)
    */
  private def withRank(ordered: DataFrame, orderingCols: Column*): DataFrame =
    withRankNamed(ordered, "rank", orderingCols: _*)

  /** [[withRank]] with a caller-chosen rank column name — the ONE
    * definition of the rank-attach idiom engine-wide (the retrieval
    * queries' `attachRank` was a drifting copy of this).
    */
  private[graft] def withRankNamed(
      ordered: DataFrame,
      rankCol: String,
      orderingCols: Column*): DataFrame = {
    val reasserted =
      if (orderingCols.isEmpty) ordered
      else ordered.coalesce(1).sortWithinPartitions(orderingCols: _*)
    val out = StructType(StructField(rankCol, LongType, nullable = false) +: reasserted.schema.fields)
    val rdd = reasserted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq((i + 1L) +: r.toSeq) }
    ordered.sparkSession.createDataFrame(rdd, out)
  }

  /** The distributed part of [[topKCosine]]: scan → score → top-k, ending
    * in TakeOrderedAndProject. Exposed so PlanSpec can assert the physical
    * plan (the final rank attach converts to an RDD and hides it).
    */
  /** Every vector scored against the 1-row broadcast query vector — the
    * shared prelude of [[topKCosineScored]] and [[maxSimTopK]], so the
    * exact scoring definition lives in one place.
    */
  private def scoredAgainstQuery(emb: DataFrame, queryId: Long): DataFrame = {
    val qv = emb.filter(col("vec_id") === queryId).select(col("embedding").as("qv"))
    emb
      .crossJoin(broadcast(qv)) // 1-row broadcast: a BroadcastNestedLoopJoin over a single row, not a shuffle
      .withColumn("cos", cosine(col("embedding"), col("qv")))
  }

  /** The matching oracle prelude: exact-cosine scoring CTEs shared by the
    * [[annTopK]] and [[maxSim]] oracles.
    */
  private def cosineScoreCte(queryId: Long): String =
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $queryId),
       |sc AS (
       |  SELECT vec_id, label,
       |    list_dot_product(embedding::DOUBLE[], qv)
       |      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       |         * sqrt(list_dot_product(qv, qv))) AS cos
       |  FROM embeddings, q)""".stripMargin

  def topKCosineScored(emb: DataFrame, queryId: Long, k: Int): DataFrame =
    scoredAgainstQuery(emb, queryId)
      .select("vec_id", "label", "cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)

  /** Brute-force top-k cosine neighbors of the vector with `queryId`. */
  def topKCosine(emb: DataFrame, queryId: Long, k: Int): DataFrame =
    withRank(topKCosineScored(emb, queryId, k), col("cos").desc, col("vec_id"))
      .select("rank", "vec_id", "label")

  /** ANN top-k: candidates = vectors sharing any LSH table bucket with the
    * query (hash join on (table_id, bucket) after an explode — the shuffle
    * carries (vec_id, bucket) pairs, never embeddings-times-embeddings),
    * then exact cosine re-rank of the candidate set only.
    */
  def annTopKLsh(emb: DataFrame, queryId: Long, k: Int, nTables: Int = 4, minPlanes: Int = 4): DataFrame = {
    val nPlanes = derivedPlanes(vecCount(emb), minPlanes)
    val keyed = emb
      .select(col("vec_id"), col("label"), col("embedding"), explode(lshTables(col("embedding"), nTables, nPlanes)).as("tb"))
      .select(col("vec_id"), col("label"), col("embedding"), col("tb.table_id"), col("tb.bucket"))
    val qRows = keyed
      .filter(col("vec_id") === queryId)
      .select(col("embedding").as("qv"), col("table_id").as("qt"), col("bucket").as("qb"))
    val top = keyed
      .join(broadcast(qRows), col("table_id") === col("qt") && col("bucket") === col("qb"))
      .select("vec_id", "label", "embedding", "qv")
      .dropDuplicates("vec_id") // candidate may match in several tables
      .withColumn("cos", cosine(col("embedding"), col("qv")))
      .select("vec_id", "label", "cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
    withRank(top, col("cos").desc, col("vec_id")).select("rank", "vec_id", "label")
  }

  /** Embedding near-duplicate pairs: same bucket in ANY LSH table AND
    * cosine >= tau. Pair generation is a self-join on (table_id, bucket) —
    * bucketed, never all-pairs; pairs found by several tables dedup before
    * the exact cosine verification.
    */
  /** The one LSH candidate-pair construction shared by [[nearDupPairs]]
    * (undirected, `v1 < v2`) and [[knnJoin]] (directed, `v1 != v2`):
    * explode onto (table_id, bucket) keys, hash self-join within buckets,
    * dedup pairs found by several tables. One source of truth — the oracle
    * side already shares [[bucketSelects]] the same way.
    */
  private[graft] def bucketCandidates(emb: DataFrame, directed: Boolean, nTables: Int, nPlanes: Int): DataFrame = {
    val b = emb
      .select(col("vec_id"), col("embedding"), explode(lshTables(col("embedding"), nTables, nPlanes)).as("tb"))
      .select(col("vec_id"), col("embedding"), col("tb.table_id"), col("tb.bucket"))
    val pred =
      if (directed) col("a.vec_id") =!= col("b.vec_id") else col("a.vec_id") < col("b.vec_id")
    b.alias("a")
      .join(
        b.alias("b"),
        col("a.table_id") === col("b.table_id") && col("a.bucket") === col("b.bucket") && pred
      )
      .select(
        col("a.vec_id").as("v1"),
        col("b.vec_id").as("v2"),
        col("a.embedding").as("e1"),
        col("b.embedding").as("e2")
      )
      .dropDuplicates("v1", "v2")
  }

  def nearDupPairs(emb: DataFrame, tau: Double, nTables: Int = 4, minPlanes: Int = 6): DataFrame =
    bucketCandidates(emb, directed = false, nTables, derivedPlanes(vecCount(emb), minPlanes))
      .withColumn("cos", cosine(col("e1"), col("e2")))
      .filter(col("cos") >= tau)
      .select("v1", "v2", "cos")

  // ---- registered queries -------------------------------------------------

  /** Exact top-10 cosine neighbors of vec_id=0. Score excluded from the
    * output so a sub-ulp summation difference can never flip a hash compare;
    * rank order itself is stable (cosine gaps >> double epsilon).
    */
  val annTopK: Q = Q(
    "q_ann_topk",
    (s, dir) => topKCosine(Tables(s, dir).embeddings, 0L, 10),
    Some(
      s"""${cosineScoreCte(0L)}
        |SELECT ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rank, vec_id, label
        |FROM sc ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
    )
  )

  /** DuckDB replay of [[annTopKLsh]]: same hyperplane-literal bucket
    * assignment as [[nearDupOracleSql]], then the query's buckets select the
    * candidate set and the exact-cosine re-rank runs over candidates only —
    * the whole approximate path (bucketing, candidate dedup, re-rank, rank
    * attach) is hash-checked, not just row-counted.
    */
  def annLshOracleSql(queryId: Long, k: Int, nTables: Int = 4, minPlanes: Int = 4, dim: Int = 64): String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |${planesCte(minPlanes)},
       |b AS (
       |${bucketSelects(nTables, dim)}
       |),
       |q AS (SELECT table_id, bucket FROM b WHERE vec_id = $queryId),
       |qv AS (SELECT v AS qvec FROM e WHERE vec_id = $queryId),
       |cand AS (SELECT DISTINCT b.vec_id FROM b JOIN q USING (table_id, bucket)),
       |sc AS (
       |  SELECT e.vec_id, e.label,
       |    list_dot_product(e.v, qvec)
       |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qvec, qvec))) AS cos
       |  FROM cand JOIN e ON e.vec_id = cand.vec_id, qv)
       |SELECT ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rank, vec_id, label
       |FROM sc ORDER BY cos DESC, vec_id LIMIT $k""".stripMargin

  /** LSH-bucketed ANN (approximate scale path), hash-checked end-to-end
    * against the hyperplane-replay oracle (was rows-only until round 4);
    * plan/recall assertions live in ExtSpec.
    */
  val annLsh: Q = Q(
    "q_ann_lsh",
    (s, dir) => annTopKLsh(Tables(s, dir).embeddings, 0L, 10),
    Some(annLshOracleSql(0L, 10))
  )

  /** CTE pair `nv` + `pl`: the oracle replay of [[derivedPlanes]] — the
    * corpus count and the smallest p in [minPlanes, [[MaxPlanes]]] with
    * 2^p ≥ ceil(n / [[TargetOccupancy]]). Pure BIGINT shifts/division, so
    * both engines derive the identical p for any corpus.
    */
  private def planesCte(minPlanes: Int): String =
    s"""nv AS (SELECT COUNT(*) AS n FROM embeddings),
       |pl AS (SELECT CAST(coalesce(MIN(i), $MaxPlanes) AS INT) AS p
       |       FROM range($minPlanes, ${MaxPlanes + 1}) t(i), nv
       |       WHERE (1::BIGINT << i) >= (n + ${TargetOccupancy - 1}) // $TargetOccupancy)""".stripMargin

  /** The `b` CTE body shared by the LSH oracles: per-table sign-LSH bucket
    * assignment with the seeded hyperplanes emitted as DOUBLE literals, so
    * DuckDB replays the exact engine bucketing (identical float→double
    * products and left-to-right fold as `graft_dot`). All [[MaxPlanes]]
    * sign bits are emitted and the first `p` (the `pl` CTE's derived plane
    * count) form the bucket — valid because the seeded generator fills
    * planes row-major, so `hyperplanes(p)` is a strict prefix of
    * `hyperplanes(MaxPlanes)`. Expects CTEs `e` (`(vec_id, …, v
    * DOUBLE[])`) and `pl` in scope.
    */
  private def bucketSelects(nTables: Int, dim: Int): String = {
    def arr(p: Array[Float]) = p.map(_.toDouble.toString).mkString("[", ", ", "]::DOUBLE[]")
    val full = (0 until nTables)
      .map { t =>
        val bits = hyperplanes(MaxPlanes, dim, seed = 42L + t)
          .map(p => s"(CASE WHEN list_dot_product(v, ${arr(p)}) >= 0 THEN '1' ELSE '0' END)")
          .mkString(" || ")
        s"    SELECT vec_id, $t AS table_id, $bits AS bucket16 FROM e"
      }
      .mkString("\n    UNION ALL\n")
    s"""  SELECT vec_id, table_id, substr(bucket16, 1, p) AS bucket
       |  FROM (
       |$full
       |  ) bb, pl""".stripMargin
  }

  /** DuckDB oracle for [[nearDupPairs]]: the seeded hyperplanes are emitted
    * as DOUBLE literals so the oracle replays the exact sign-LSH bucketing
    * (identical float→double products and left-to-right fold as `graft_dot`,
    * whose cross-engine bit-parity `q_ann_topk` already demonstrates) and
    * the exact-cosine threshold — making the approximate operator fully
    * hash-checkable, like the SimHash oracle.
    */
  def nearDupOracleSql(tau: Double, nTables: Int = 4, minPlanes: Int = 6, dim: Int = 64): String = {
    val tableSelects = bucketSelects(nTables, dim)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${planesCte(minPlanes)},
       |b AS (
       |$tableSelects
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS v1, b2.vec_id AS v2
       |  FROM b a JOIN b b2
       |    ON a.table_id = b2.table_id AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
       |)
       |SELECT v1, v2 FROM cand
       |JOIN e e1 ON e1.vec_id = cand.v1
       |JOIN e e2 ON e2.vec_id = cand.v2
       |WHERE list_dot_product(e1.v, e2.v)
       |      / (sqrt(list_dot_product(e1.v, e1.v)) * sqrt(list_dot_product(e2.v, e2.v)))
       |      >= CAST($tau AS DOUBLE)
       |ORDER BY v1, v2""".stripMargin
  }

  /** Per-vector int8 scalar quantization (the SQ8 index tier): each vector
    * is scaled by 127/max|x_i| and rounded, so it stores as 64 bytes instead
    * of 256 — at 100 TB the SQ8 table is what the first-pass scan reads
    * (4× the vectors per byte of scan bandwidth), and only re-rank
    * candidates ever fetch full-precision rows. Determinism: the scale is
    * one IEEE division, each code is one multiply + round (both engines
    * round half-away-from-zero on bit-identical doubles), and quantized
    * dot products are exact small-integer sums. The scale factor is
    * PROJECTED before the transform lambda — referencing the array_max
    * subtree inside the lambda would re-evaluate it per element (the
    * O(dim²) HOF trap). Codes are stored as float (ints ≤127 are exact) so
    * [[dot]] runs its fused codegen loop unchanged.
    */
  def sq8Quantized(emb: DataFrame): DataFrame =
    emb
      .select(
        col("vec_id"),
        col("label"),
        col("embedding"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("m")
      )
      .withColumn("s", when(col("m") > 0, lit(127.0) / col("m")).otherwise(lit(0.0)))
      .select(
        col("vec_id"),
        col("label"),
        col("embedding"),
        col("m"),
        transform(col("embedding"), x => round(x.cast("double") * col("s")))
          .cast("array<float>")
          .as("qv")
      )

  /** SQ8 two-phase ANN: rank ALL vectors by the reconstructed quantized dot
    * product (`idot · m_a · m_b / 127²` — the asymmetric-distance estimate),
    * keep the top `rerank`, then exact-cosine re-rank those to the final k.
    * Both phases end in TakeOrderedAndProject; the only full-precision
    * vectors touched after the scan are the `rerank` candidates.
    */
  def annTopKSq8(emb: DataFrame, queryId: Long, k: Int, rerank: Int): DataFrame = {
    val qz = sq8Quantized(emb)
    val q = qz
      .filter(col("vec_id") === queryId)
      .select(col("embedding").as("qvec"), col("m").as("qm"), col("qv").as("qqv"))
    val cand = qz
      .crossJoin(broadcast(q)) // 1-row broadcast, as in topKCosineScored
      .withColumn("approx", dot(col("qv"), col("qqv")) * col("m") * col("qm") / lit(16129.0))
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(rerank)
    val top = cand
      .withColumn("cos", cosine(col("embedding"), col("qvec")))
      .select("vec_id", "label", "cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
    withRank(top, col("cos").desc, col("vec_id")).select("rank", "vec_id", "label")
  }

  /** DuckDB replay of [[annTopKSq8]]: the quantization (scale, round), the
    * reconstructed-dot candidate ranking, and the exact re-rank all replay
    * literally — quantized dots are exact integer sums, the scales single
    * IEEE ops, so the whole approximate path is hash-checked like the LSH
    * and IVF oracles.
    */
  def annSq8OracleSql(queryId: Long, k: Int, rerank: Int): String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |mz AS (SELECT vec_id, label, v,
       |         list_max(list_transform(v, x -> abs(x))) AS m FROM e),
       |qz AS (SELECT vec_id, label, v, m,
       |         list_transform(v, x ->
       |           round(x * (CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END))) AS qv
       |       FROM mz),
       |q AS (SELECT v AS qvec, m AS qm, qv AS qqv FROM qz WHERE vec_id = $queryId),
       |cand AS (
       |  SELECT z.vec_id, z.label, z.v,
       |    list_dot_product(z.qv, qqv) * z.m * qm / 16129.0 AS approx
       |  FROM qz z, q
       |  ORDER BY approx DESC, vec_id LIMIT $rerank),
       |rr AS (
       |  SELECT cand.vec_id, cand.label,
       |    list_dot_product(cand.v, qvec)
       |      / (sqrt(list_dot_product(cand.v, cand.v)) * sqrt(list_dot_product(qvec, qvec))) AS cos
       |  FROM cand, q)
       |SELECT ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rank, vec_id, label
       |FROM rr ORDER BY cos DESC, vec_id LIMIT $k""".stripMargin

  /** SQ8-quantized ANN, hash-checked end-to-end against the quantization
    * replay. rerank=30 over k=10 gives the estimate headroom (ExtSpec pins
    * recall vs the exact [[annTopK]]).
    */
  val annSq8: Q = Q(
    "q_ann_sq8",
    (s, dir) => annTopKSq8(Tables(s, dir).embeddings, 0L, 10, 30),
    Some(annSq8OracleSql(0L, 10, 30))
  )

  /** Cosine threshold for the near-dup query: the synthetic fixture's max
    * pairwise cosine is ≈0.51 (sf0.01), so the old τ=0.8 made the check
    * vacuous (0 rows). τ=0.4 sits inside the fixture's actual similarity
    * range and no fixture pair lands near the boundary.
    */
  val NearDupTau = 0.4

  /** LSH-bucketed embedding near-dup pairs, hash-checked end-to-end against
    * the hyperplane-replay oracle. `cos` is excluded from the output (pairs
    * are the semantics; the score is asserted in ExtSpec) so the hash never
    * depends on emitting a raw double.
    */
  /** The τ-thresholded pair list is SHARED session state (`Cached.frame`
    * keys on plan identity): `q_embed_neardup` emits it and `q_semdedup`
    * restricts it to k-means cells, so the bucket join runs once per
    * session, not once per consumer. The cached frame is pair-bounded
    * (verified pairs only), not corpus-sized.
    */
  def cachedNearDupPairs(emb: DataFrame): DataFrame =
    graft.core.Cached.frame(nearDupPairs(emb, NearDupTau).select("v1", "v2"))

  val embedNearDup: Q = Q(
    "q_embed_neardup",
    (s, dir) => cachedNearDupPairs(Tables(s, dir).embeddings).orderBy("v1", "v2"),
    Some(nearDupOracleSql(NearDupTau))
  )

  /** k-NN self-join: for EVERY vector, its top-k nearest neighbors among
    * the LSH candidates — the all-vectors dual of the single-query
    * [[annTopKLsh]], and the shape an embedding-dedup / retrieval-index
    * pipeline actually runs over the whole corpus. Candidate pairs come
    * from the same (table_id, bucket) hash self-join as [[nearDupPairs]]
    * (bucket-bounded, never all-pairs — an exact k-NN join would be O(n²)
    * at any scale); the per-vector top-k is a row_number window over the
    * candidate set, partitioned on the source vector, so the only exchanges
    * are the bucket join and one window shuffle on vec_id whose input is
    * already pair-bounded. Directed: (a,b) and (b,a) rank independently.
    * Vectors whose buckets are singletons in all tables have no candidates
    * and are absent — the documented LSH recall trade, measured in ExtSpec.
    *
    * SIZING AT SCALE: a FIXED plane count caps buckets at 2^p per table,
    * so per-bucket occupancy — and with it the bucket self-join's
    * candidate count, which is quadratic IN THE OCCUPANCY — would grow
    * linearly with the corpus (measured in the round-9 scale gate: 10×
    * the vectors cost ~13× the wall time at a fixed p=6). The plane count
    * is therefore DERIVED per corpus by [[derivedPlanes]] (smallest p with
    * 2^p ≥ n/32, floored at `minPlanes`), from one memoized metadata
    * count; the oracle replays the identical integer derivation from
    * COUNT(*), so the approximate result stays hash-checked at every
    * fixture scale.
    */
  def knnJoin(emb: DataFrame, k: Int, nTables: Int = 4, minPlanes: Int = 6): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("v1")
      .orderBy(col("cos").desc, col("v2"))
    bucketCandidates(emb, directed = true, nTables, derivedPlanes(vecCount(emb), minPlanes))
      .withColumn("cos", cosine(col("e1"), col("e2")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("v1").as("vec_id"), col("rank"), col("v2").as("neighbor_id"))
      .orderBy("vec_id", "rank")
  }

  /** DuckDB replay of [[knnJoin]]: hyperplane-literal buckets → distinct
    * directed candidate pairs → exact cosine → per-vector ROW_NUMBER —
    * the whole approximate join is hash-checked like the other LSH oracles.
    */
  def knnJoinOracleSql(k: Int, nTables: Int = 4, minPlanes: Int = 6, dim: Int = 64): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${planesCte(minPlanes)},
       |b AS (
       |${bucketSelects(nTables, dim)}
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vid, b2.vec_id AS nbr
       |  FROM b a JOIN b b2
       |    ON a.table_id = b2.table_id AND a.bucket = b2.bucket AND a.vec_id <> b2.vec_id),
       |sc AS (
       |  SELECT vid, nbr,
       |    list_dot_product(e1.v, e2.v)
       |      / (sqrt(list_dot_product(e1.v, e1.v)) * sqrt(list_dot_product(e2.v, e2.v))) AS cos
       |  FROM cand JOIN e e1 ON e1.vec_id = vid JOIN e e2 ON e2.vec_id = nbr)
       |SELECT vec_id, rank, neighbor_id FROM (
       |  SELECT vid AS vec_id, nbr AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, nbr) AS rank
       |  FROM sc)
       |WHERE rank <= $k ORDER BY vec_id, rank""".stripMargin

  /** Per-vector top-3 LSH k-NN join, hash-checked end-to-end. Score is
    * excluded from the output like the other ANN queries (ranks are the
    * semantics; cosine gaps >> double epsilon make the order stable).
    */
  /** k used by the registered k-NN graph queries. */
  val KnnK = 3

  private val knnBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.FutureTask[String]]()

  /** The k-NN graph as a SESSION-scoped materialized artifact — the
    * [[Ivf.indexFor]] discipline applied to the graph both `q_knn_join`
    * and `q_knn_hubness` consume: built ONCE per fixture dir by
    * [[knnJoin]] (bucket-bounded candidates, derived plane count), written
    * as parquet through a distributed write (k·n narrow rows), and read
    * back by every consumer. A production pipeline maintains exactly this
    * artifact (dedup, hubness, graph clustering all read it); recomputing
    * the bucket join per downstream query — the previous shape here —
    * measured 2× the build cost at the 10× scale gate for the two
    * consumers alone. Rebuilt per session and dir, not when the fixture is
    * rewritten (the IVF index's contract).
    */
  def knnGraphFor(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.core.SessionArtifact.memo(knnBuilt, dir) {
      val p = graft.core.SessionArtifact.pathFor("graft-knn-graph", dir)
      knnJoin(Tables(spark, dir).embeddings, KnnK)
        .write.mode("overwrite").parquet(p)
      p
    }
    Tables.read(spark, path)
  }

  /** Registered query: reads the materialized graph ([[knnGraphFor]] — the
    * offline-build analog, pre-built by Bench warm-up) and re-asserts the
    * output order lost in the parquet round-trip; the BUILD plan is pinned
    * separately in PlanGoldenSpec. The hash-checked oracle still replays
    * the entire computation, so a build regression flips the compare.
    */
  val knnJoinQ: Q = Q(
    "q_knn_join",
    (s, dir) => knnGraphFor(s, dir).orderBy("vec_id", "rank"),
    Some(knnJoinOracleSql(KnnK))
  )

  /** Late-interaction (MaxSim) retrieval — the ColBERT-style scoring
    * shape: a "document" is a GROUP of vectors (here: all embeddings
    * sharing a `label`, standing in for per-chunk embeddings of one doc),
    * and its score against the query is the MAX cosine over its members.
    * One pass: broadcast the 1-row query vector, score every member
    * (codegen'd cosine), partial+final `max` per group, top-5 as
    * TakeOrderedAndProject. Scores are single fused-loop doubles on
    * bit-identical inputs, so even the ranking score is hash-checked; at
    * 100 TB this is a scan + one narrow exchange of (label, partial max).
    */
  def maxSimTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame =
    scoredAgainstQuery(emb, queryId)
      .groupBy("label")
      .agg(max("cos").as("max_sim"), count(lit(1)).as("n_members"))
      .orderBy(col("max_sim").desc, col("label"))
      .limit(k)

  /** MaxSim top-5 labels for query vector 0, hash-checked end-to-end
    * (max picks ONE member's exact cosine — no summation-order hazard,
    * so the score column itself rides the hash compare).
    */
  val maxSim: Q = Q(
    "q_maxsim",
    (s, dir) => maxSimTopK(Tables(s, dir).embeddings, 0L, 5),
    Some(
      s"""${cosineScoreCte(0L)}
        |SELECT label, MAX(cos) AS max_sim, COUNT(*) AS n_members
        |FROM sc GROUP BY label
        |ORDER BY max_sim DESC, label LIMIT 5""".stripMargin
    )
  )

  /** LSH recall@k audit over a fixed query panel — the operational
    * quality gate every approximate index needs next to its speed
    * numbers: for each of the first `nQueries` vectors, the exact
    * brute-force top-k is compared against the LSH-bucketed top-k and
    * the overlap reported as integer recall ppm. A production pipeline
    * runs exactly this panel audit before trusting an index cutover.
    *
    * Scale shape: the panel is a CONSTANT-size (≤ nQueries·nTables rows)
    * broadcast on both paths — the exact side scores the corpus against
    * all panel queries in one fused scan (BroadcastNestedLoopJoin over
    * 20 rows, never a shuffle-cartesian), the LSH side joins the
    * broadcast panel buckets. Both per-query top-k's are row_number
    * windows keyed by query id, which Spark 3.5+ plans with a map-side
    * WindowGroupLimit (each task keeps ≤ k rows per key before the
    * exchange), so no window frame ever holds a corpus-sized partition.
    * The recall join and final aggregate run on k·nQueries rows —
    * metadata-sized at any corpus scale.
    */
  def annRecall(
      emb: DataFrame,
      nQueries: Int,
      k: Int,
      nTables: Int = 4,
      minPlanes: Int = 4): DataFrame = {
    val nPlanes = derivedPlanes(vecCount(emb), minPlanes)
    // the audit references the vector table four ways (panel, exact side,
    // bucketed side, panel buckets) — cache the narrow (id, vec) projection
    // once so all four read the in-memory copy, not four parquet scans
    // (production shape: the ANN index build's one pass over the corpus)
    val vecs = graft.core.Cached.frame(emb.select(col("vec_id"), col("embedding")))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id"))
    val queries = vecs
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = vecs
      .crossJoin(broadcast(queries)) // constant-size panel broadcast
      .withColumn("cos", cosine(col("embedding"), col("qv")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select("qid", "vec_id")
    val keyed = vecs
      .select(
        col("vec_id"),
        col("embedding"),
        explode(lshTables(col("embedding"), nTables, nPlanes)).as("tb")
      )
      .select(col("vec_id"), col("embedding"), col("tb.table_id"), col("tb.bucket"))
    val qb = keyed
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("qid"),
        col("embedding").as("qv"),
        col("table_id").as("qt"),
        col("bucket").as("qbk")
      )
    val lsh = keyed
      .join(broadcast(qb), col("table_id") === col("qt") && col("bucket") === col("qbk"))
      .dropDuplicates("qid", "vec_id") // candidate may match in several tables
      .withColumn("cos", cosine(col("embedding"), col("qv")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select("qid", "vec_id")
    val ex   = exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
    val hits = exact
      .join(lsh, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_hit"))
    ex.join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_ppm", expr("(n_hit * 1000000L) div n_exact"))
      .orderBy("qid")
  }

  /** DuckDB replay of [[annRecall]]: hyperplane-literal buckets, both
    * panel top-k's as QUALIFY-style ROW_NUMBER subqueries, integer recall.
    */
  def annRecallOracleSql(
      nQueries: Int,
      k: Int,
      nTables: Int = 4,
      minPlanes: Int = 4,
      dim: Int = 64): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${planesCte(minPlanes)},
       |b AS (
       |${bucketSelects(nTables, dim)}
       |),
       |qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $nQueries),
       |exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qs.qid, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY qs.qid ORDER BY
       |        list_dot_product(e.v, qs.qv)
       |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qs.qv, qs.qv))) DESC,
       |        e.vec_id) AS rn
       |    FROM e, qs)
       |  WHERE rn <= $k),
       |qb AS (SELECT vec_id AS qid, table_id, bucket FROM b WHERE vec_id < $nQueries),
       |cand AS (SELECT DISTINCT qb.qid, b.vec_id FROM b JOIN qb USING (table_id, bucket)),
       |lsh AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT c.qid, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
       |        list_dot_product(e.v, q.qv)
       |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) DESC,
       |        c.vec_id) AS rn
       |    FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN qs q ON q.qid = c.qid)
       |  WHERE rn <= $k),
       |ex AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact GROUP BY 1),
       |ht AS (
       |  SELECT x.qid, CAST(COUNT(*) AS BIGINT) AS n_hit
       |  FROM exact x JOIN lsh l ON l.qid = x.qid AND l.vec_id = x.vec_id
       |  GROUP BY 1)
       |SELECT ex.qid, ex.n_exact, COALESCE(ht.n_hit, CAST(0 AS BIGINT)) AS n_hit,
       |  (COALESCE(ht.n_hit, CAST(0 AS BIGINT)) * 1000000) // ex.n_exact AS recall_ppm
       |FROM ex LEFT JOIN ht USING (qid) ORDER BY qid""".stripMargin

  /** Recall@10 of the LSH path against exact brute force over the
    * vec_id<20 query panel, hash-checked end-to-end (both top-k's AND the
    * integer recall arithmetic replayed).
    */
  val annRecallQ: Q = Q(
    "q_ann_recall",
    (s, dir) => annRecall(Tables(s, dir).embeddings, 20, 10),
    Some(annRecallOracleSql(20, 10))
  )

  /** Embedding hubness audit (Radovanović et al. 2010, "Hubs in Space" —
    * public method): how often each vector appears in OTHER vectors'
    * k-NN lists (in-degree of the directed k-NN graph). High-dimensional
    * embedding spaces concentrate: a few "hub" points show up in
    * everyone's neighbor lists and poison both dedup (spurious near-dup
    * clusters through the hub) and retrieval (the hub crowds out true
    * neighbors) — this top-20 in-degree table is the standard
    * embedding-quality check run before trusting an ANN index.
    *
    * Scale shape: reaggregates the MATERIALIZED k-NN graph
    * ([[knnGraphFor]] — built once per session/dir, shared with
    * `q_knn_join`) — the input is ≤ k·n narrow edges, the in-degree count
    * is one partial+final aggregate on neighbor_id, and the top-20 is
    * TakeOrderedAndProject. No new corpus-sized structure.
    */
  val knnHubness: Q = Q(
    "q_knn_hubness",
    (s, dir) =>
      knnGraphFor(s, dir)
        .groupBy("neighbor_id")
        .agg(count(lit(1)).as("n_in"))
        .orderBy(col("n_in").desc, col("neighbor_id"))
        .limit(20),
    Some(
      s"""WITH knn AS (
         |${knnJoinOracleSql(KnnK)})
         |SELECT neighbor_id, COUNT(*) AS n_in
         |FROM knn GROUP BY 1
         |ORDER BY n_in DESC, neighbor_id LIMIT 20""".stripMargin
    )
  )

  /** k-NN label-purity audit — the label-noise check (Northcutt et al.
    * 2021's confident-learning intuition in its classical kNN form,
    * Wilson 1972 editing): each vector's k nearest neighbors vote on its
    * label (majority, ties to the smallest label), and a per-class
    * scorecard reports how often the vote agrees with the stored label
    * plus how many vectors are UNANIMOUSLY contradicted — the
    * high-confidence mislabel candidates a curation pass re-annotates
    * before the labels feed a classifier or stratified sampler. Low
    * agree_ppm for one class flags systematic annotation noise; scattered
    * unanimous flags mark individual mislabels.
    *
    * Scale shape: reaggregates the MATERIALIZED k-NN graph
    * ([[knnGraphFor]] — built once per session/dir, shared with
    * `q_knn_join`/`q_knn_hubness`): the vote is one partial+final count
    * over ≤ k·n narrow edges joined to the (vec_id → label) projection,
    * the per-vector argmax is a max(struct) partial aggregate (never a
    * window over the corpus), and the scorecard is a |labels|-row final
    * aggregate. Integer vote counts and ppm rates ride the hash compare.
    */
  val knnPurity: Q = Q(
    "q_knn_purity",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings.select(col("vec_id"), col("label"))
      val votes = knnGraphFor(s, dir)
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label").as("nbr_label")), "neighbor_id")
        .groupBy("vec_id", "nbr_label")
        .agg(count(lit(1)).as("n_votes"))
      val maj = votes
        .groupBy("vec_id")
        .agg(max(struct(col("n_votes"), (-col("nbr_label")).as("neg_label"))).as("m"))
        .select(col("vec_id"), col("m.n_votes").as("maj_votes"), (-col("m.neg_label")).as("maj_label"))
      maj
        .join(emb, "vec_id")
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(when(col("maj_label") === col("label"), 1L).otherwise(0L)).as("n_agree"),
          sum(
            when(col("maj_label") =!= col("label") && col("maj_votes") === lit(KnnK.toLong), 1L)
              .otherwise(0L)
          ).as("n_flagged")
        )
        .withColumn("agree_ppm", expr("n_agree * 1000000L div n_vecs"))
        .orderBy("label")
    },
    Some(
      s"""WITH knn AS (
         |${knnJoinOracleSql(KnnK)}),
         |votes AS (
         |  SELECT k.vec_id, e.label AS nbr_label, COUNT(*) AS n_votes
         |  FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
         |  GROUP BY 1, 2),
         |maj AS (
         |  SELECT vec_id, nbr_label AS maj_label, n_votes AS maj_votes
         |  FROM votes
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY n_votes DESC, nbr_label) = 1)
         |SELECT e.label AS label, COUNT(*) AS n_vecs,
         |  CAST(SUM(CASE WHEN m.maj_label = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         |  CAST(SUM(CASE WHEN m.maj_label <> e.label AND m.maj_votes = $KnnK THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  (CAST(SUM(CASE WHEN m.maj_label = e.label THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // COUNT(*) AS agree_ppm
         |FROM maj m JOIN embeddings e ON e.vec_id = m.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin
    )
  )

  /** Triangle census of the MUTUAL k-NN graph — the local-clustering
    * audit run next to [[knnHubness]] before trusting an embedding space:
    * mutual edges (each endpoint in the other's top-k) are the
    * high-precision neighbor relation, and a node's triangle count is the
    * unnormalized local clustering coefficient. Dense triangle
    * neighborhoods mark coherent semantic clusters (SemDeDup-able);
    * triangle-free hubs are the isotropy failures hubness flags. Top-50
    * nodes by triangle participation.
    *
    * Scale shape: everything derives from the MATERIALIZED k-NN graph
    * ([[knnGraphFor]], built once per session/dir, ≤ k·n narrow edges).
    * Mutualization is an equi-join of the edge list with itself on the
    * reversed key pair; the triangle join is the standard two-hop
    * edge-edge-edge equi-join over (a<b<c)-oriented edges — every join is
    * key-partitioned with per-key fan-out bounded by the mutual DEGREE
    * (≤ k by construction), so candidate volume is ≤ k·|E|, linear in the
    * corpus — never an all-pairs or driver-side structure. The census is
    * a partial+final count over exploded triangle corners and the top-50
    * is TakeOrderedAndProject.
    */
  /** (a<b)-oriented MUTUAL k-NN edges (each endpoint in the other's
    * top-k) — the high-precision neighbor relation shared by the triangle
    * census and label-propagation communities. One reversed-key self-join
    * of the materialized graph, cached: every consumer reference reads
    * the ≤ k·n/2-row result, not a re-run of the join.
    */
  def mutualKnnEdges(spark: SparkSession, dir: String): DataFrame = {
    val g = knnGraphFor(spark, dir).select(col("vec_id").as("a"), col("neighbor_id").as("b"))
    graft.core.Cached.frame(
      g.as("x")
        .join(g.as("y"), col("x.a") === col("y.b") && col("x.b") === col("y.a"))
        .filter(col("x.a") < col("x.b"))
        .select(col("x.a").as("a"), col("x.b").as("b"))
    )
  }

  /** Oracle CTE pair `und` (mutual a<b edges) over a `knn` CTE — shared
    * by the q_graph_triangles and q_label_prop replays.
    */
  def mutualEdgesCte: String =
    s"""und AS (
       |  SELECT x.vec_id AS a, x.neighbor_id AS b
       |  FROM knn x JOIN knn y ON x.vec_id = y.neighbor_id AND x.neighbor_id = y.vec_id
       |  WHERE x.vec_id < x.neighbor_id)""".stripMargin

  val graphTriangles: Q = Q(
    "q_graph_triangles",
    (s, dir) => {
      val mutual = mutualKnnEdges(s, dir)
      val tri = mutual
        .as("e1")
        .join(mutual.as("e2"), col("e1.b") === col("e2.a"))
        .join(mutual.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("na"), col("e1.b").as("nb"), col("e2.b").as("nc"))
      tri
        .select(explode(array(col("na"), col("nb"), col("nc"))).as("node"))
        .groupBy("node")
        .agg(count(lit(1)).as("n_tri"))
        .orderBy(col("n_tri").desc, col("node"))
        .limit(50)
    },
    Some(
      s"""WITH knn AS (
         |${knnJoinOracleSql(KnnK)}),
         |$mutualEdgesCte,
         |tri AS (
         |  SELECT e1.a AS na, e1.b AS nb, e2.b AS nc
         |  FROM und e1
         |  JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT node, COUNT(*) AS n_tri
         |FROM (SELECT unnest([na, nb, nc]) AS node FROM tri)
         |GROUP BY 1 ORDER BY n_tri DESC, node LIMIT 50""".stripMargin
    )
  )

  /** Cross-modal near-dup AGREEMENT audit: the textual tier
    * ([[graft.ext.Dedup.nearDuplicates]], shingle Jaccard ≥ 0.2) full-outer
    * joined with the semantic tier ([[cachedNearDupPairs]], embedding
    * cosine ≥ τ over LSH buckets) on the shared doc/vec id space — each
    * pair labeled `both` / `text_only` / `embed_only`. This is the
    * curation calibration every two-tier dedup pipeline runs before
    * trusting either tier alone: `text_only` pairs are surface-form
    * near-copies the embedding model separates (templates with swapped
    * entities), `embed_only` pairs are paraphrase-range semantic
    * duplicates no n-gram tier can see — exactly SemDeDup's motivating
    * gap — and the `both` rate is the inter-tier agreement a threshold
    * decision is based on. Binding assumption (documented, fixture-true):
    * `vec_id` ≡ `doc_id`.
    *
    * GRAIN ASYMMETRY (deliberate, oracle-replayed): the text tier runs at
    * the exact-duplicate REPRESENTATIVE grain (the family pre-collapse),
    * while the embedding tier runs over ALL vec_ids — so a pair touching a
    * collapsed non-representative duplicate can only ever be labeled
    * `embed_only`, and the `embed_only` bucket is inflated by exactly
    * those pairs. Readers comparing the tier RATES should either restrict
    * to representative ids first or read `embed_only` as "semantic tier
    * fired where the text tier was not even consulted at this id". Kept
    * as-is because the audit's production reading is per-PAIR triage, the
    * collapse membership is available from q_dedup_exact when rate
    * normalization is needed, and both engines replay the same grains so
    * the hash contract is unaffected.
    *
    * Scale shape: BOTH inputs are the session-cached pair-bounded
    * verified-pair frames their own queries emit (zero new corpus scans —
    * text pairs at the exact-dup rep grain per the family pre-collapse,
    * embed pairs bucket-bounded); the audit itself is one full-outer hash
    * join of two pair lists plus a scan-stage verdict. The oracle nests
    * each tier's full replay as an isolated CTE (names like `cand` exist
    * in both replays — the nested WITH scopes them).
    */
  val crossmodalAgree: Q = Q(
    "q_crossmodal_agree",
    (s, dir) => {
      val tp = graft.ext.Dedup
        .nearDuplicates(Tables(s, dir).documents, 1, 5)
        .select(col("d1"), col("d2"), col("jaccard"))
      val ep = cachedNearDupPairs(Tables(s, dir).embeddings)
        .select(col("v1"), col("v2"))
      tp.join(ep, tp("d1") === ep("v1") && tp("d2") === ep("v2"), "full_outer")
        .select(
          coalesce(col("d1"), col("v1")).as("p1"),
          coalesce(col("d2"), col("v2")).as("p2"),
          col("jaccard"),
          when(col("d1").isNotNull && col("v1").isNotNull, "both")
            .when(col("d1").isNotNull, "text_only")
            .otherwise("embed_only")
            .as("tier")
        )
        .orderBy("p1", "p2")
    },
    Some(
      s"""WITH tp AS MATERIALIZED (
         |  WITH sig AS (${graft.ext.Dedup.sqlSigRep}),
         |  bands AS (${graft.ext.Dedup.sqlBands}),
         |  cand AS (${graft.ext.Dedup.sqlCand}),
         |  sets AS (${graft.ext.Dedup.sqlSets}),
         |  pairs AS (${graft.ext.Dedup.sqlPairs(0.2)})
         |  SELECT d1, d2, jaccard FROM pairs),
         |ep AS MATERIALIZED (
         |${nearDupOracleSql(NearDupTau)})
         |SELECT COALESCE(tp.d1, ep.v1) AS p1, COALESCE(tp.d2, ep.v2) AS p2,
         |  tp.jaccard,
         |  CASE WHEN tp.d1 IS NOT NULL AND ep.v1 IS NOT NULL THEN 'both'
         |       WHEN tp.d1 IS NOT NULL THEN 'text_only'
         |       ELSE 'embed_only' END AS tier
         |FROM tp FULL OUTER JOIN ep ON tp.d1 = ep.v1 AND tp.d2 = ep.v2
         |ORDER BY p1, p2""".stripMargin
    )
  )

  val all: Seq[Q] =
    Seq(annTopK, annLsh, annSq8, embedNearDup, knnJoinQ, maxSim, annRecallQ, knnHubness,
      knnPurity, graphTriangles, crossmodalAgree)
}
