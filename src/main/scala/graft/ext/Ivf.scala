package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

import graft.core.Tables
import graft.queries.Q

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to sign-LSH ([[Similarity]]):
  *
  *   1. index build: Lloyd's k-means picks C = [[derivedCentroids]](n)
  *      coarse centroids (clamp(ceil(√n), [16, 4096]) — the classical IVF
  *      sizing, derived per corpus like [[Similarity.derivedPlanes]]);
  *      every vector is assigned to its nearest centroid and the assigned
  *      table is WRITTEN PARTITIONED BY `cid`
  *      ([[graft.sources.Sources.writeParquetCompacted]]) so probing prunes
  *      whole partitions at the file-listing level (asserted in PlanSpec).
  *   2. query: score the query vector against the centroids (driver-side —
  *      `C` values), probe the [[derivedProbe]](C) = ceil(√C) nearest
  *      cells, exact-cosine re-rank only the vectors in those cells: a
  *      pruned scan + TakeOrderedAndProject, reading ~n^(3/4) rows instead
  *      of the constant nProbe/C FRACTION a fixed C would cost.
  *
  * Determinism (what makes the DuckDB oracle possible): the fit runs on the
  * integer grid `round(x·10^6)`. Assignment is exact int64 squared-L2 with
  * ties to the smallest cid; the mean recompute is an exact integer
  * per-(cid,dim) SUM — order-free, unlike a double sum — followed by ONE
  * IEEE double division and a round back to the grid. Every step is
  * bit-identical regardless of partitioning or engine, so the oracle
  * replays the entire fit (init → 2 Lloyd's iterations → probe → exact
  * cosine re-rank) with unrolled SQL CTEs, the same way the LSH oracles
  * replay hyperplane literals ([[Similarity.annLshOracleSql]]). Recall and
  * convergence bounds are asserted in ExtSpec.
  */
object Ivf {

  /** Quantization scale: the fit lives on the integer grid round(x·10^6).
    * Fixture embeddings are |x| < 1, so components stay < 2·10^6, squared
    * diffs < 1.6·10^13, and a 64-dim distance sum < 2^51 — exact in int64.
    */
  val Scale = 1000000L

  val NCentroids = 16
  val NProbe     = 4
  val Iters      = 2

  /** Driver-collect ceiling on the coarse codebook: C·dim longs per
    * iteration cross the driver (4096·64 ≈ 262k values ≈ 2 MiB — bounded).
    * Beyond it a production index goes two-level (a coarse quantizer over
    * the centroids themselves); documented, not needed below ~10⁹ vectors.
    */
  val MaxCentroids = 4096

  /** Lloyd's iterations run on at most FitSampleMult·C sample vectors (the
    * standard k-means training bound — FAISS trains its coarse quantizer
    * on a sample for the same reason); every fixture corpus is smaller
    * than the bound, so sample ≡ corpus at test scale and the oracle's
    * replay of the cap is a no-op there.
    */
  val FitSampleMult = 128L

  /** Coarse-quantizer sizing, derived per corpus (the IVF analog of
    * [[Similarity.derivedPlanes]]): C = clamp(ceil(√n), [NCentroids,
    * MaxCentroids]) — the classical IVF rule. A FIXED C means per-cell
    * occupancy n/C grows linearly with the corpus and a probe reads a
    * constant FRACTION of the data (nProbe/C — linear per query at any
    * scale); √n keeps occupancy at √n, so with [[derivedProbe]] a probe
    * reads ~n^(3/4) rows and the fit's assignment stage costs n·√n
    * bounded by the fit sample. ceil(sqrt(x)) on an exact integer-valued
    * double is identical IEEE arithmetic in both engines.
    */
  def derivedCentroids(n: Long): Int = {
    val c = math.ceil(math.sqrt(n.toDouble)).toLong
    math.min(MaxCentroids.toLong, math.max(NCentroids.toLong, c)).toInt
  }

  /** Probe width scales as √C (so the probed fraction √C/C shrinks as the
    * corpus grows instead of staying constant), floored at [[NProbe]].
    */
  def derivedProbe(c: Int): Int =
    math.max(NProbe, math.ceil(math.sqrt(c.toDouble)).toInt)

  /** Corpus count for centroid derivation — the shared memoized probe
    * ([[graft.core.Cached.count]]); one session-wide memo means an LSH and
    * an IVF query over the same embeddings plan schedule ONE count job.
    */
  private def vecCount(emb: DataFrame): Long = graft.core.Cached.count(emb)

  /** Deterministic hash-ordered fit sample: at most [[FitSampleMult]]·C
    * vectors participate in the Lloyd's iterations, chosen by md5 of the
    * decimal vec_id (the split-assign hashing discipline — engine-agnostic
    * and replayed verbatim in the oracle's `fs` CTE). Fixture corpora are
    * all under the cap, so the sample is the whole corpus at test scale.
    */
  def fitSample(q: DataFrame, nCentroids: Int): DataFrame = {
    val cap = (FitSampleMult * nCentroids).min(Int.MaxValue.toLong).toInt
    q.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(cap)
  }

  /** embeddings + `qv`: int64-quantized embedding. `round` is
    * half-away-from-zero on ties in BOTH engines (Spark HALF_UP on the
    * shortest-decimal double, DuckDB on the binary double — these agree:
    * a shortest-repr tie ".5" implies the binary value IS the exact tie).
    */
  def quantized(emb: DataFrame): DataFrame =
    emb.withColumn(
      "qv",
      transform(col("embedding"), x => round(x.cast("double") * Scale).cast("long"))
    )

  /** Exact int64 squared-L2 between the row's `qv` and a centroid literal. */
  private[ext] def qdist(cvec: Column): Column =
    aggregate(
      zip_with(col("qv"), cvec, (a, b) => (a - b) * (a - b)),
      lit(0L),
      (acc, x) => acc + x
    )

  /** The centroids as an `array<struct<cid, cvec>>` literal. Zero
    * centroids (an empty embeddings table) still type the array: a bare
    * `array()` has element type VOID, which no field access accepts.
    */
  private[ext] def centroidArrayLit(centroids: Array[(Int, Array[Long])]): Column =
    if (centroids.isEmpty)
      array().cast(ArrayType(StructType(Seq(
        StructField("cid", IntegerType, nullable = false),
        StructField("cvec", ArrayType(LongType, containsNull = false), nullable = false)))))
    else
      array(centroids.toIndexedSeq.map { case (i, v) =>
        struct(lit(i).as("cid"), array(v.toIndexedSeq.map(lit): _*).as("cvec"))
      }: _*)

  /** Nearest-centroid assignment: adds `cid` (argmin squared-L2) and `d2`
    * (the winning distance). array_min over (d, cid) structs compares d
    * first, then cid — ties go to the smallest cid, the exact ordering the
    * oracle replays with `ORDER BY d, cid LIMIT 1`.
    */
  def assignScored(q: DataFrame, centroids: Array[(Int, Array[Long])]): DataFrame = {
    val scored = transform(
      centroidArrayLit(centroids),
      c => struct(qdist(c.getField("cvec")).as("d"), c.getField("cid").as("cid"))
    )
    q.withColumn("__best", array_min(scored))
      .withColumn("cid", col("__best.cid"))
      .withColumn("d2", col("__best.d"))
      .drop("__best")
  }

  /** Assignment only (no distance column). */
  def assignQ(q: DataFrame, centroids: Array[(Int, Array[Long])]): DataFrame =
    assignScored(q, centroids).drop("d2")

  /** Deterministic head sample (vec_id order) of quantized vectors. */
  def sampleCentroids(q: DataFrame, nCentroids: Int): Array[(Int, Array[Long])] =
    q.orderBy("vec_id")
      .limit(nCentroids)
      .select("qv")
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](0).toArray) }

  /** round-half-away-from-zero: matches Spark's `round()` and DuckDB's
    * `round()`. (`math.round` is floor(x+0.5) — half-toward-positive — and
    * disagrees on negative ties.)
    */
  private def roundHalfAway(x: Double): Long =
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong

  /** Lloyd's k-means on the integer grid (the real IVF index build):
    * assignment with exact int64 L2, mean recompute as posexplode →
    * partial+final integer SUM per (cid, dim) — the shuffle carries C·dim
    * partial sums, not vectors — then one double division by the exact
    * count and a round back to the grid, on the driver. Only C·dim rows
    * reach the driver per iteration; empty cells keep their previous
    * centroid.
    */
  def kmeansFit(q: DataFrame, nCentroids: Int, iters: Int): Array[(Int, Array[Long])] = {
    var centroids = sampleCentroids(q, nCentroids)
    val dim       = centroids.headOption.map(_._2.length).getOrElse(0)
    var it        = 0
    while (it < iters) {
      val sums = assignQ(q, centroids)
        .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "v")))
        .groupBy("cid", "dim")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect()
      val byCid = sums.groupBy(_.getInt(0))
      centroids = centroids.map { case (cid, old) =>
        byCid.get(cid) match {
          case Some(rows) =>
            val vec = new Array[Long](dim)
            rows.foreach(r => vec(r.getInt(1)) = roundHalfAway(r.getLong(2).toDouble / r.getLong(3)))
            (cid, vec)
          case None => (cid, old) // empty cell keeps its previous centroid
        }
      }
      it += 1
    }
    centroids
  }

  // ---- persisted index: build once, probe many --------------------------

  /** A built IVF index: the fitted centroids plus the path of the assigned
    * table, written partitioned by `cid`.
    */
  final case class Index(path: String, centroids: Array[(Int, Array[Long])])

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.FutureTask[Index]]()

  /** Fit + write the index for the embeddings under `dir` (memoized per
    * fixture dir for the session — the production analog is an offline
    * index-build job whose output outlives any single query). The assigned
    * table is written `PARTITIONED BY (cid)` through the compacted writer
    * (one file per cell at fixture scale), so a probe's
    * `cid IN (...)` filter prunes non-probed cells at file-listing time.
    *
    * Staleness contract: the memoized index reflects the embeddings as of
    * the first call for `dir` in this JVM; unlike a [[Tables]] read, it
    * misses a rewritten fixture until a new dir or a restart — exactly the
    * semantics of a production index that is rebuilt on a schedule, not
    * per write.
    */
  def indexFor(spark: SparkSession, dir: String): Index =
    graft.core.SessionArtifact.memo(built, dir) {
      val q         = quantized(Tables(spark, dir).embeddings)
      val c         = derivedCentroids(vecCount(q))
      val centroids = kmeansFit(fitSample(q, c), c, Iters)
      val path      = graft.core.SessionArtifact.pathFor("graft-ivf-index", dir)
      graft.sources.Sources.writeParquetCompacted(
        assignQ(q, centroids).select("vec_id", "label", "embedding", "cid"),
        path,
        partitionBy = Seq("cid"),
        maxRecordsPerFile = 1000000L
      )
      Index(path, centroids)
    }

  private def d2Local(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Probe-only query over a built index: pick the `nProbe` cells nearest
    * to the query (C integer distances on the driver), scan ONLY those cid
    * partitions, exact-cosine re-rank (codegen'd `graft_cosine`) into a
    * TakeOrderedAndProject top-k. `nProbe <= 0` derives the width from the
    * index's centroid count ([[derivedProbe]]).
    */
  def probe(
      spark: SparkSession,
      index: Index,
      queryEmb: Array[Float],
      queryQ: Array[Long],
      k: Int,
      nProbe: Int = -1
  ): DataFrame = {
    val np = if (nProbe > 0) nProbe else derivedProbe(index.centroids.length)
    val probes = index.centroids
      .map { case (cid, v) => (d2Local(queryQ, v), cid) }
      .sorted // (distance, cid): ties to the smallest cid
      .take(np)
      .map(_._2)
      .toSeq
    val qvLit = array(queryEmb.toIndexedSeq.map(lit): _*)
    Tables.read(spark, index.path)
      .filter(col("cid").isInCollection(probes))
      .withColumn("cos", call_function("graft_cosine", col("embedding"), qvLit))
      .select("vec_id", "label", "cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "label")
  }

  /** The query vector `id` of a [[quantized]] table as (embedding, qv);
    * None when the table holds no such row.
    */
  private def queryVec(q: DataFrame, id: Long): Option[(Array[Float], Array[Long])] =
    q.filter(col("vec_id") === id)
      .select("embedding", "qv")
      .collect()
      .headOption
      .map(r => (r.getSeq[Float](0).toArray, r.getSeq[Long](1).toArray))

  /** The empty (vec_id, label) answer of a top-k whose query vector is
    * absent — what the oracles' join against the missing row returns.
    */
  private def noHits(q: DataFrame): DataFrame = q.select("vec_id", "label").limit(0)

  /** Inline IVF top-k (fit + assign + probe in one lineage, no persisted
    * index) — the ExtSpec surface; the registered query goes through
    * [[indexFor]]/[[probe]] instead so the bench pays probe cost only.
    * `nCentroids`/`nProbe <= 0` derive per corpus, matching [[indexFor]].
    */
  def ivfTopK(
      emb: DataFrame,
      queryId: Long,
      k: Int,
      nCentroids: Int = -1,
      nProbe: Int = -1,
      iters: Int = Iters
  ): DataFrame = {
    val q         = quantized(emb)
    val c         = if (nCentroids > 0) nCentroids else derivedCentroids(vecCount(q))
    val np        = if (nProbe > 0) nProbe else derivedProbe(c)
    val centroids = kmeansFit(fitSample(q, c), c, iters)
    val qRow      = q.filter(col("vec_id") === queryId).select("embedding", "qv").collect()(0)
    val qEmb      = qRow.getSeq[Float](0).toArray
    val qQ        = qRow.getSeq[Long](1).toArray
    val probes = centroids
      .map { case (cid, v) => (d2Local(qQ, v), cid) }
      .sorted
      .take(np)
      .map(_._2)
      .toSeq
    val qvLit = array(qEmb.toIndexedSeq.map(lit): _*)
    assignQ(q, centroids)
      .filter(col("cid").isInCollection(probes))
      .withColumn("cos", call_function("graft_cosine", col("embedding"), qvLit))
      .select("vec_id", "label", "cos")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "label")
  }

  // ---- DuckDB oracle: full k-means replay -------------------------------

  /** The oracle replays the ENTIRE approximate path in SQL: quantization,
    * head-sample init, `iters` unrolled Lloyd's iterations (integer sums,
    * one double division, round), probe selection, pruned candidate set,
    * and the exact-cosine re-rank — so a regression anywhere in the fit or
    * the probe flips the hash compare. Integer arithmetic is exact in both
    * engines; the only floating-point steps (mean division + cosine) are
    * single IEEE ops on identical inputs.
    */
  private[ext] def d2Sql(v: String, c: String) =
    s"list_sum(list_transform(range(1, len($v)+1), i -> ($v[i]-$c[i])*($v[i]-$c[i])))"

  /** The shared fit-replay prefix (quantize → derived C (`nc`) → hash-
    * ordered fit sample (`fs`, a no-op cap at fixture scale) → sample-head
    * init → `iters` unrolled Lloyd's iterations over the sample): the CTE
    * body both IVF oracles compose. C and the probe width replay
    * [[derivedCentroids]]/[[derivedProbe]] from COUNT(*) — same integer /
    * single-IEEE-sqrt arithmetic in both engines, the
    * [[Similarity]] `planesCte` discipline. Returns (cte text, name of the
    * fitted-centroid CTE); the prefix also defines `np` (derived probe
    * width) for the ANN oracle.
    */
  private[ext] def fitCtesSql(iters: Int): (String, String) = fitCtesSql(iters, "")

  /** As above with an optional WHERE tail on the quantized corpus (`q`) —
    * the incremental-ingest oracle fits on the SEEN subset only.
    */
  private[ext] def fitCtesSql(iters: Int, where: String): (String, String) = {
    def assignCte(src: String, prev: String) =
      s"""SELECT vec_id, qv, cid FROM (
         |    SELECT q.vec_id, q.qv, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${d2Sql("q.qv", "c.cv")}, c.cid) AS rn
         |    FROM $src q, $prev c) WHERE rn = 1""".stripMargin
    val iterCtes = (0 until iters).flatMap { it =>
      Seq(
        s"a$it AS (${assignCte("fs", s"c$it")})",
        s"""m$it AS (
           |  SELECT cid, generate_subscripts(qv, 1) AS d, unnest(qv) AS v FROM a$it)""".stripMargin,
        s"""c${it + 1} AS (
           |  SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
           |  FROM c$it p LEFT JOIN (
           |    SELECT cid, list(CAST(round(CAST(s AS DOUBLE)/n) AS BIGINT) ORDER BY d) AS cv
           |    FROM (SELECT cid, d, SUM(v) AS s, COUNT(*) AS n FROM m$it GROUP BY cid, d)
           |    GROUP BY cid) m ON m.cid = p.cid)""".stripMargin
      )
    }
    val prefix =
      s"""q AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS qv
         |  FROM embeddings $where),
         |nc AS (
         |  SELECT GREATEST($NCentroids, LEAST($MaxCentroids,
         |    CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) AS c
         |  FROM q),
         |np AS (
         |  SELECT GREATEST($NProbe,
         |    CAST(ceil(sqrt(CAST(nc.c AS DOUBLE))) AS BIGINT)) AS v
         |  FROM nc),
         |fs AS (
         |  SELECT vec_id, qv FROM (
         |    SELECT vec_id, qv,
         |      row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
         |    FROM q), nc
         |  WHERE srn <= $FitSampleMult * nc.c),
         |c0 AS (
         |  SELECT cid, cv FROM (
         |    SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, qv AS cv
         |    FROM fs), nc
         |  WHERE cid < nc.c),
         |${iterCtes.mkString(",\n")}""".stripMargin
    (prefix, s"c$iters")
  }

  def oracleSql(queryId: Long, k: Int, iters: Int): String = {
    def d2(v: String, c: String) = d2Sql(v, c)
    def assignCte(prev: String) =
      s"""SELECT vec_id, qv, cid FROM (
         |    SELECT q.vec_id, q.qv, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${d2("q.qv", "c.cv")}, c.cid) AS rn
         |    FROM q, $prev c) WHERE rn = 1""".stripMargin
    val (fitPrefix, fitted) = fitCtesSql(iters)
    s"""WITH $fitPrefix,
       |qq AS (SELECT qv FROM q WHERE vec_id = $queryId),
       |probes AS (
       |  SELECT cid FROM (
       |    SELECT c.cid,
       |      row_number() OVER (ORDER BY ${d2("qq.qv", "c.cv")}, c.cid) AS prn
       |    FROM $fitted c, qq), np
       |  WHERE prn <= np.v),
       |af AS (${assignCte(fitted)}),
       |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |qe AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = $queryId),
       |sc AS (
       |  SELECT e.vec_id, e.label,
       |    list_dot_product(e.v, qvec)
       |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qvec, qvec))) AS cos
       |  FROM af JOIN e ON e.vec_id = af.vec_id, qe
       |  WHERE af.cid IN (SELECT cid FROM probes))
       |SELECT vec_id, label FROM sc ORDER BY cos DESC, vec_id LIMIT $k""".stripMargin
  }

  /** Registered query: probe of the persisted cid-partitioned index,
    * hash-checked against the full k-means-replay oracle.
    */
  val annIvf: Q = Q(
    "q_ann_ivf",
    (s, dir) => {
      val index = indexFor(s, dir)
      val q     = quantized(Tables(s, dir).embeddings)
      queryVec(q, 0L).fold(noHits(q)) { case (qEmb, qQ) => probe(s, index, qEmb, qQ, k = 10) }
    },
    Some(oracleSql(0L, 10, Iters))
  )

  /** Oracle for [[topicClusters]]: the same full k-means replay as the ANN
    * oracle, ending in the final assignment joined back to labels and a
    * (cid, label) count — a fit regression changes the mixture and flips
    * the hash.
    */
  def topicOracleSql(iters: Int): String = {
    val (fitPrefix, fitted) = fitCtesSql(iters)
    s"""WITH $fitPrefix,
       |af AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT q.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${d2Sql("q.qv", "c.cv")}, c.cid) AS rn
       |    FROM q, $fitted c) WHERE rn = 1)
       |SELECT CAST(af.cid AS INTEGER) AS cid, q.label, COUNT(*) AS n_vecs
       |FROM af JOIN q USING (vec_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Topic/cluster mixture over the corpus embeddings: k-means cluster ×
    * label counts — the "what topics is my training mix made of, and how do
    * they correlate with the known labels" audit every data-curation
    * pipeline runs before sampling. Reads the PERSISTED cid-partitioned
    * index ([[indexFor]] — the offline-build analog), so the query itself
    * is a groupBy over an already-clustered table: partial+final counts,
    * one exchange of at most C·|labels| rows, no vector math in the query
    * path at all. At 100 TB the index is the artifact a production
    * curation pipeline maintains anyway; the mixture audit stays a
    * metadata-sized aggregate no matter the corpus size.
    */
  /** Public replay handles for cross-module oracles (q_conductance builds
    * the same fitted-centroid CTE chain and distance expression).
    */
  def fitReplayCtes: (String, String)           = fitCtesSql(Iters)
  def d2ReplaySql(v: String, c: String): String = d2Sql(v, c)

  val topicClusters: Q = Q(
    "q_topic_clusters",
    (s, dir) => {
      val index = indexFor(s, dir)
      Tables.read(s, index.path)
        .groupBy(col("cid").cast("int").as("cid"), col("label"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy("cid", "label")
    },
    Some(topicOracleSql(Iters))
  )

  // ---- product quantization (PQ) ---------------------------------------

  /** PQ geometry: M subspaces of SubDim dims each (M·SubDim = 64, the
    * fixture dim), K sub-centroids per subspace, 1 Lloyd's iteration per
    * sub-codebook (keeps the full-replay oracle tractable; the fit
    * machinery itself supports any iteration count).
    */
  val PqM       = 4
  val PqSubDim  = 16
  val PqK       = 16
  val PqIters   = 1
  val PqShort   = 50

  private type Codebooks = Array[Array[(Int, Array[Long])]]

  private val pqModels =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.FutureTask[Codebooks]]()

  /** Warm-up hook: train (and memoize) the PQ codebooks for `dir` — the
    * offline codebook-build analog of [[indexFor]], called by Bench so
    * q_ann_pq timings measure the coding+ADC query path, not the fit.
    */
  def pqWarm(spark: SparkSession, dir: String): Unit = { pqCodebooks(spark, dir); () }

  /** Per-subspace codebooks: [[kmeansFit]] on each SubDim-slice of the
    * integer-grid vectors (memoized per fixture dir — the offline
    * codebook-training job of a production PQ index). Driver traffic per
    * fit is K·SubDim integers per iteration, M fits total.
    */
  private def pqCodebooks(spark: SparkSession, dir: String): Codebooks =
    graft.core.SessionArtifact.memo(pqModels, dir) {
      val q = quantized(Tables(spark, dir).embeddings)
      (0 until PqM).map { s =>
        kmeansFit(q.select(col("vec_id"), slice(col("qv"), s * PqSubDim + 1, PqSubDim).as("qv")), PqK, PqIters)
      }.toArray
    }

  private def subDist(sv: Column, cvec: Column): Column =
    aggregate(
      zip_with(sv, cvec, (a, b) => (a - b) * (a - b)),
      lit(0L),
      (acc, x) => acc + x
    )

  /** Product-quantization ANN (Jégou, Douze, Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search" — public method): the third
    * quantized scale path next to IVF cells and SQ8. Each vector is coded
    * as M sub-centroid ids (here 4×16 codes = 2 bytes/vector vs 256 bytes
    * raw — the compression that lets a 100 TB corpus's index fit in
    * memory); a query scores candidates through an Asymmetric Distance
    * Computation lookup table (exact query→sub-centroid distances,
    * computed once per subspace on the driver: M·K integers), shortlists
    * the PqShort best ADC scores, and exact-cosine re-ranks only the
    * shortlist.
    *
    * Determinism: codes and ADC distances live on the same int64 grid as
    * the IVF fit (exact squared-L2, ties to the smallest cid), the LUT is
    * M·K exact integers, and the ADC sum of M int64 terms is exact — so
    * the DuckDB oracle replays the entire pipeline (M sub-fits unrolled,
    * code assignment, in-SQL LUT, ADC ranking, re-rank) and the hash
    * compare pins every stage.
    *
    * Scale shape: ONE scan of the vector table computes all M codes and
    * the ADC score scan-stage (argmin over K centroid literals per
    * subspace — no join, no shuffle); the shortlist is
    * TakeOrderedAndProject (per-partition top-PqShort, tree-merged); the
    * re-rank touches PqShort rows. Nothing driver-side scales with the
    * corpus.
    */
  val annPq: Q = Q(
    "q_ann_pq",
    (s, dir) => {
      val books = pqCodebooks(s, dir)
      val q     = quantized(Tables(s, dir).embeddings)
      queryVec(q, 0L).fold(noHits(q)) { case (qEmb, qQ) =>
        // per-subspace ADC lookup tables: exact int64 query→centroid
        // distances, cid order (M·K driver-side integers)
        val luts: Array[Array[Long]] = Array.tabulate(PqM) { sub =>
          val qs = qQ.slice(sub * PqSubDim, (sub + 1) * PqSubDim)
          books(sub).sortBy(_._1).map { case (_, cv) => d2Local(qs, cv) }
        }
        val coded = (0 until PqM).foldLeft(q) { (df, sub) =>
          val sv = slice(col("qv"), sub * PqSubDim + 1, PqSubDim)
          val scored = transform(
            centroidArrayLit(books(sub)),
            c => struct(subDist(sv, c.getField("cvec")).as("d"), c.getField("cid").as("cid"))
          )
          df.withColumn(s"code$sub", array_min(scored).getField("cid"))
        }
        val adc = (0 until PqM)
          .map(sub =>
            element_at(
              array(luts(sub).toIndexedSeq.map(lit): _*),
              col(s"code$sub") + 1
            )
          )
          .reduce(_ + _)
        val qvLit = array(qEmb.toIndexedSeq.map(lit): _*)
        coded
          .withColumn("adist", adc)
          .orderBy(col("adist"), col("vec_id"))
          .limit(PqShort)
          .withColumn("cos", call_function("graft_cosine", col("embedding"), qvLit))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
          .select("vec_id", "label")
      }
    },
    Some(pqOracleSql(0L, 10))
  )

  /** Full PQ replay: M unrolled sub-codebook fits (head-sample init + one
    * Lloyd's iteration each, the [[fitCtesSql]] pattern per slice), code
    * assignment, the ADC LUT computed in SQL from the query row, the ADC
    * shortlist, and the exact-cosine re-rank.
    */
  def pqOracleSql(queryId: Long, k: Int): String = {
    def d2(v: String, c: String) = d2Sql(v, c)
    def lo(s: Int)               = s * PqSubDim + 1
    def hi(s: Int)               = (s + 1) * PqSubDim
    val subCtes = (0 until PqM).flatMap { s =>
      val assign0 =
        s"""SELECT vec_id, sv, cid FROM (
           |    SELECT q.vec_id, q.sv, c.cid,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${d2("q.sv", "c.cv")}, c.cid) AS rn
           |    FROM qs$s q, pc0_$s c) WHERE rn = 1""".stripMargin
      Seq(
        s"qs$s AS (SELECT vec_id, qv[${lo(s)}:${hi(s)}] AS sv FROM q)",
        s"""pc0_$s AS (
           |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, sv AS cv
           |  FROM (SELECT vec_id, sv FROM qs$s ORDER BY vec_id LIMIT $PqK))""".stripMargin,
        s"pa0_$s AS ($assign0)",
        s"""pm0_$s AS (
           |  SELECT cid, generate_subscripts(sv, 1) AS d, unnest(sv) AS v FROM pa0_$s)""".stripMargin,
        s"""pc1_$s AS (
           |  SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
           |  FROM pc0_$s p LEFT JOIN (
           |    SELECT cid, list(CAST(round(CAST(s AS DOUBLE)/n) AS BIGINT) ORDER BY d) AS cv
           |    FROM (SELECT cid, d, SUM(v) AS s, COUNT(*) AS n FROM pm0_$s GROUP BY cid, d)
           |    GROUP BY cid) m ON m.cid = p.cid)""".stripMargin,
        s"""code_$s AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT q.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${d2("q.sv", "c.cv")}, c.cid) AS rn
           |    FROM qs$s q, pc1_$s c) WHERE rn = 1)""".stripMargin,
        s"""lut_$s AS (
           |  SELECT c.cid, ${d2("qq.sv", "c.cv")} AS d
           |  FROM pc1_$s c, (SELECT sv FROM qs$s WHERE vec_id = $queryId) qq)""".stripMargin
      )
    }
    val codeJoins = (1 until PqM).map(s => s"JOIN code_$s a$s USING (vec_id)").mkString(" ")
    val lutJoins  = (0 until PqM).map(s => s"JOIN lut_$s l$s ON l$s.cid = a$s.cid").mkString(" ")
    val adcSum    = (0 until PqM).map(s => s"l$s.d").mkString(" + ")
    s"""WITH q AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${subCtes.mkString(",\n")},
       |adc AS (
       |  SELECT a0.vec_id, $adcSum AS adist
       |  FROM code_0 a0 $codeJoins $lutJoins),
       |short AS (SELECT vec_id FROM adc ORDER BY adist, vec_id LIMIT $PqShort),
       |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |qe AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = $queryId),
       |sc AS (
       |  SELECT e.vec_id, e.label,
       |    list_dot_product(e.v, qvec)
       |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qvec, qvec))) AS cos
       |  FROM short JOIN e USING (vec_id), qe)
       |SELECT vec_id, label FROM sc ORDER BY cos DESC, vec_id LIMIT $k""".stripMargin
  }

  // ---- incremental ingest ----------------------------------------------

  /** New-batch boundary (the `q_dedup_incremental` convention): ids below
    * are the seen corpus, at-or-above are the fresh batch.
    */
  val IncrSeenMax = 400L

  /** Oracle: the fit replayed over the SEEN subset only (the `where`
    * variant of the shared fit prefix — derived C comes from the seen
    * count), then one assignment pass over the new batch carrying the
    * winning distance.
    */
  def incrementalOracleSql(seenMax: Long): String = {
    val (fitPrefix, fitted) = fitCtesSql(Iters, s"WHERE vec_id < $seenMax")
    s"""WITH $fitPrefix,
       |nb AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS qv
       |  FROM embeddings WHERE vec_id >= $seenMax),
       |af AS (
       |  SELECT vec_id, cid, d FROM (
       |    SELECT q.vec_id, c.cid, ${d2Sql("q.qv", "c.cv")} AS d,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${d2Sql("q.qv", "c.cv")}, c.cid) AS rn
       |    FROM nb q, $fitted c) WHERE rn = 1)
       |SELECT vec_id, CAST(cid AS INTEGER) AS cid, CAST(d AS BIGINT) AS d2
       |FROM af ORDER BY vec_id""".stripMargin
  }

  /** Incremental index ingest — the streaming path of a production ANN
    * index: the coarse quantizer is FROZEN on the seen corpus (fit on
    * vec_id < [[IncrSeenMax]], C derived from the SEEN count) and the new
    * batch is routed into cells by one scan-stage assignment — exactly
    * the cid a partitioned-append write would use, no refit, no touch of
    * the seen data. The emitted `d2` (exact int64 distance to the owning
    * centroid) doubles as the STALENESS monitor: a drifting embedding
    * distribution shows as rising new-batch d2 against the frozen
    * quantizer — the signal that schedules the next full rebuild
    * ([[indexFor]]'s documented rebuild-on-a-schedule contract).
    *
    * Scale shape: the fit touches only the seen sample (offline, as
    * ever); the ingest itself is per-row expression work against C
    * centroid literals with zero joins and zero shuffles — append
    * throughput is scan bandwidth, which is what lets the index keep up
    * with a streaming corpus.
    */
  val annIncremental: Q = Q(
    "q_ann_incremental",
    (s, dir) => {
      // per-vector quantization + C-centroid argmin is the whole cost and
      // the single-row-group embeddings scan plans one task (StageProbe
      // r16: ~3 s across single-task stages) — spread the narrow scan so
      // the ingest expressions run at full parallelism
      val q = quantized(
        graft.core.Width.compute(Tables(s, dir).embeddings.filter(col("vec_id") >= IncrSeenMax)))
      streamingIngest(q, frozenQuantizer(s, dir))
        .orderBy("vec_id")
    },
    Some(incrementalOracleSql(IncrSeenMax))
  )

  /** The FROZEN coarse quantizer (the production index's offline-trained
    * artifact): k-means fit on the seen corpus only (vec_id <
    * [[IncrSeenMax]], C derived from the SEEN count), collected to a
    * driver-side centroid array — in production this ships with the index
    * metadata and is broadcast to every ingest executor. Shared by the
    * batch [[annIncremental]] and the Structured Streaming ingest path so
    * the two are the same model by construction.
    */
  def frozenQuantizer(s: SparkSession, dir: String): Array[(Int, Array[Long])] = {
    val seen = quantized(Tables(s, dir).embeddings).filter(col("vec_id") < IncrSeenMax)
    val c    = derivedCentroids(vecCount(seen))
    kmeansFit(fitSample(seen, c), c, Iters)
  }

  /** Streaming half of [[annIncremental]]: route a (streaming or batch)
    * frame of raw embedding rows into cells of the frozen quantizer.
    * Quantization + nearest-centroid assignment are per-row expressions
    * against centroid LITERALS — zero joins, zero aggregation state — so
    * the returned frame is Append-mode safe under Structured Streaming
    * and per-micro-batch output equals the batch dual row-for-row
    * (StreamingSpec asserts it). `d2` doubles as the drift monitor, as in
    * the batch path.
    */
  def streamingIngest(newBatch: DataFrame, centroids: Array[(Int, Array[Long])]): DataFrame = {
    // idempotent quantization: a caller handing over already-quantized
    // rows (the batch path) must not double-scale
    val q = if (newBatch.columns.contains("qv")) newBatch else quantized(newBatch)
    assignScored(q, centroids)
      .select(col("vec_id"), col("cid").cast("int").as("cid"), col("d2"))
  }

  val all: Seq[Q] = Seq(annIvf, topicClusters, annPq, annIncremental)
}
