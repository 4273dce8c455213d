package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Tables
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
      saltB: Int,
      d1Wave: Option[(Int, Seq[Int])] = None): DataFrame = {
    val par = sets.sparkSession.sparkContext.defaultParallelism
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
    // bounded-wave restriction (round 14; round 15 batches): every emitted
    // pair has d1 = a.doc_id, so filtering the A side to a SET of
    // hash(doc_id) residue classes partitions the pair set exactly — each
    // pair lands in the single batch owning its d1
    val prefA0 = d1Wave match {
      case Some((n, ws)) => pref.filter(pmod(hash(col("doc_id")), lit(n)).isin(ws: _*))
      case None          => pref
    }
    val prefA = prefA0
      .withColumn("salt", pmod(hash(col("doc_id")), lit(saltB)))
      .repartition(par, col("gid"), col("tok"), col("salt"))
    val prefB = pref
      .withColumn("salt", explode(array((0 until saltB).map(lit): _*)))
      .repartition(par, col("gid"), col("tok"), col("salt"))
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

  /** Predicted volume of the candidate-enumeration shuffle, computed from
    * the prefix frame BEFORE any pair is enumerated (round 13; the 100×
    * gate hit ENOSPC at minute ~80 of healthy enumeration — the one
    * failure mode the engine could not see coming, because the quadratic
    * term lives in the join OUTPUT, invisible to input-byte statistics).
    *
    *   - `prefRows`: Σ per-doc prefix length — the linear term (the salted
    *     d2-side replicates it saltB×).
    *   - `enumPairs`: Σ_tok cnt·(cnt−1)/2 over prefix-token groups — every
    *     candidate the equi-join can emit meets at exactly one (tok, salt)
    *     with d1 < d2, so this is an upper bound on enumerated rows (the
    *     length/positional prunes only subtract). One cheap aggregate on
    *     the already-cached ordered-set grain.
    *   - `bytes`: predicted shuffle write of the enumeration stage —
    *     candidates entering the distinct at ~[[CandRowBytes]]/row plus the
    *     saltB× prefix replication at ~[[PrefRowBytes]]/row. The constants
    *     are UnsafeRow sizes after shuffle compression, validated against
    *     measured shuffle-write bytes by the set-join scale gate recorded
    *     in COVERAGE.md (target: within ~2×); they predict ORDER, not exact
    *     bytes.
    */
  final case class CandidateEstimate(
      prefRows: Long,
      enumPairs: Long,
      avgSz: Double,
      survival: Double,
      bytes: Long) {
    /** Predicted surviving candidate pairs — the quantity the sampling
      * estimates directly (validated at the 150k-doc gate: predicted 169M
      * vs 170.2M counted, 0.6% error).
      */
    def survivingPairs: Long = (enumPairs * survival).toLong
  }

  /** (d1: long, d2: long) UnsafeRow = 24 B; shuffle LZ4 on near-random ids
    * buys little — call it 20. `private[ext]`: the band family's verify
    * estimator ([[Dedup]]) models the same exchanges with the same
    * constants, validated by the same set-join gate calibration.
    */
  private[ext] val CandRowBytes = 20L

  /** (doc_id, sz, pos, tok-string ~3 words, salt) ≈ 64 B raw, text
    * compresses ~2× — call it 32.
    */
  private val PrefRowBytes = 32L

  /** One element of the xxhash64 array a surviving candidate row carries
    * through the verify's d2 exchange: 8 B of incompressible hash + array
    * slot overhead.
    */
  private[ext] val HashTokBytes = 9L

  /** Fixed columns of a surviving verify row (two ids, two sizes, hok
    * flags, UnsafeRow headers).
    */
  private[ext] val VerifyRowOverhead = 40L


  private val estimateMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), CandidateEstimate]()


  /** Memoized per (ordered-set plan, saltB): the estimate is read on every
    * [[similarityJoin]] construction (bench reps, verify, gates) but its
    * jobs run once per session and corpus. Three cheap measurements, all
    * BEFORE any full-corpus pair is enumerated:
    *
    *   1. exact prefix-token stats — Σ cnt, Σ cnt·(cnt−1)/2 over prefix
    *     groups (the enumeration upper bound) and the mean set size (the
    *     verify exchange's per-row payload);
    *   2. a deterministic ~10% DOC sample (pmod(xxhash64(doc_id), 10) = 0)
    *     through the REAL candidate conditions — tok equi-join, d1 < d2,
    *     length ratio, positional bound, distinct — giving the survival
    *     rate of the prefix prunes. Pair volume scales as the sample rate
    *     SQUARED, so the sample join costs ~1% of the real enumeration,
    *     and hot groups (where the volume lives) keep thousands of sampled
    *     members — exactly where the rate estimate must be tight;
    *   3. predicted bytes = surviving pairs × (fixed row + hash-array
    *     payload) — the verify's d2 exchange, the stage both observed
    *     ENOSPCs died in — plus the enumeration/distinct pair shuffle and
    *     the saltB× prefix replication.
    */
  private[graft] def candidateEstimate(docs: DataFrame, saltBArg: Int = 0): CandidateEstimate = {
    val saltB = if (saltBArg > 0) saltBArg else saltBFor(docs)
    val base =
      if (Dedup.hasExactDups(docs)) docs.join(Dedup.repIds(docs), "doc_id") else docs
    val os = orderedSets(base)
    estimateMemo.computeIfAbsent(
      (os.queryExecution.analyzed.semanticHash(), saltB),
      _ => {
        val row = prefixFrame(os)
          .groupBy("tok")
          .agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt")).as("rows"), expr("sum(cnt * (cnt - 1)) div 2").as("pairs"))
          .first()
        val est =
          if (row.isNullAt(0)) CandidateEstimate(0L, 0L, 0.0, 1.0, 0L)
          else {
            val prefRows = row.getLong(0)
            val pairs    = row.getLong(1)
            val avgSz =
              os.agg(avg(col("sz"))).first().getDouble(0)
            val sample = os.filter(pmod(xxhash64(col("doc_id")), lit(10)) === 0)
            val sPref  = prefixFrame(sample)
            val sEnum = sPref
              .groupBy("tok")
              .agg(count(lit(1)).as("cnt"))
              .agg(expr("sum(cnt * (cnt - 1)) div 2").as("pairs"))
              .first()
            val sampleEnum = if (sEnum.isNullAt(0)) 0L else sEnum.getLong(0)
            val survival =
              if (sampleEnum == 0L) 1.0
              else {
                val sSurv = sPref
                  .alias("a")
                  .join(
                    sPref.alias("b"),
                    col("a.tok") === col("b.tok") &&
                      col("a.doc_id") < col("b.doc_id") &&
                      col("a.sz") * TNum <= col("b.sz") * TDen &&
                      col("b.sz") * TNum <= col("a.sz") * TDen &&
                      lit(1) + least(col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1) >=
                      expr(
                        s"(${TNum}L * (CAST(a.sz AS BIGINT) + b.sz) + ${TNum + TDen - 1}L) div ${TNum + TDen}L"
                      )
                  )
                  .select(col("a.doc_id"), col("b.doc_id"))
                  .distinct()
                  .count()
                math.min(1.0, sSurv.toDouble / sampleEnum)
              }
            val surviving = (pairs * survival).toLong
            // the prunes are JOIN conditions, so only SURVIVORS reach any
            // exchange: twice as bare pairs (distinct + the d1 spread),
            // once carrying the hash-array payload (the d2 verify route,
            // whose SMJ sort also SPILLS ~this volume — the r12/r13
            // ENOSPCs died in that spill, so the footprint model keeps raw
            // bytes; LZ4 savings on the shuffle files are the safety
            // margin, not the estimate)
            val raw = surviving * 2 * CandRowBytes +
              surviving * (VerifyRowOverhead + (avgSz * HashTokBytes).toLong) +
              prefRows * saltB * PrefRowBytes
            CandidateEstimate(prefRows, pairs, avgSz, survival, raw)
          }
        System.err.println(
          f"[setjoin] candidate estimate: prefix_rows=${est.prefRows} enum_pairs=${est.enumPairs} " +
            f"avg_sz=${est.avgSz}%.1f sampled_survival=${est.survival}%.3f " +
            f"surviving_pairs=${est.survivingPairs} " +
            f"predicted_bytes=${est.bytes} (~${est.bytes / 1048576.0}%.0f MiB) saltB=$saltB"
        )
        est
      }
    )
  }

  /** Optional enumeration-shuffle budget in bytes (suffixes k/m/g accepted):
    * when [[candidateEstimate]] predicts more, [[similarityJoin]] switches
    * to bounded-wave enumeration sized so each wave stays under it. Unset ⇒
    * single wave (the plan the 10× gate certified). This is the knob a
    * single-node run sets to its free scratch disk; on a real cluster the
    * shuffle distributes across executor disks and the budget is the
    * per-node aggregate.
    */
  private[graft] def shuffleBudget: Option[Long] =
    sys.env.get("SPARK_GRAFT_SHUFFLE_BUDGET").map { s =>
      val b =
        try parseBytes(s)
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"SPARK_GRAFT_SHUFFLE_BUDGET='$s' is not a byte count; use e.g. 40g, 512m, 1000000")
        }
      // a zero budget would divide the wave computation by zero; a negative
      // one silently selects the single-wave path — both are config errors
      require(
        b > 0,
        s"SPARK_GRAFT_SHUFFLE_BUDGET='$s' parses to $b bytes; the budget must be positive")
      b
    }

  private[graft] def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase
    val (num, mult) =
      if (t.endsWith("g")) (t.dropRight(1), 1L << 30)
      else if (t.endsWith("m")) (t.dropRight(1), 1L << 20)
      else if (t.endsWith("k")) (t.dropRight(1), 1L << 10)
      else (t, 1L)
    (num.toDouble * mult).toLong
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
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val sets = Dedup
      .shingleSets(docs)
      .filter(size(col("sset")) > 0)
      .repartition(par)
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
    * scale; only the SESSION's core count moves the fan-out. When a
    * [[shuffleBudget]] is configured and [[candidateEstimate]] predicts the
    * enumeration shuffle exceeds it, the join switches to bounded-wave
    * enumeration ([[similarityJoinWaved]]) — output-identical, footprint
    * bounded per wave.
    */
  def similarityJoin(docs: DataFrame): DataFrame = {
    val saltB = saltBFor(docs)
    // estimate only when a budget could act on it: the estimate's Spark
    // jobs (prefix aggregate + 10% sample join) are cheap next to a gate
    // run but NOT next to a plan-golden construction or a bench rep, and
    // with no budget set the result cannot change the plan (the gates call
    // candidateEstimate explicitly for their records)
    shuffleBudget match {
      case Some(budget) =>
        val est = candidateEstimate(docs, saltB)
        if (est.bytes > budget) {
          val waves = math.min(1024L, (est.bytes + budget - 1) / budget).toInt
          // waves partition the SALT space, so a finer split than saltB
          // needs a wider fan-out — exactness holds at any saltB (each pair
          // still meets exactly once at hash(d1) mod saltB); 1024 caps the
          // prefix replication at a sane multiple
          val saltW = math.max(saltB, waves)
          System.err.println(
            s"[setjoin] predicted ${est.bytes} B exceeds budget $budget B — " +
              s"enumerating in $waves bounded waves over a $saltW-salt space")
          similarityJoinWaved(docs, saltW, waves, est.bytes / waves, Some(budget))
        } else similarityJoinWith(docs, saltB)
      case None => similarityJoinWith(docs, saltB)
    }
  }

  /** [[similarityJoin]] at an explicit salt fan-out — split out so
    * SetJoinSpec can prove the salted enumeration equals brute force on a
    * corpus small enough to enumerate exactly, at more than one fan-out.
    */
  private[graft] def similarityJoinWith(docs: DataFrame, saltB: Int): DataFrame = {
    val base =
      if (Dedup.hasExactDups(docs)) docs.join(Dedup.repIds(docs), "doc_id") else docs
    val os = orderedSets(base)
    verifiedForSalts(os, saltB, 0 until saltB).orderBy("d1", "d2")
  }

  /** Bounded-wave enumeration: the salt space is partitioned into batches
    * of residue classes and each batch's candidate enumeration + verify
    * runs as its OWN action, appended to scratch parquet, before the next
    * starts — so the peak enumeration-shuffle footprint on disk is
    * ~budget-bounded instead of the single-wave plan's. Exactness is
    * unchanged: each (d1, d2) pair meets at exactly one salt
    * (= hash(d1) mod saltB), every salt lands in exactly one batch, so the
    * union over batches is the single-wave candidate set with every pair
    * exactly once — SetJoinSpec pins waved ≡ single-wave output at fixed
    * AND re-planned batchings.
    *
    * Round 15, two wall-clock cuts on top of the round-14 bound:
    *   - the verify payload (hash + string token arrays per doc) is
    *     materialized ONCE per campaign as a doc_id-bucketed table
    *     ([[graft.core.BucketedPayload]]), so each wave's verify joins read
    *     it exchange-free instead of re-shuffling the full payload per
    *     wave — the dominant per-wave fixed term at 5M docs;
    *   - the wave count is re-planned from measured bytes after each batch
    *     ([[graft.core.AdaptiveWaves]]): the byte model over-predicts
    *     2.6–12.8× in the no-spill regime, and each over-bought wave paid
    *     the fixed term above. The model's count stays the initial plan
    *     (never exceeded); later batches grow to what the budget fits at
    *     the measured per-salt rate.
    *
    * The materialized union is memoized per (ordered-set plan, saltB,
    * waves) so repeated constructions (bench reps) re-read the parquet
    * instead of re-enumerating. The budget is NOT part of the key: it
    * shapes batching only, never output.
    */
  private[graft] def similarityJoinWaved(
      docs: DataFrame,
      saltB: Int,
      wavesArg: Int,
      perWaveBytes: Long = 0L,
      budget: Option[Long] = None): DataFrame = {
    val spark = docs.sparkSession
    val base =
      if (Dedup.hasExactDups(docs)) docs.join(Dedup.repIds(docs), "doc_id") else docs
    val os    = orderedSets(base)
    val waves = math.min(math.max(1, wavesArg), saltB)
    val key   = (os.queryExecution.analyzed.semanticHash(), saltB, waves)
    val dir = wavedMemo.computeIfAbsent(
      key,
      _ => {
        // session-unique, full-hash path + exit-time deletion + stale sweep
        // (graft.core.WaveScratch): leaked wave parquet would re-create the
        // very ENOSPC hazard the budget exists to avoid. freshDirFor: the
        // waves append, so a retried campaign must start empty or the
        // failed attempt's waves duplicate (WaveRetrySpec)
        val out = graft.core.WaveScratch.freshDirFor(
          spark, "setjoin", f"${key._1}%08x-$saltB-$waves")
        val pay = graft.core.BucketedPayload.ensure(
          spark,
          "setjoin",
          f"${key._1}%08x",
          "doc_id",
          spark.sparkContext.defaultParallelism)(os)
        val tAll = System.nanoTime()
        graft.core.AdaptiveWaves.run(
          spark, "setjoin", 0 until saltB, waves, perWaveBytes, budget) { salts =>
          verifiedForSalts(os, saltB, salts, Some(pay))
            .write.mode("append").parquet(out)
        }
        // min-of-N bench reps re-read the memoized parquet; the enumeration
        // wall is reported as an artifact entry so it cannot vanish
        graft.core.BuildWalls.record("setjoin_waves", (System.nanoTime() - tAll) / 1e9)
        out
      }
    )
    spark.read.parquet(dir).orderBy("d1", "d2")
  }

  private val wavedMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), String]()

  /** Prefix frame: one row per (doc, prefix position, token) — the grain
    * both the enumeration join and the volume estimator read.
    */
  private def prefixFrame(os: DataFrame): DataFrame =
    os.select(
      col("doc_id"),
      col("sz"),
      posexplode(slice(col("stoks"), lit(1), prefixLen(col("sz"))))
        .as(Seq("pos", "tok"))
    )

  /** The verified-pairs pipeline for a SUBSET of the salt space (unsorted;
    * callers order). With the full salt set this is the single-wave plan
    * unchanged; a proper subset restricts the d1 side to its own salts and
    * replicates the d2 side across only those salts, enumerating exactly
    * the pairs whose meeting salt falls in the subset.
    *
    * `payload` (round 15): an os-schema frame to read the verify columns
    * (htoks/hok/sz/stoks) from instead of `os` — the wave loop passes the
    * once-per-campaign doc_id-bucketed table so each wave's four verify
    * joins scan it exchange-free rather than re-shuffling the full payload
    * (the round-14 per-wave fixed term). The prefix/enumeration side keeps
    * reading the memory-cached `os`.
    */
  private def verifiedForSalts(
      os: DataFrame,
      saltB: Int,
      salts: Seq[Int],
      payload: Option[DataFrame] = None): DataFrame = {
    val par  = os.sparkSession.sparkContext.defaultParallelism
    val pay  = payload.getOrElse(os)
    val pref = prefixFrame(os)
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
    // 500k docs); benefit: the quadratic stage engages every core. The
    // explicit numbered repartitions keep AQE's byte-based coalescing
    // (same root cause, small input bytes) from re-serializing the sort.
    val prefA0 = pref.withColumn("salt", pmod(hash(col("doc_id")), lit(saltB)))
    val prefA = (if (salts.size == saltB) prefA0
                 else prefA0.filter(col("salt").isin(salts.map(Integer.valueOf): _*)))
      .repartition(par, col("tok"), col("salt"))
    val prefB = pref
      .withColumn("salt", explode(array(salts.map(lit): _*)))
      .repartition(par, col("tok"), col("salt"))
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
    val h1 = pay.select(
      col("doc_id").as("d1"), col("htoks").as("h1"), col("hok").as("hok1"), col("sz").as("sza"))
    val h2 = pay.select(
      col("doc_id").as("d2"), col("htoks").as("h2"), col("hok").as("hok2"), col("sz").as("szb"))
    val s1 = pay.select(col("doc_id").as("d1"), col("stoks").as("s1"))
    val s2 = pay.select(col("doc_id").as("d2"), col("stoks").as("s2"))
    val hashTier = cands
      // explicit numPartitions spread before the CPU-heavy verify: the
      // candidate frame is BYTE-small, so AQE's size-based coalescing packs
      // it into a handful of partitions and the per-row array-intersect
      // then runs nearly serial (measured: 4 tasks busy, 28 cores idle on
      // the 10× corpus). A user-NUMBERED repartition is exempt from AQE
      // coalescing, and keying it by d1 lets the first verify join reuse
      // the exchange.
      .repartition(par, col("d1"))
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
    hashTier
      .join(s1, "d1")
      .join(s2, "d2")
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
