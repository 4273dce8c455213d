package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Width

/** The exact set-similarity machinery the pair family shares: one hashed
  * set image, one rare-first canonical order, one salted prefix
  * enumerator and one tiered Jaccard verify. [[SetJoin]] (shingle sets,
  * J ≥ 1/2), [[Dedup.nearDuplicates]] (shingle sets over LSH candidates)
  * and [[Dedup.ngramVerifiedPairs]] (char-4-gram sets, J ≥ 3/10, with its
  * band-saturation re-route) all run through here. Thresholds are exact
  * rationals `tNum/tDen`: every bound is an integer cross-multiplication,
  * and the callers own the one reported division.
  *
  * The prefix principle (Bayardo et al. 2007, "Scaling Up All Pairs
  * Similarity Search"; Xiao et al. 2008, PPJoin): order every set by ONE
  * global canonical token order, and any two sets with Jaccard ≥ t must
  * share an element inside their first |d| − ⌈t·|d|⌉ + 1 tokens. Proof
  * shape: J ≥ t ⟹ the overlap i satisfies i ≥ t/(1+t)·(|a|+|b|) ≥
  * t·max(|a|,|b|), so a set whose LAST ⌈t·|d|⌉ − 1 tokens held the entire
  * overlap would contradict i ≥ ⌈t·|d|⌉ — some shared token sits in each
  * prefix. The equi-join on prefix tokens therefore yields a COMPLETE
  * candidate set and the exact verify only discards, never misses.
  * Correctness does not depend on WHICH global order is used; the
  * rare-first order ([[rareFirst]]) is the performance lever (a prefix of
  * rare tokens lands in near-empty join buckets; a frequent-first order
  * would funnel every doc through the same hot tokens).
  */
object SetSim {

  /** The hashed image of a distinct-element set column: `h`, its xxhash64
    * image (long-array intersection is several times cheaper than
    * string-array — no per-element string hashing or equality); `hok`,
    * true when those hashes are collision-free WITHIN the doc; and `sz`,
    * the set size the length bounds read without touching arrays.
    * Cross-doc collisions only INFLATE a hash intersect (over-admission
    * the string tier discards), but an intra-doc collision collapses two
    * elements to one hash and could DEFLATE it, so [[verify]] trusts the
    * hash tier only when both sides are `hok` (the ~2⁻⁶⁴ fall-through
    * re-verifies on strings unpruned).
    */
  def image(set: Column): Seq[Column] = {
    val h = transform(set, x => xxhash64(x))
    Seq(h.as("h"), (size(array_distinct(h)) === size(set)).as("hok"), size(set).as("sz"))
  }

  /** (doc_id, toks): each doc's `set` in the rare-first canonical order —
    * ascending document frequency, ties by token. The (df, token) tuple IS
    * the sort key, compared within-row by `array_sort`, so the order needs
    * no global rank materialization and no keyless window; the df table
    * is vocabulary-sized.
    */
  def rareFirst(sets: DataFrame, set: String): DataFrame = {
    val tk  = sets.select(col("doc_id"), explode(col(set)).as("tok"))
    val dfs = tk.groupBy("tok").agg(count(lit(1)).as("df"))
    tk.join(dfs, "tok")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("doc_id"), transform(col("ord"), x => x.getField("tok")).as("toks"))
  }

  /** Enumeration fan-out of the salted candidate join ([[prefixCandidates]]):
    * each prefix-token group's pair enumeration is split saltB ways, at
    * the cost of saltB× replication of the narrow prefix frame on the d2
    * side. Derived from the SESSION, not a compile-time constant: at
    * local[32] this is 8 (32/4), and on a thousands-of-cores cluster
    * `defaultParallelism/4` scales the split with the cluster while the /4
    * keeps the replication cost a constant fraction of memory per core.
    * Capped at 64: past that the replication grows faster than the
    * residual skew it removes (a 64-way split already caps any group's
    * per-task share at ~1.6% of its pairs).
    */
  private[graft] def saltBFor(docs: DataFrame): Int =
    math.min(64, math.max(8, docs.sparkSession.sparkContext.defaultParallelism / 4))

  /** Prefix-filter candidate pairs at Jaccard ≥ tNum/tDen: distinct
    * (d1, d2), d1 < d2, sharing a prefix token (within the same `groups`
    * key, when given), that pass the length and positional bounds — a
    * COMPLETE candidate set. Input: (groups..., doc_id, toks) with `toks`
    * in one corpus-wide canonical order ([[rareFirst]]).
    *
    * SALTED enumeration (Vernica et al. 2010, "Efficient parallel
    * set-similarity joins using MapReduce" — the block split): on a
    * saturated token space a handful of hot prefix tokens hold most rows,
    * so a plain tok-equi-join concentrates the |group|² enumeration in as
    * many TASKS as there are hot tokens (measured as 4 busy cores + 28
    * idle, spill-thrashing for >30 min on a 10× corpus). AQE's skew split
    * cannot help: it keys on shuffle INPUT bytes, and the blow-up is the
    * join OUTPUT. The d1 side keeps one salt (hash of its own id), the d2
    * side replicates across all `saltB` salts, so each pair still meets
    * EXACTLY once — at salt = hash(d1).
    *
    * Two output-neutral PPJoin prunes ride the join itself (on a
    * saturated vocabulary the unpruned collision set ground for >50 min
    * where the pruned one finishes in minutes):
    *  - length: J ≥ t forces t ≤ |a|/|b| ≤ 1/t;
    *  - positional (Xiao 2008; Vernica 2010's MapReduce form): the overlap
    *    is at most 1 + min(|a| − pa − 1, |b| − pb − 1) at a shared token's
    *    0-based prefix positions (pa, pb), and J ≥ t needs
    *    ⌈t/(1+t)·(|a|+|b|)⌉ of it, so a collision late in BOTH prefixes
    *    cannot witness a qualifying pair. A true pair's FIRST shared token
    *    always satisfies the bound, so at least one collision per
    *    qualifying pair survives into the distinct.
    */
  def prefixCandidates(
      sets: DataFrame,
      tNum: Long,
      tDen: Long,
      saltB: Int,
      groups: String*): DataFrame = {
    val sz = col("sz")
    // |d| − ⌈t·|d|⌉ + 1 in exact integers: ⌈t·sz⌉ = (sz·tNum + tDen − 1) div tDen
    val plen =
      (sz - call_function("div", sz.cast("long") * tNum + lit(tDen - 1), lit(tDen)) + lit(1))
        .cast("int")
    val ids = groups.map(col) :+ col("doc_id")
    val pref = sets
      .select(ids :+ col("toks") :+ size(col("toks")).as("sz"): _*)
      .select(ids :+ sz :+ posexplode(slice(col("toks"), lit(1), plen)).as(Seq("pos", "tok")): _*)
    val keys  = groups :+ "tok" :+ "salt"
    val prefA = Width.compute(
      pref.withColumn("salt", pmod(hash(col("doc_id")), lit(saltB))), keys.map(col): _*)
    val prefB = Width.compute(
      pref.withColumn("salt", explode(array((0 until saltB).map(lit): _*))), keys.map(col): _*)
    prefA
      .alias("a")
      .join(
        prefB.alias("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * tNum <= col("b.sz") * tDen &&
          col("b.sz") * tNum <= col("a.sz") * tDen &&
          lit(1) + least(col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1) >=
          expr(s"(${tNum}L * (CAST(a.sz AS BIGINT) + b.sz) + ${tNum + tDen - 1}L) div ${tNum + tDen}L")
      )
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Tiered exact-Jaccard verify of a (d1, d2) candidate frame at
    * tNum/tDen: (d1, d2, inter, uni) for every candidate the hash tier
    * admits, with |∪| = |s1| + |s2| − |∩| (the sets are distinct by
    * construction). The tiers only drop pairs whose exact Jaccard is
    * below tNum/tDen; the caller applies its own final comparison on
    * inter/uni.
    * `hashes` carries (doc_id, h, hok, sz) ([[image]]); `sets` carries
    * (doc_id, `set`) — the same frame when one cache holds both.
    *
    *  1. [[graft.core.Width.compute]] spread keyed by d1 before the
    *     CPU-heavy joins (without it 4 tasks ran while 28 cores idled on a
    *     10× corpus); the first hash join reuses the exchange.
    *  2. HASH tier: only the long-hash columns ride the exchange that
    *     routes candidates to their d2 side (carrying the d1 side's string
    *     array there ran single-node 30×/100× corpora out of disk). The
    *     length bound (J ≥ t forces t ≤ |s1|/|s2| ≤ 1/t) and the hash bound
    *     |∩h|·(tNum+tDen) ≥ tNum·(|s1|+|s2|), which is exactly J ≥ t
    *     restated when both sides are `hok`; otherwise the pair falls
    *     through unpruned.
    *  3. STRING tier on the survivors (≈ true pairs): joins d2 first,
    *     reusing the hash tier's d2 partitioning, then d1 — at scale,
    *     where these are sort-merge joins, the candidate stream is
    *     reshuffled d1 → d2 → d1 and no more.
    */
  def verify(
      cand: DataFrame,
      hashes: DataFrame,
      sets: DataFrame,
      set: String,
      tNum: Long,
      tDen: Long): DataFrame = {
    def hashSide(i: Int) = hashes.select(
      col("doc_id").as(s"d$i"), col("h").as(s"h$i"), col("hok").as(s"hok$i"), col("sz").as(s"sz$i"))
    def stringSide(i: Int) = sets.select(col("doc_id").as(s"d$i"), col(set).as(s"s$i"))
    Width
      .compute(cand, col("d1"))
      .join(hashSide(1), "d1")
      .join(hashSide(2), "d2")
      .filter(col("sz1") * tNum <= col("sz2") * tDen && col("sz2") * tNum <= col("sz1") * tDen)
      .filter(
        !col("hok1") || !col("hok2") ||
          size(array_intersect(col("h1"), col("h2"))) * (tNum + tDen) >=
          (col("sz1").cast("long") + col("sz2")) * tNum
      )
      .select(col("d1"), col("d2"), col("sz1"), col("sz2"))
      .join(stringSide(2), "d2")
      .join(stringSide(1), "d1")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .select(
        col("d1"),
        col("d2"),
        col("inter"),
        (col("sz1").cast("long") + col("sz2") - col("inter")).as("uni"))
  }
}
