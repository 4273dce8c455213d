package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Q

/** Training-data deduplication over the `documents` table.
  *
  * Three tiers, all shuffle-bounded (no crossJoin anywhere — the candidate
  * generation is a hash join on LSH band values, which is the property that
  * keeps this viable at 100 TB):
  *
  *   1. exact     — md5 over whitespace-normalized lowercase text, groupBy.
  *   2. MinHash   — k=8 signature over 3-word shingles, computed the
  *                  Spark-idiomatic way: explode shingles → ONE codegen'd
  *                  md5 per shingle → a 28-bit integer base hash → the 8
  *                  hash functions are cheap universal-hash transforms
  *                  `(a_i·h + b_i) mod p` → 8 partial+final `min`
  *                  aggregates. The shuffle carries one 8-long partial
  *                  signature per doc per map partition, never raw
  *                  shingles. (A per-row higher-order-function formulation
  *                  would recompute md5 per hash function and run as
  *                  CodegenFallback — 8× the hashing off the codegen path.)
  *   3. LSH       — signatures split into 4 bands x 2 rows; docs sharing a
  *                  band value become candidate pairs via a plain shuffled
  *                  hash join keyed on (band_id, band_val), so only
  *                  same-bucket docs ever meet. Candidates are then
  *                  verified with exact Jaccard over distinct shingle sets.
  *
  * All hashing is md5-based and mirrored exactly in the DuckDB oracles
  * (`CAST('0x'||substr(md5(x),1,7) AS BIGINT)` ≡ Spark
  * `conv(substring(md5(x),1,7),16,10)`), so signatures are cross-engine
  * checkable. The reference has no dedup surface; this is north-star scope
  * (SURVEY.md §7.2 step 8).
  */
object Dedup {

  /** Signature length; 4 bands x 2 rows. */
  private val K = 8

  /** Universal-hash constants: mh_i = (A(i)·h + B(i)) mod P over the 28-bit
    * base hash h. Products stay < 2^58 — exact in both engines' int64.
    */
  private val P = 2147483647L // 2^31 - 1
  private val A = Seq(1000000007L, 998244353L, 754974721L, 167772161L, 469762049L, 1004535809L, 663224321L, 985661441L)
  private val B = Seq(12289L, 40961L, 65537L, 786433L, 5767169L, 7340033L, 23068673L, 104857601L)

  /** Whitespace tokens of lowercased text (empties kept, like the
    * reference's tokenizer — see TextQueries).
    */
  def tokens(text: Column): Column = split(lower(text), " ", -1)

  /** See [[graft.core.Cached.frame]] — the shared persist-if-not-cached guard. */
  private def cached(df: DataFrame): DataFrame = graft.core.Cached.frame(df)

  /** 3-word shingles; empty array when the doc has fewer than 3 tokens.
    *
    * Shape matters: an `element_at(toks, i)` lambda would re-evaluate the
    * `toks` subtree (the split of the whole text) PER SHINGLE — O(tokens²)
    * string splitting per document. Zipping three shifted slices evaluates
    * `toks` a constant number of times per row and the lambda touches only
    * its own struct argument.
    */
  def shingles3(toks: Column): Column =
    when(
      size(toks) >= 3,
      transform(
        arrays_zip(
          slice(toks, lit(1), size(toks) - 2),
          slice(toks, lit(2), size(toks) - 2),
          slice(toks, lit(3), size(toks) - 2)
        ),
        s => concat_ws(" ", s.getField("0"), s.getField("1"), s.getField("2"))
      )
    ).otherwise(array().cast("array<string>"))

  /** 28-bit base hash of one shingle: first 7 hex digits of md5. */
  private[graft] def baseHash(x: Column): Column =
    conv(substring(md5(x.cast("binary")), 1, 7), 16, 10).cast("long")

  /** Cached (doc_id, sset) distinct-3-shingle sets — the ONE `documents`
    * scan each batch dedup query pays. Signatures, bands, and the
    * exact-Jaccard verification all derive from this table, where the
    * previous shape re-ran the scan+tokenize+shingle lineage 3-4× per query
    * (Catalyst does not dedup common subtrees). `.persist()` is the
    * test-scale stand-in for the production shape — a materialized
    * append-only feature/band index, bucketed by band_val, as described on
    * [[incrementalNearDups]]; Spark's CacheManager dedupes identical plans,
    * so every dedup query in a session shares one entry per fixture dir.
    */
  def shingleSets(docs: DataFrame): DataFrame =
    cached(
      docs.select(col("doc_id"), array_distinct(shingles3(tokens(col("text")))).as("sset"))
    )

  /** (doc_id[, passthrough...], mh0..mh7) from a shingle-set table: explode,
    * hash once, 8 min-aggregates. `min` is duplicate-insensitive, so mins
    * over the DISTINCT set equal mins over the raw shingle multiset — the
    * cached [[shingleSets]] table serves signatures and Jaccard alike.
    * Set-less docs keep a row with null mins (explode_outer).
    */
  private def signaturesFromSets(sets: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val keep = passthrough.map(col)
    val exploded = sets
      .select(col("doc_id") +: keep :+ explode_outer(col("sset")).as("x"): _*)
      .select(col("doc_id") +: keep :+ baseHash(col("x")).as("h"): _*)
    val mins = (0 until K).map(i => min((col("h") * A(i) + B(i)) % P).as(s"mh$i"))
    exploded.groupBy("doc_id", passthrough: _*).agg(mins.head, mins.tail: _*)
  }

  /** documents -> (doc_id, mh0..mh7), computed over the cached
    * [[shingleSets]] table and cached itself: the md5+min work runs once per
    * session per fixture, not once per downstream use.
    */
  def signatures(docs: DataFrame): DataFrame =
    cached(signaturesFromSets(shingleSets(docs)))

  /** (doc_id, band_id, band_val): 4 bands of 2 signature rows each. Docs
    * with null signatures (no shingles) are excluded — an empty doc is not
    * a near-dup candidate of other empty docs by shingle definition.
    */
  def bands(sig: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    sig
      .filter(col("mh0").isNotNull)
      .select(
        col("doc_id") +: passthrough.map(col) :+
          posexplode(array(bandValCols: _*)).as(Seq("band_id", "band_val")): _*
      )

  /** Band values over the mh0..mh7 columns: 4 bands of 2 signature rows. */
  private def bandValCols: Seq[Column] =
    (0 until K / 2).map(b => concat_ws("_", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")))

  /** Max exact-copy multiplicity, one memoized driver-side probe over the
    * cached [[exactGroups]] table ([[graft.core.Cached.scalar]]): the
    * boolean ([[hasExactDups]]) routes the pair family between the plain
    * path and the pre-collapsed path; the MAGNITUDE sizes the
    * member-expansion spread in q_contamination (a 300k-copy group's
    * quadratic expansion must not land on one task; an 8-copy group must
    * not pay a salted plan for it).
    */
  private[graft] def maxCopies(docs: DataFrame): Long =
    graft.core.Cached.scalar(exactGroups(docs).agg(coalesce(max("copies"), lit(0L))))

  private[graft] def hasExactDups(docs: DataFrame): Boolean = maxCopies(docs) > 1L

  /** Representative doc ids (min doc_id per distinct text). */
  private[graft] def repIds(docs: DataFrame): DataFrame =
    exactGroups(docs).select(col("rep").as("doc_id"))

  /** Every document with its exact-text representative — the expansion
    * table that maps the pre-collapsed rep-level pair grain back to member
    * grain. `extra` columns (e.g. `source`) ride the SAME documents scan,
    * so consumers never pay a second corpus pass for member attributes.
    * On a dup-free corpus this is the identity mapping (rep = doc_id).
    * Cached like the other family tables: q_contamination references the
    * mapping six times (two split sides × three pair branches), which
    * uncached would be six documents scans.
    */
  private[graft] def members(docs: DataFrame, extra: Column*): DataFrame =
    cached(
      docs
        .select(col("doc_id") +: md5(col("text").cast("binary")).as("tkey") +: extra: _*)
        .join(exactGroups(docs).select("tkey", "rep"), "tkey")
        .drop("tkey")
    )

  /** Reps whose text has at least one 3-shingle — the banding-eligibility
    * predicate (`mh0 IS NOT NULL` on the oracle side): setless docs are
    * never LSH candidates, so their exact-dup groups get no within-group
    * pair expansion either. A plain filter over the FAMILY-SHARED cached
    * shingle table.
    */
  private[graft] def eligibleReps(docs: DataFrame): DataFrame =
    shingleSets(docs).filter(size(col("sset")) > 0).select(col("doc_id").as("rep"))

  /** Candidate pairs (d1 < d2) sharing at least one LSH band — a hash join
    * on (band_id, band_val), never a cartesian product.
    *
    * EXACT-DUPLICATE PRE-COLLAPSE (family-wide): when the corpus contains
    * exact-duplicate texts, banding runs over ONE representative (min
    * doc_id) per distinct text, so a document duplicated 100k× contributes
    * one band row instead of 100k — the within-group candidate clique
    * (~5·10⁹ pairs at 100k copies; the uncollapsed shape measured 972 s
    * hot vs 4.8 s clean in the 10× scale gate via q_clean_corpus) never
    * exists. Identical text ⟹ identical signature and bands ⟹ a member is
    * a candidate of exactly the docs its representative partners with, so
    * rep-level pairs carry the full cross-text candidate structure;
    * exact-duplicate multiplicity is the exact-dedup tier's job
    * ([[exactGroups]] / q_dedup_exact), which production pipelines run
    * BEFORE MinHash (the C4/CCNet ordering this engine documents for the
    * boilerplate defense). Every consumer's DuckDB oracle replays the
    * identical collapse (`sqlSigRep`), and on a dup-free corpus the
    * [[hasExactDups]] probe keeps the plain path with zero overhead —
    * where collapse and no-collapse are output-identical anyway.
    */
  def candidatePairs(docs: DataFrame): DataFrame = candidatePairsFrom(repSignatures(docs))

  /** The signature table at the pair family's grain: one row per distinct
    * text when the corpus has exact duplicates, else [[signatures]] itself.
    * The collapsed table is cached in its own right: ~10 pair queries route
    * through here, and an uncached (signatures ⋈ reps) join re-paid a
    * per-query shuffle over the signature table (measured q_edit_neardup
    * 0.53 s → 2.7 s at sf0.1, which holds 8 dup texts). Cached.frame keys
    * on the plan, so the whole family shares ONE materialization — the
    * rep-level signature index production keeps next to the full one.
    */
  private def repSignatures(docs: DataFrame): DataFrame =
    if (hasExactDups(docs)) cached(signatures(docs).join(repIds(docs), "doc_id"))
    else signatures(docs)

  /** The band self-join itself, over whatever signature table the caller
    * chose — [[candidatePairs]] feeds it the collapsed grain; tests feed it
    * the raw grain to prove the collapse output-equivalent.
    */
  private[graft] def candidatePairsFrom(sigs: DataFrame): DataFrame =
    bandSelfJoin(bands(sigs)).distinct()

  /** The raw (pre-distinct) band-bucket pair enumeration over an arbitrary
    * band-row frame — split out so the saturation re-route can run it over
    * the NON-saturated buckets only.
    */
  private def bandSelfJoin(b: DataFrame): DataFrame =
    b.alias("a")
      .join(
        b.alias("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id")
      )
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))

  /** Saturation threshold for the ngram verify's bucket re-route: buckets
    * with more members than this route their enumeration through the exact
    * prefix principle instead of the |B|² band join. 4096 members means
    * ≥ 8.4M enumerated pairs from ONE bucket — far beyond anything a
    * non-pathological corpus produces at the collapsed grain, so the
    * default keeps every fixture/bench plan on the certified band join;
    * tests engage the re-route on small saturation corpora by passing a
    * lower `sat` to [[ngramVerifiedPairs]], so no run-time setting is
    * needed.
    */
  private[graft] val BandSatThreshold = 4096

  /** Candidate pairs for the n-gram verifier with the band-SATURATION
    * re-route (round 13): buckets whose occupancy exceeds `sat` skip the
    * |B|² band self-join; their members' pairs are enumerated by the exact
    * prefix principle over the SAME distinct char-4-gram sets the verify
    * reads, at the verify threshold 3/10 ([[SetSim.prefixCandidates]] keyed
    * by bucket).
    *
    * Output-identical to [[candidatePairs]] FOR THE NGRAM CONSUMER, by
    * construction: every within-bucket pair is a band candidate, the
    * prefix filter only drops pairs that cannot reach gram-Jaccard ≥ 3/10
    * (the completeness theorem), and those pairs fail the verify filter
    * anyway. (Zero-gram docs never survive the verify on either route:
    * their jaccard is 0 or null.) NOT reusable by consumers that verify a
    * different measure — containment's one-sided ≥ 0.6 admits pairs the
    * 3/10 Jaccard prefix would prune — which is why the re-route lives
    * here and not in the shared [[candidatePairs]].
    */
  private[graft] def ngramCandidatePairs(docs: DataFrame, sat: Int): DataFrame = {
    val sigs = repSignatures(docs)
    val b    = bands(sigs)
    val occ  = b.groupBy("band_id", "band_val").agg(count(lit(1)).as("n"))
    // measure-then-decide (the [[hasExactDups]] discipline): one memoized
    // agg over the cached band grain at construction time; on every
    // fixture corpus no bucket exceeds the default and the plan is the
    // plain band join
    if (graft.core.Cached.scalar(occ.agg(coalesce(max("n"), lit(0L)))) <= sat)
      candidatePairsFrom(sigs)
    else {
      // pathological buckets are few by definition — broadcast the keys
      val satKeys = broadcast(occ.filter(col("n") > sat).select("band_id", "band_val"))
      val bKeys   = Seq("band_id", "band_val")
      val candN   = bandSelfJoin(b.join(satKeys, bKeys, "left_anti"))
      val satDocs = b.join(satKeys, bKeys)
      // rare-first gram order over the saturated members (any global
      // order preserves completeness; df over this subset is the
      // pruning-power choice)
      val ordered = SetSim.rareFirst(
        gramSets(docs).join(satDocs.select("doc_id").distinct(), "doc_id"), "gset")
      val sets = satDocs
        .join(ordered, "doc_id")
        .select(concat_ws("#", col("band_id"), col("band_val")).as("gid"), col("doc_id"), col("toks"))
      candN
        .union(SetSim.prefixCandidates(sets, NgTNum, NgTDen, SetSim.saltBFor(docs), "gid"))
        .distinct()
    }
  }

  /** UNCOLLAPSED verified pairs — the quadratic clique shape, retained for
    * the equivalence proofs in StressSpec (never a registered query's
    * path). On a dup-free corpus equals [[nearDuplicates]] exactly.
    */
  private[graft] def nearDuplicatesUncollapsed(docs: DataFrame, tNum: Long, tDen: Long): DataFrame =
    shingleJaccard(candidatePairsFrom(signatures(docs)), docs, tNum, tDen)

  /** Character 4-grams of lowercased text (empty array below 4 chars) —
    * same zip-of-shifted-slices shape as [[shingles3]] so the char split
    * evaluates O(1) times per row, not per gram.
    */
  def charGrams4(text: Column): Column = {
    val chars = split(lower(text), "")
    when(
      size(chars) >= 4,
      transform(
        arrays_zip(
          slice(chars, lit(1), size(chars) - 3),
          slice(chars, lit(2), size(chars) - 3),
          slice(chars, lit(3), size(chars) - 3),
          slice(chars, lit(4), size(chars) - 3)
        ),
        s => concat(s.getField("0"), s.getField("1"), s.getField("2"), s.getField("3"))
      )
    ).otherwise(array().cast("array<string>"))
  }

  /** Cached (doc_id, gset, h, hok, sz) distinct char-4-gram sets with
    * their [[SetSim.image]] — [[shingleSets]]'s analog for the n-gram
    * verifier, so `q_ngram_jaccard` pays one `documents` scan for its gram
    * sets (its candidates reuse the shingle cache). One cache holds both
    * the strings and the hash-tier columns: the gram family's only copy of
    * its string arrays.
    */
  def gramSets(docs: DataFrame): DataFrame =
    cached(
      docs
        .select(col("doc_id"), array_distinct(charGrams4(col("text"))).as("gset"))
        .select(col("doc_id") +: col("gset") +: SetSim.image(col("gset")): _*)
    )

  /** Candidates verified with exact Jaccard ≥ tNum/tDen over distinct
    * 3-shingle sets. Candidate generation and verification share the
    * cached [[shingleSets]] table — one `documents` scan for the whole
    * query. Pairs are at the DISTINCT-TEXT grain ([[candidatePairs]]'
    * exact-dup pre-collapse): exact copies never re-verify, so a
    * 100k-copy group costs nothing here instead of 5·10⁹ Jaccard
    * evaluations; its multiplicity lives in [[exactGroups]] and the member
    * star of [[nearDupEdges]].
    */
  def nearDuplicates(docs: DataFrame, tNum: Long, tDen: Long): DataFrame =
    shingleJaccard(candidatePairs(docs), docs, tNum, tDen)

  /** (d1, d2, inter, uni, jaccard) for the candidates whose shingle-set
    * Jaccard reaches tNum/tDen — [[SetSim.verify]] over the family's
    * shingle caches, then the double comparison the oracles replay. The
    * ONE definition the collapsed and the uncollapsed pair paths share.
    */
  private def shingleJaccard(cand: DataFrame, docs: DataFrame, tNum: Long, tDen: Long): DataFrame = {
    val sets = shingleSets(docs)
    // the hash tier's columns cached apart from, and WITHOUT, the strings:
    // the family keeps one copy of its text-derived arrays, this one only
    // longs
    val hashes = cached(sets.select(col("doc_id") +: SetSim.image(col("sset")): _*))
    atLeast(SetSim.verify(cand, hashes, sets, "sset", tNum, tDen), tNum, tDen)
  }

  /** `jaccard` = inter/uni, kept where it is ≥ tNum/tDen as a double — the
    * comparison the DuckDB oracles make. tNum/tDen is computed by one IEEE
    * division, the same double as the decimal literal (1/5 is 0.2).
    */
  private def atLeast(pairs: DataFrame, tNum: Long, tDen: Long): DataFrame =
    pairs
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= tNum.toDouble / tDen)

  /** Incremental near-dedup: flag NEW docs that near-duplicate the SEEN
    * corpus — the shape of a production ingest gate, where each day's batch
    * is checked against everything already accepted. Candidates come from a
    * band hash join of the new side against the seen side only (new⋈new
    * pairs are deliberately out of scope here — run [[nearDuplicates]] on
    * the batch for those), then exact-Jaccard verify, keeping each flagged
    * doc's best seen partner (max jaccard, ties to the smallest id). At
    * 100 TB the seen side's band table is a materialized incremental index
    * (append-only, bucketed by band_val) and the day's batch is small enough
    * that its band side broadcasts.
    */
  def incrementalNearDups(docs: DataFrame, isNew: Column, threshold: Double): DataFrame =
    if (!hasExactDups(docs)) incrementalNearDupsPlain(docs, isNew, threshold)
    else {
      // EXACT-DUPLICATE PRE-COLLAPSE, SIDE-LOCAL — the ingest-gate analog
      // of [[candidatePairs]]' family collapse, which the 10× scale gate
      // showed this query was missing (clean 2.2 s vs hot 92.7 s, ratio
      // 42.6: a 100k-copy text puts ~80k new copies and ~20k seen copies
      // in ONE band bucket, and the new⋈seen band join emits their ~1.6·10⁹
      // cross pairs before the verify tier sees any of them). Banding and
      // verification run over one representative per (distinct text, SIDE)
      // — side-LOCAL because the same text on both sides must keep a rep
      // on each side for the cross-boundary jaccard-1.0 match to exist.
      // Output-identical to the raw grain: identical text ⟹ identical
      // bands and jaccard, so (a) a member is a band candidate of exactly
      // the docs its rep partners with, and (b) the best-partner argmax
      // (jaccard DESC, seen_id ASC) always lands on a seen REP — equal-
      // jaccard exact copies lose the id tiebreak to their group's min-id
      // rep by construction. New members then inherit their rep's
      // (dup_of, jaccard) through a pair-bounded broadcast join.
      // StressSpec pins collapsed ≡ plain on a dup-heavy corpus; the
      // dup-free fixtures (sf0.001/sf0.01) keep the plain path via the
      // memoized [[hasExactDups]] probe, zero overhead.
      val mem      = members(docs, isNew.as("__new"))
      val sideReps = mem.groupBy("rep", "__new").agg(min("doc_id").as("srep"))
      val repFrame = docs.join(sideReps.select(col("srep").as("doc_id")), "doc_id")
      val repRes   = incrementalNearDupsPlain(repFrame, isNew, threshold)
      mem
        .filter(col("__new"))
        .join(sideReps.filter(col("__new")).select(col("rep"), col("srep")), "rep")
        .join(repRes, col("srep") === col("new_id"))
        .select(col("doc_id").as("new_id"), col("dup_of"), col("jaccard"))
    }

  /** The uncollapsed ingest-gate pipeline — [[incrementalNearDups]] routes
    * here directly on dup-free corpora, and over the side-collapsed rep
    * frame otherwise.
    */
  private[graft] def incrementalNearDupsPlain(docs: DataFrame, isNew: Column, threshold: Double): DataFrame = {
    // ONE tagged feature projection, cached: the predicate is evaluated at
    // the single `documents` scan, signatures are computed once for the
    // whole corpus with the side tag carried through (a doc's signature is
    // identical whichever side computes it), and the cached band index is
    // split by the tag afterwards — no per-side re-scan, no per-side
    // re-hash. At 100 TB the cached band table becomes the materialized
    // append-only band index (bucketed by band_val) and only the new
    // batch's bands are computed per run.
    val feats = cached(
      docs.select(
        col("doc_id"),
        array_distinct(shingles3(tokens(col("text")))).as("sset"),
        isNew.as("__is_new")
      )
    )
    val bt = cached(bands(signaturesFromSets(feats, Seq("__is_new")), Seq("__is_new")))
    val cand = bt
      .filter(col("__is_new"))
      .select(col("doc_id").as("new_id"), col("band_id"), col("band_val"))
      .join(
        bt.filter(!col("__is_new"))
          .select(col("doc_id").as("seen_id"), col("band_id"), col("band_val")),
        Seq("band_id", "band_val")
      )
      .select("new_id", "seen_id")
      .distinct()
    val sets = feats
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("new_id")
      .orderBy(col("jaccard").desc, col("seen_id"))
    // keyed by new_id so both the first verify join AND the best-partner
    // window reuse the exchange
    graft.core.Width
      .compute(cand, col("new_id"))
      .join(sets.select(col("doc_id").as("new_id"), col("sset").as("s1")), "new_id")
      .join(sets.select(col("doc_id").as("seen_id"), col("sset").as("s2")), "seen_id")
      .withColumn(
        "jaccard",
        size(array_intersect(col("s1"), col("s2"))).cast("double") /
          size(array_union(col("s1"), col("s2")))
      )
      .filter(col("jaccard") >= threshold)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("new_id"), col("seen_id").as("dup_of"), col("jaccard"))
  }

  // ---- SQL fragments shared by the DuckDB oracles -------------------------

  /** Shingle CTE body over an arbitrary (doc_id, text) relation — the
    * staged-pipeline oracles (q_pipeline_e2e) near-dedup an INTERMEDIATE
    * corpus, not `documents`, so the fragments are parametrized on the
    * source name; the fixed-name vals below keep every existing oracle
    * byte-identical.
    */
  private[graft] def sqlShinglesOver(src: String): String =
    s"""SELECT doc_id,
       |  list_transform(range(1, greatest(len(t)-2, 0)+1),
       |                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS sh
       |FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM $src)""".stripMargin

  private[graft] val sqlShingles = sqlShinglesOver("documents")

  private def sqlMh(i: Int): String =
    s"list_aggregate(list_transform(sh, x -> (CAST('0x' || substr(md5(x), 1, 7) AS BIGINT) * ${A(i)} + ${B(i)}) % $P), 'min') AS mh$i"

  private[graft] def sqlSigOver(src: String): String =
    s"""SELECT doc_id, ${(0 until K).map(sqlMh).mkString(",\n  ")}
       |FROM (${sqlShinglesOver(src)})""".stripMargin

  private[graft] val sqlSig = sqlSigOver("documents")

  /** Exact-duplicate collapse for the PAIR oracles: one representative
    * (min doc_id) per distinct text — the oracle replay of the
    * [[candidatePairs]] pre-collapse. MIN(text) is the group's one text.
    */
  private[graft] val sqlRepDocs =
    "SELECT MIN(doc_id) AS doc_id, MIN(text) AS text FROM documents GROUP BY md5(text)"

  private[graft] val sqlShinglesRep =
    s"""SELECT doc_id,
       |  list_transform(range(1, greatest(len(t)-2, 0)+1),
       |                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS sh
       |FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM ($sqlRepDocs))""".stripMargin

  /** Signature CTE body over the COLLAPSED doc set — what every pair-family
    * oracle binds its `sig` name to, so band join + verification replay
    * the rep-level computation exactly. Per-doc oracles (q_minhash_sig)
    * keep [[sqlSig]] over all docs.
    */
  private[graft] val sqlSigRep =
    s"""SELECT doc_id, ${(0 until K).map(sqlMh).mkString(",\n  ")}
       |FROM ($sqlShinglesRep)""".stripMargin

  private[graft] val sqlBands =
    (0 until K / 2)
      .map(b =>
        s"SELECT doc_id, $b AS band_id, CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR) AS band_val FROM sig WHERE mh0 IS NOT NULL"
      )
      .mkString("\nUNION ALL\n")

  /** Shared near-dup CTE bodies (expect `sig`/`bands`/`cand`/`sets` in
    * scope per each fragment's note) — ONE definition of "candidate pair",
    * "shingle set", and "verified pair" for every oracle that reasons
    * about near-duplicates, so a threshold or hash tweak can never make
    * two oracles disagree about what a near-dup is.
    */
  private[graft] val sqlCand =
    """SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM bands a JOIN bands b
      |    ON a.band_id = b.band_id AND a.band_val = b.band_val
      |   AND a.doc_id < b.doc_id""".stripMargin

  private[graft] def sqlSetsOver(src: String): String =
    s"SELECT doc_id, list_distinct(sh) AS sset FROM (${sqlShinglesOver(src)})"

  private[graft] val sqlSets = sqlSetsOver("documents")

  /** Jaccard-verified (d1, d2, jaccard) pairs at `threshold`. */
  private[graft] def sqlPairs(threshold: Double): String =
    s"""SELECT d1, d2,
       |    CAST(len(list_intersect(s1.sset, s2.sset)) AS DOUBLE)
       |      / len(list_distinct(list_concat(s1.sset, s2.sset))) AS jaccard
       |  FROM cand
       |  JOIN sets s1 ON s1.doc_id = d1
       |  JOIN sets s2 ON s2.doc_id = d2
       |  WHERE CAST(len(list_intersect(s1.sset, s2.sset)) AS DOUBLE)
       |      / len(list_distinct(list_concat(s1.sset, s2.sset))) >= $threshold""".stripMargin

  // ---- registered queries -------------------------------------------------

  /** Exact dedup: group identical normalized texts (shared
    * [[graft.queries.Fingerprint]] key), keep the smallest id.
    */
  val dedupExact: Q = Q(
    "q_dedup_exact",
    (s, dir) =>
      Tables(s, dir).documents
        .groupBy(graft.queries.Fingerprint.of(col("text")).as("fp"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))
        .orderBy("fp"),
    Some(
      s"""SELECT ${graft.queries.Fingerprint.sql} AS fp,
         |  MIN(doc_id) AS keep_id, COUNT(*) AS copies
         |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin
    )
  )

  /** MinHash signatures (cross-engine-checkable sketch computation). */
  val minhashSig: Q = Q(
    "q_minhash_sig",
    (s, dir) => signatures(Tables(s, dir).documents).orderBy("doc_id"),
    Some(s"$sqlSig\nORDER BY doc_id")
  )

  /** LSH candidate pairs — the bucketed (joinable) half of near-dup. */
  val lshCandidates: Q = Q(
    "q_lsh_candidates",
    (s, dir) => candidatePairs(Tables(s, dir).documents).orderBy("d1", "d2"),
    Some(
      s"""WITH sig AS ($sqlSigRep),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand)
         |SELECT d1, d2 FROM cand ORDER BY d1, d2""".stripMargin
    )
  )

  /** LSH candidates verified by exact Jaccard >= 1/5 over shingle sets. */
  val minhashNearDup: Q = Q(
    "q_minhash_neardup",
    (s, dir) => nearDuplicates(Tables(s, dir).documents, 1, 5).orderBy("d1", "d2"),
    Some(
      s"""WITH sig AS ($sqlSigRep),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand),
         |sets AS ($sqlSets)
         |SELECT d1, d2,
         |  CAST(len(list_intersect(s1.sset, s2.sset)) AS BIGINT) AS inter,
         |  CAST(len(list_distinct(list_concat(s1.sset, s2.sset))) AS BIGINT) AS uni,
         |  CAST(len(list_intersect(s1.sset, s2.sset)) AS DOUBLE)
         |    / len(list_distinct(list_concat(s1.sset, s2.sset))) AS jaccard
         |FROM cand
         |JOIN sets s1 ON s1.doc_id = d1
         |JOIN sets s2 ON s2.doc_id = d2
         |WHERE CAST(len(list_intersect(s1.sset, s2.sset)) AS DOUBLE)
         |    / len(list_distinct(list_concat(s1.sset, s2.sset))) >= 0.2
         |ORDER BY d1, d2""".stripMargin
    )
  )

  /** n-gram Jaccard threshold 3/10 as an exact rational — the prefix and
    * hash-tier bounds ([[SetSim]]) are integer cross-multiplications of
    * this, never doubles.
    */
  private val NgTNum = 3L
  private val NgTDen = 10L

  /** The `q_ngram_jaccard` verify pipeline: the saturation-aware
    * candidates ([[ngramCandidatePairs]]) through [[SetSim.verify]] at
    * 3/10 over the cached [[gramSets]] (the round-11 10× sweep measured
    * the naive string-array verify drifting 11.8 → 40.1 s with an
    * unchanged plan, because per-candidate cost is corpus-shaped, not
    * plan-shaped). The hash and length bounds are output-neutral work
    * savers; the final double filter is byte-identical to the oracle's.
    * The integer forms coincide with the double `>= 0.3` comparison for
    * every realizable set size (a disagreement needs |∪| within ~1e-17
    * relative of 3/10 without equaling it — a denominator > 10¹⁶, far
    * beyond any document's gram count), and ExtSpec pins the output to
    * a naive band-candidate, string-intersect reference on a
    * collision-rich corpus.
    */
  private[graft] def ngramVerifiedPairs(docs: DataFrame, sat: Int = BandSatThreshold): DataFrame = {
    val sets = gramSets(docs)
    val pairs = SetSim.verify(ngramCandidatePairs(docs, sat), sets, sets, "gset", NgTNum, NgTDen)
    atLeast(pairs, NgTNum, NgTDen).select("d1", "d2", "jaccard").orderBy("d1", "d2")
  }

  /** n-gram Jaccard near-dup: LSH band candidates verified by CHARACTER
    * 4-gram Jaccard (robust to word-boundary edits, unlike the word-shingle
    * verify of [[minhashNearDup]]). Same bucketed candidate generation;
    * the verification is per-pair array math behind the tiered prune of
    * [[ngramVerifiedPairs]], no extra shuffle.
    */
  val ngramJaccard: Q = Q(
    "q_ngram_jaccard",
    (s, dir) => ngramVerifiedPairs(Tables(s, dir).documents),
    Some(
      s"""WITH sig AS ($sqlSigRep),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand),
         |gsets AS (
         |  SELECT doc_id, list_distinct(
         |    list_transform(range(1, greatest(length(lower(text))-3, 0)+1),
         |                   i -> substr(lower(text), CAST(i AS INT), 4))) AS gset
         |  FROM documents)
         |SELECT d1, d2,
         |  CAST(len(list_intersect(s1.gset, s2.gset)) AS DOUBLE)
         |    / len(list_distinct(list_concat(s1.gset, s2.gset))) AS jaccard
         |FROM cand
         |JOIN gsets s1 ON s1.doc_id = d1
         |JOIN gsets s2 ON s2.doc_id = d2
         |WHERE CAST(len(list_intersect(s1.gset, s2.gset)) AS DOUBLE)
         |    / len(list_distinct(list_concat(s1.gset, s2.gset))) >= 0.3
         |ORDER BY d1, d2""".stripMargin
    )
  )

  /** Broder containment (Broder 1997, "On the resemblance and containment
    * of documents" — the SECOND of the paper's two measures, next to the
    * resemblance/Jaccard every other dedup query uses): per candidate
    * pair, |S1∩S2|/|S1| and |S1∩S2|/|S2|. Containment catches ASYMMETRIC
    * duplication that Jaccard dilutes — a short document quoted whole
    * inside a much longer one has jaccard ≈ |small|/|large| (arbitrarily
    * low) but containment ≈ 1 on the small side; exactly the
    * excerpt/quotation/boilerplate-inclusion class a training-data
    * pipeline must catch separately from whole-document near-dups.
    * Emits candidate pairs where EITHER side's containment ≥ 0.6, with
    * both directions reported.
    *
    * Scale shape: identical to [[ngramJaccard]] — the same family-shared
    * cached shingle sets and band-bucketed candidate generation (never
    * all-pairs), per-pair array math with no extra shuffle. The LSH
    * recall caveat is inherited and documented: banding is tuned for
    * resemblance, so a small-in-huge inclusion whose signature bands
    * never collide is not a candidate; production containment scans pair
    * the band index with the [[graft.ext.Winnow]] fingerprint index,
    * which q_shared_passages covers.
    */
  /** Directional-containment pairs over the band-bucketed candidates —
    * the [[containment]] query body, callable on any documents frame
    * (StressSpec feeds a constructed quote-inclusion corpus).
    */
  def containmentPairs(docs: DataFrame, tau: Double): DataFrame = {
    val sets = shingleSets(docs)
    // no length prefilter here: containment's two ratios are reciprocal,
    // so one of them always clears any tau < 1 on sizes alone
    graft.core.Width
      .compute(candidatePairs(docs), col("d1"))
      .join(sets.select(col("doc_id").as("d1"), col("sset").as("s1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("sset").as("s2")), "d2")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .withColumn("c12", col("inter").cast("double") / size(col("s1")))
      .withColumn("c21", col("inter").cast("double") / size(col("s2")))
      .filter(col("c12") >= tau || col("c21") >= tau)
      .select("d1", "d2", "inter", "c12", "c21")
      .orderBy("d1", "d2")
  }

  val containment: Q = Q(
    "q_containment",
    (s, dir) => containmentPairs(Tables(s, dir).documents, 0.6),
    Some(
      s"""WITH sig AS ($sqlSigRep),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand),
         |sets AS ($sqlSets)
         |SELECT d1, d2,
         |  CAST(len(list_intersect(s1.sset, s2.sset)) AS BIGINT) AS inter,
         |  CAST(len(list_intersect(s1.sset, s2.sset)) AS DOUBLE) / len(s1.sset) AS c12,
         |  CAST(len(list_intersect(s1.sset, s2.sset)) AS DOUBLE) / len(s2.sset) AS c21
         |FROM cand
         |JOIN sets s1 ON s1.doc_id = d1
         |JOIN sets s2 ON s2.doc_id = d2
         |WHERE CAST(len(list_intersect(s1.sset, s2.sset)) AS DOUBLE) / len(s1.sset) >= 0.6
         |   OR CAST(len(list_intersect(s1.sset, s2.sset)) AS DOUBLE) / len(s2.sset) >= 0.6
         |ORDER BY d1, d2""".stripMargin
    )
  )

  /** Connected components over the near-duplicate graph: each doc that
    * appears in any verified near-dup pair gets the MIN doc_id of its
    * component as `cluster_id` — the canonical "keep one per cluster" step
    * after pairwise dedup (pairs alone under-dedup: a~b and b~c must
    * collapse to ONE survivor even when a~c was never a candidate).
    *
    * Min-label propagation: every iteration each node takes the min of its
    * own label and its neighbors' labels — one join + one partial+final
    * min-aggregate per iteration, converging in graph-diameter steps
    * (near-dup components are shallow; `maxIters` caps pathological
    * chains — NOTE a cap hit before convergence returns partial labels
    * that differ from the true components/oracle, so size `maxIters`
    * above the expected diameter; the loop exits early on convergence,
    * which the fixtures reach in 2-3 steps). Labels are integers, the
    * fixpoint is partitioning- and
    * engine-independent, and the driver sees only a changed-row count per
    * iteration — the same bounded-driver-loop discipline as
    * [[graft.ext.Ivf.kmeansFit]]. The oracle computes the identical
    * fixpoint as a recursive reachability CTE (min reachable node id).
    * Edges come from [[nearDupEdges]], which pre-collapses exact-duplicate
    * texts to a representative + star so a massively-duplicated document
    * cannot inflate the edge set quadratically.
    */
  /** Edge set the cluster fixpoint consumes, with the EXACT-DUPLICATE
    * PRE-COLLAPSE defense every production dedup pipeline runs before
    * MinHash: docs are grouped by identical raw text (md5 key, so the
    * shuffle carries a 32-char hash instead of the text), LSH + Jaccard
    * verification runs over ONE representative per distinct text, and each
    * duplicate group contributes a linear rep→member STAR instead of its
    * quadratic clique. Identical text ⟹ identical shingle set ⟹ identical
    * signature, bands, and Jaccard against any third doc, so (a) a member
    * is a verified partner of exactly the docs its representative partners
    * with, and (b) same-group members are pairwise verified (jaccard 1)
    * whenever they have any shingle at all — which is precisely what the
    * star edges (gated on a non-empty shingle set) encode. Connected
    * components and min-ids over star+rep edges therefore equal those over
    * the raw pair graph — the q_dedup_clusters ORACLE still replays the
    * UNCOLLAPSED graph and stays hash-green — while the edge count drops
    * from O(Σ|group|²) to O(Σ|group| + pairs(reps)): a document duplicated
    * 100k× costs 100k star edges, not 5·10⁹ clique pairs (StressSpec
    * pins this bound on a pathological corpus). The representative list
    * rides a broadcast-size (doc_id, rep) frame; at 100 TB the md5 groupBy
    * is the same partial+final exchange as q_dedup_exact.
    */
  /** Exact-duplicate group table (raw-text md5 → representative id + copy
    * count) — a FAMILY-SHARED cache like [[shingleSets]]/[[signatures]]:
    * production dedup maintains this exact-dup index as an offline
    * artifact next to the signature index, and Bench's warm-up
    * materializes it with them so per-query timings measure the
    * steady-state probe, not the index build. The md5 key keeps the
    * shuffle at 32 chars/row regardless of document size.
    */
  private[graft] def exactGroups(docs: DataFrame): DataFrame = cached(
    docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("tkey"))
      .groupBy("tkey")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("copies"))
  )

  private[graft] def nearDupEdges(docs: DataFrame, tNum: Long, tDen: Long): DataFrame = {
    // rep-level verified pairs: since the pre-collapse moved INTO
    // [[candidatePairs]] (family-wide), [[nearDuplicates]] already emits
    // one representative per distinct text — this function only adds the
    // member star on top. On a dup-free corpus the pair set IS the full
    // verified-pair set and no star exists.
    val repPairs = nearDuplicates(docs, tNum, tDen).select("d1", "d2")
    if (!hasExactDups(docs)) repPairs
    else
      // identical SETLESS docs (< 3 tokens ⟹ no shingles ⟹ null jaccard)
      // are not pairwise-verified in the clique shape, so their groups get
      // no star either ([[eligibleReps]])
      repPairs.union(
        members(docs)
          .filter(col("doc_id") =!= col("rep"))
          .join(eligibleReps(docs), "rep")
          .select(col("rep").as("d1"), col("doc_id").as("d2"))
      )
  }

  def nearDupClusters(docs: DataFrame, tNum: Long, tDen: Long, maxIters: Int = 10): DataFrame = {
    val run = nearDupClusterRun(docs, tNum, tDen, maxIters)
    // a cap hit before convergence means PARTIAL labels that disagree with
    // the true components (and the oracle's recursive fixpoint) — fail
    // loudly rather than return silently wrong clusters
    require(
      run.fixpoint,
      s"nearDupClusters did not converge in $maxIters iterations — component diameter exceeds the cap"
    )
    run.last.frame.select(col("id").as("doc_id"), col("label").as("cluster_id")).orderBy("doc_id")
  }

  /** The (id, label) min-propagation rounds behind [[nearDupClusters]],
    * run to the label-sum fixpoint ([[graft.core.Iterate]]). (Superstep
    * batching — two propagation rounds per materialization to halve the
    * barriers — was MEASURED and rejected: near-dup components are shallow
    * (diameter 2-3), so the mandatory overshoot round costs more join work
    * than the saved barrier: 4.3 s → 5.2 s at sf0.1.)
    */
  private[graft] def nearDupClusterRun(docs: DataFrame, tNum: Long, tDen: Long, maxIters: Int,
      toFixpoint: Boolean = true): graft.core.Iterate.Run = {
    val edges = clusterEdges(docs, tNum, tDen)
    graft.core.Iterate(clusterSeed(edges), "label", maxIters, toFixpoint)(clusterStep(edges))
  }

  /** The directed (src, dst) propagation edges: both directions PLUS a
    * self-loop per endpoint, so min over (neighbors ∪ self) IS the whole
    * propagation step — each round is ONE join + ONE min-aggregate.
    */
  private[graft] def clusterEdges(docs: DataFrame, tNum: Long, tDen: Long): DataFrame = {
    // `min` is duplicate-insensitive, so the repeated self-loops need no
    // distinct pass. The 4 directed/self variants come from ONE explode
    // over the pair rows, NOT a 4-way union of `pairs` projections: union
    // branches are separate subtrees Catalyst does not dedup, so the
    // union form re-evaluated the whole uncached edge pipeline (LSH
    // candidate join + Jaccard verify + star build) four times while this
    // cache materialized — measured 4x this form's build time at sf0.1.
    val edgesGrain = cached(
      nearDupEdges(docs, tNum, tDen)
        .select(
          explode(
            array(
              struct(col("d1").as("src"), col("d2").as("dst")),
              struct(col("d2").as("src"), col("d1").as("dst")),
              struct(col("d1").as("src"), col("d1").as("dst")),
              struct(col("d2").as("src"), col("d2").as("dst"))
            )
          ).as("e")
        )
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    )
    // Plan truncation UNDER the cache (round 17, guide §3.3/§7.3 "very
    // large plans: planning time itself becomes the bottleneck"): the
    // cached edge frame still CARRIES the whole LSH+verify+star lineage
    // in its logical plan — the q_cluster_survivors formatted plan was
    // 21k lines — and every loop round re-analyzes its inputs. StageProbe
    // r17: only ~0.8 s of q_cluster_survivors' 3.3 s was stage wall; the
    // rest was the driver planning. The truncation reads the tiny
    // pair-bounded grain out of the cache once and hands the loop a
    // constant-depth LogicalRDD; the cache itself stays keyed on the
    // logical plan, so the family sharing across queries is unchanged.
    graft.core.Iterate.truncate(edgesGrain)
  }

  /** Initialization IS the first propagation step: with self-loops in the
    * edge set, min(dst) per src equals min(own id, neighbor ids). Measured
    * like every later round, so the fixpoint rule compares round 1 with it.
    */
  private[graft] def clusterSeed(edges: DataFrame): graft.core.Iterate.Round =
    graft.core.Iterate.measure(edges.groupBy(col("src").as("id")).agg(min("dst").as("label")), "label")

  /** One min-propagation round (shape pinned in PlanGoldenSpec). */
  private[graft] def clusterStep(edges: DataFrame)(r: graft.core.Iterate.Round): DataFrame =
    edges
      .join(r.side(r.frame.select(col("id").as("dst"), col("label"))), "dst")
      .groupBy(col("src").as("id"))
      .agg(min("label").as("label"))

  /** MinHash-estimator quality, AS a query: for every LSH candidate pair,
    * the sketch's Jaccard estimate (fraction of agreeing signature
    * components — the textbook MinHash estimator) next to the exact
    * Jaccard it estimates. Everything is deterministic — signatures replay
    * exactly in SQL — so even the ESTIMATE is hash-checked, unlike
    * engine-opaque sketches (HLL/KLL) which reduce to bound booleans.
    * This is the per-pair evidence behind the band-count tuning: with k=8
    * the estimator's σ = sqrt(J(1−J)/8) ≈ 0.17 at J=0.5.
    */
  val minhashEstimate: Q = Q(
    "q_minhash_estimate",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val sig  = signatures(docs)
      val sets = shingleSets(docs)
      val agree = (0 until K)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      graft.core.Width
        .compute(candidatePairs(docs), col("d1"))
        .join(
          sig.select(col("doc_id").as("d1") +: (0 until K).map(i => col(s"mh$i").as(s"a$i")): _*),
          "d1"
        )
        .join(
          sig.select(col("doc_id").as("d2") +: (0 until K).map(i => col(s"mh$i").as(s"b$i")): _*),
          "d2"
        )
        .join(sets.select(col("doc_id").as("d1"), col("sset").as("s1")), "d1")
        .join(sets.select(col("doc_id").as("d2"), col("sset").as("s2")), "d2")
        .select(
          col("d1"),
          col("d2"),
          (agree.cast("double") / K).as("est_jaccard"),
          (size(array_intersect(col("s1"), col("s2"))).cast("double") /
            size(array_union(col("s1"), col("s2")))).as("jaccard")
        )
        .orderBy("d1", "d2")
    },
    Some(
      s"""WITH sig AS ($sqlSigRep),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand),
         |sets AS ($sqlSets)
         |SELECT d1, d2,
         |  CAST(${(0 until K).map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")} AS DOUBLE) / $K AS est_jaccard,
         |  CAST(len(list_intersect(s1.sset, s2.sset)) AS DOUBLE)
         |    / len(list_distinct(list_concat(s1.sset, s2.sset))) AS jaccard
         |FROM cand
         |JOIN sig a ON a.doc_id = d1
         |JOIN sig b ON b.doc_id = d2
         |JOIN sets s1 ON s1.doc_id = d1
         |JOIN sets s2 ON s2.doc_id = d2
         |ORDER BY d1, d2""".stripMargin
    )
  )

  /** Edit-distance near-dup tier: the same bucketed LSH candidates verified
    * by RELATIVE Levenshtein distance (dist / max(len)) — the
    * character-level verifier that catches reorder-free edits shingle
    * Jaccard underweights. Both engines implement the classic DP edit
    * distance, so dist is exactly equal cross-engine ON ASCII TEXT — which
    * the fixtures are (verified octet_length == length at all scales).
    * CAVEAT for non-ASCII corpora: Spark edits CODE POINTS while DuckDB's
    * levenshtein edits UTF-8 BYTES ('ä'→'b' is distance 1 vs 2), so this
    * oracle is only valid for single-byte text; a multilingual deployment
    * would normalize or use a code-point-consistent verifier. The ratio is
    * one IEEE division of equal ints. Cost is O(len²) per CANDIDATE pair —
    * bounded by the band join's output, never all-pairs, which is what
    * keeps a quadratic verifier viable at 100 TB (τ=0.4 keeps 25/31
    * candidates at sf0.01 — the threshold does real filtering work and no
    * fixture pair sits near the boundary).
    */
  val editNearDup: Q = Q(
    "q_edit_neardup",
    (s, dir) => {
      val docs  = Tables(s, dir).documents
      val texts = docs.select(col("doc_id"), col("text"))
      // rel <= 0.4 with integer dist is EXACTLY dist <= (4*maxlen) div 10,
      // so the banded/early-abandon Levenshtein (threshold variant —
      // O(len*bound) instead of O(len^2), returning -1 beyond the bound)
      // computes the same kept set with the same exact distances; the -1
      // sentinel rows are the pairs the unbounded version would have
      // filtered on rel. The double filter is kept for the emitted rel.
      // keying the spread by d1 lets the first text join reuse the exchange
      graft.core.Width
        .compute(candidatePairs(docs), col("d1"))
        .join(texts.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
        .join(texts.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
        .withColumn(
          "bound",
          expr("CAST((greatest(length(t1), length(t2)) * 4L) div 10L AS INT)")
        )
        .withColumn("dist", expr("levenshtein(t1, t2, bound)").cast("long"))
        .filter(col("dist") >= 0L)
        .withColumn(
          "rel",
          col("dist").cast("double") / greatest(length(col("t1")), length(col("t2")))
        )
        .filter(col("rel") <= 0.4)
        .select("d1", "d2", "dist", "rel")
        .orderBy("d1", "d2")
    },
    Some(
      s"""WITH sig AS ($sqlSigRep),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand)
         |SELECT d1, d2,
         |  CAST(levenshtein(t1.text, t2.text) AS BIGINT) AS dist,
         |  CAST(levenshtein(t1.text, t2.text) AS DOUBLE)
         |    / greatest(length(t1.text), length(t2.text)) AS rel
         |FROM cand
         |JOIN documents t1 ON t1.doc_id = d1
         |JOIN documents t2 ON t2.doc_id = d2
         |WHERE CAST(levenshtein(t1.text, t2.text) AS DOUBLE)
         |    / greatest(length(t1.text), length(t2.text)) <= 0.4
         |ORDER BY d1, d2""".stripMargin
    )
  )

  /** Near-dup clusters as a registered query; the oracle replays the
    * fixpoint as recursive reachability (min reachable node) over the same
    * verified pair set.
    */
  val dedupClusters: Q = Q(
    "q_dedup_clusters",
    (s, dir) => nearDupClusters(Tables(s, dir).documents, 1, 5),
    Some(
      s"""WITH RECURSIVE sig AS ($sqlSig),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand),
         |sets AS ($sqlSets),
         |pairs AS (${sqlPairs(0.2)}),
         |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
         |          UNION ALL SELECT d2, d1 FROM pairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
         |SELECT id AS doc_id, MIN(r) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin
    )
  )

  /** Keep-best-per-cluster survivor selection — the step AFTER clustering
    * that every production dedup actually ships: within each near-dup
    * cluster keep the highest-QUALITY member (here: longest text by
    * n_chars, ties to the smallest doc_id), not the arbitrary min-id the
    * cluster label happens to use. SemDeDup-style pipelines (Abbas et al.
    * 2023 — public method) keep one representative per semantic cluster
    * by exactly this kind of scoring rule; min-id keeps whichever copy
    * was ingested first, which for truncated/expanded near-dups is often
    * the WORST copy. Docs in no cluster are their own singleton and
    * survive trivially.
    *
    * Scale shape: the cluster labels come from [[nearDupClusters]]
    * (pair-bounded fixpoint); the full-corpus attach is one left join on
    * doc_id; the survivor per cluster is a partial+final
    * `max(struct(n_chars, -doc_id))` aggregate — a hot 100k-member
    * cluster collapses map-side, never through a single window task —
    * joined back on the same cluster_id exchange.
    */
  val clusterSurvivors: Q = Q(
    "q_cluster_survivors",
    (s, dir) => {
      val docs   = Tables(s, dir).documents
      val labels = nearDupClusters(docs, 1, 5)
      val full = docs
        .select(col("doc_id"), col("n_chars"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val surv = full
        .groupBy("cluster_id")
        .agg(
          max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("nid"))).as("best"),
          count(lit(1)).as("n_members")
        )
        .select(
          col("cluster_id"),
          (-col("best.nid")).as("survivor_id"),
          col("n_members")
        )
      full
        .join(surv, "cluster_id")
        .withColumn("keep", when(col("doc_id") === col("survivor_id"), 1).otherwise(0))
        .select("doc_id", "cluster_id", "survivor_id", "n_members", "keep")
        .orderBy("doc_id")
    },
    Some(
      s"""WITH RECURSIVE sig AS ($sqlSig),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand),
         |sets AS ($sqlSets),
         |pairs AS (${sqlPairs(0.2)}),
         |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
         |          UNION ALL SELECT d2, d1 FROM pairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |f AS (
         |  SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS cluster_id, d.n_chars
         |  FROM documents d LEFT JOIN lab USING (doc_id)),
         |surv AS (
         |  SELECT cluster_id, doc_id AS survivor_id, n_in AS n_members FROM (
         |    SELECT cluster_id, doc_id, COUNT(*) OVER (PARTITION BY cluster_id) AS n_in,
         |      ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM f) WHERE rn = 1)
         |SELECT f.doc_id, f.cluster_id, surv.survivor_id, surv.n_members,
         |  CASE WHEN f.doc_id = surv.survivor_id THEN 1 ELSE 0 END AS keep
         |FROM f JOIN surv USING (cluster_id)
         |ORDER BY f.doc_id""".stripMargin
    )
  )

  /** Incremental ingest gate over the fixture: docs with id >= 400 are "the
    * new batch", everything below is the seen corpus.
    */
  val dedupIncremental: Q = Q(
    "q_dedup_incremental",
    (s, dir) =>
      incrementalNearDups(Tables(s, dir).documents, col("doc_id") >= 400, 0.2)
        .orderBy("new_id"),
    Some(
      s"""WITH sig AS ($sqlSig),
         |bands AS ($sqlBands),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS seen_id
         |  FROM bands n JOIN bands s
         |    ON n.band_id = s.band_id AND n.band_val = s.band_val
         |   AND n.doc_id >= 400 AND s.doc_id < 400),
         |sets AS ($sqlSets),
         |scored AS (
         |  SELECT new_id, seen_id AS dup_of,
         |    CAST(len(list_intersect(s1.sset, s2.sset)) AS DOUBLE)
         |      / len(list_distinct(list_concat(s1.sset, s2.sset))) AS jaccard
         |  FROM cand
         |  JOIN sets s1 ON s1.doc_id = new_id
         |  JOIN sets s2 ON s2.doc_id = seen_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id
         |                               ORDER BY jaccard DESC, dup_of) AS rn
         |  FROM scored WHERE jaccard >= 0.2)
         |SELECT new_id, dup_of, jaccard FROM ranked WHERE rn = 1
         |ORDER BY new_id""".stripMargin
    )
  )

  /** Dedup ROI audit — the headline metric a dedup pipeline reports
    * before anyone green-lights the storage/compute spend: total docs,
    * unique texts, duplicate rows, corpus characters, and characters
    * saved by keep-one-per-fingerprint (CHARACTER counts from `n_chars`,
    * not UTF-8 octets — for non-ASCII text the byte savings are larger;
    * the columns are named `chars_*` to say exactly what they measure).
    * One fingerprint aggregate (the same [[graft.queries.Fingerprint]]
    * as q_dedup_exact, so the two can't diverge) reaggregated to a
    * single row. The fingerprint NORMALIZES whitespace/case, so group
    * members can differ in n_chars: chars are the true per-group sum,
    * and the kept chars are the arg-min-doc_id survivor's (exactly the
    * row q_dedup_exact keeps) — saved = Σ(group chars − survivor chars).
    * All exact integers; at 100 TB this is the same one partial+final
    * exchange as the dedup itself.
    */
  val dedupStats: Q = Q(
    "q_bytes_saved",
    (s, dir) =>
      Tables(s, dir).documents
        .groupBy(graft.queries.Fingerprint.of(col("text")).as("fp"))
        .agg(
          count(lit(1)).as("copies"),
          // the Fingerprint is whitespace/case-NORMALIZED, so group
          // members can differ in n_chars — chars must be the true sum,
          // and the kept chars the arg-min-doc_id row's (the survivor
          // q_dedup_exact actually keeps), not min(n_chars)
          sum("n_chars").as("grp_chars"),
          min(struct(col("doc_id"), col("n_chars"))).getField("n_chars").as("kept_chars")
        )
        .agg(
          sum("copies").as("n_docs"),
          count(lit(1)).as("n_unique"),
          sum(col("copies") - 1).as("dup_docs"),
          sum(col("grp_chars")).as("chars_total"),
          sum(col("grp_chars") - col("kept_chars")).as("chars_saved")
        ),
    Some(
      s"""WITH g AS (
         |  SELECT ${graft.queries.Fingerprint.sql} AS fp,
         |    COUNT(*) AS copies,
         |    CAST(SUM(n_chars) AS BIGINT) AS grp_chars,
         |    arg_min(n_chars, doc_id) AS kept_chars
         |  FROM documents GROUP BY 1)
         |SELECT CAST(SUM(copies) AS BIGINT) AS n_docs,
         |  COUNT(*) AS n_unique,
         |  CAST(SUM(copies - 1) AS BIGINT) AS dup_docs,
         |  CAST(SUM(grp_chars) AS BIGINT) AS chars_total,
         |  CAST(SUM(grp_chars - kept_chars) AS BIGINT) AS chars_saved
         |FROM g""".stripMargin
    )
  )

  /** Degree distribution of the LSH candidate graph — the graph-shape
    * audit run before the [[nearDupClusters]] fixpoint: how many
    * candidate partners each document has (undirected degree over the
    * band-join pair set) histogrammed into (degree → n_docs). A heavy
    * tail here is what predicts slow cluster convergence and band-key
    * skew, the same way q_heavy_hitters predicts join skew. Reuses the
    * cached signature/band tables (no extra corpus scan); two tiny
    * aggregates over the pair-bounded candidate set.
    */
  val graphDegree: Q = Q(
    "q_graph_degree",
    (s, dir) => {
      val cand = candidatePairs(Tables(s, dir).documents)
      cand
        .select(col("d1").as("doc_id"))
        .union(cand.select(col("d2").as("doc_id")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("degree"))
        .groupBy("degree")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    },
    Some(
      s"""WITH sig AS ($sqlSigRep),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand),
         |deg AS (
         |  SELECT doc_id, COUNT(*) AS degree FROM (
         |    SELECT d1 AS doc_id FROM cand UNION ALL SELECT d2 FROM cand)
         |  GROUP BY 1)
         |SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY 1 ORDER BY 1""".stripMargin
    )
  )

  /** Cross-source near-dup overlap matrix — the provenance contamination
    * audit ("how much of source A is already in source B") run before
    * mixing corpora: verified near-dup pairs (same bucketed candidates +
    * exact-Jaccard tier as q_minhash_neardup) tagged with each side's
    * `source` and counted per UNORDERED source pair (least/greatest
    * canonicalization, so (web,books) and (books,web) are one cell).
    *
    * EXACT-DUPLICATE EXPANSION BY COUNTING: a document copied verbatim
    * across two sources is exactly what this matrix exists to measure, and
    * the rep-level pre-collapse would fold it into one representative (one
    * source). Instead of re-materializing member pairs (quadratic for a
    * hot group), the member grain enters as MULTIPLICITIES — per-group
    * per-source member counts c(g, s), a |groups|·|sources|-bounded
    * aggregate:
    *   - cross-group rep pair (g1, g2): cell (s1, s2) gains c(g1,s1)·c(g2,s2)
    *     — the rep pair joins the count table twice, fan-out |sources|² per
    *     pair, never |members|²;
    *   - within an eligible group (rep has ≥ 1 shingle — the banding
    *     eligibility of the uncollapsed pipeline): same-source pairs are
    *     C(c,2), cross-source pairs c(g,sa)·c(g,sb) via a |sources|-wide
    *     self-join per group. All Jaccard-1.0 exact copies, ≥ any threshold.
    * Pure integer products/sums — identical to brute-force pair counting,
    * which the UNCOLLAPSED oracle (`sqlSig` over all docs) verifies from
    * first principles. On a dup-free corpus every c = 1: the within
    * branches are empty and cross products are all 1 — the plain matrix.
    * The split-boundary analog is q_contamination.
    */
  val sourceOverlap: Q = Q(
    "q_source_overlap",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      // per-group per-source member counts — the ONE documents scan, with
      // `source` riding the member projection
      val gs = graft.core.Cached.frame(
        members(docs, col("source"))
          .groupBy("rep", "source")
          .agg(count(lit(1)).as("cnt"))
      )
      val cross = nearDuplicates(docs, 1, 5)
        .select("d1", "d2")
        .join(gs.select(col("rep").as("d1"), col("source").as("src1"), col("cnt").as("c1")), "d1")
        .join(gs.select(col("rep").as("d2"), col("source").as("src2"), col("cnt").as("c2")), "d2")
        .select(
          least(col("src1"), col("src2")).as("source_a"),
          greatest(col("src1"), col("src2")).as("source_b"),
          (col("c1") * col("c2")).as("n")
        )
      val gsElig = gs.join(eligibleReps(docs), "rep")
      val withinSame = gsElig
        .filter(col("cnt") >= 2)
        .select(
          col("source").as("source_a"),
          col("source").as("source_b"),
          expr("(cnt * (cnt - 1)) div 2").as("n")
        )
      val withinCross = gsElig
        .alias("a")
        .join(
          gsElig.alias("b"),
          col("a.rep") === col("b.rep") && col("a.source") < col("b.source")
        )
        .select(
          col("a.source").as("source_a"),
          col("b.source").as("source_b"),
          (col("a.cnt") * col("b.cnt")).as("n")
        )
      cross
        .union(withinSame)
        .union(withinCross)
        .groupBy("source_a", "source_b")
        .agg(sum("n").as("n_pairs"))
        .orderBy("source_a", "source_b")
    },
    Some(
      s"""WITH sig AS ($sqlSig),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand),
         |sets AS ($sqlSets),
         |pairs AS (${sqlPairs(0.2)})
         |SELECT least(a.source, b.source) AS source_a,
         |  greatest(a.source, b.source) AS source_b,
         |  COUNT(*) AS n_pairs
         |FROM pairs
         |JOIN documents a ON a.doc_id = d1
         |JOIN documents b ON b.doc_id = d2
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )
  )

  /** LSH tuning audit — the one-row scorecard behind the band/row choice:
    * candidate pairs generated, pairs surviving exact-Jaccard
    * verification at the production threshold, and the resulting
    * precision (one integer division — what fraction of the quadratic
    * verify budget was well spent). Re-tune bands/rows when precision
    * sags; recall needs labeled truth and is bounded analytically in
    * ExtSpec instead. Reuses the shared cached signature/set tables, so
    * the audit adds two counts over pair-bounded sets, no corpus scan.
    */
  val lshQuality: Q = Q(
    "q_lsh_quality",
    (s, dir) => {
      val docs  = Tables(s, dir).documents
      val cand  = candidatePairs(docs).agg(count(lit(1)).as("n_candidates"))
      val pairs = nearDuplicates(docs, 1, 5).agg(count(lit(1)).as("n_verified"))
      cand
        .crossJoin(pairs) // two 1-row frames
        .select(
          col("n_candidates"),
          col("n_verified"),
          // explicit NULL on an empty candidate set: Spark's non-ANSI x/0
          // is NULL but DuckDB's double 0/0 is NaN — pin the degenerate
          // case to NULL in BOTH engines
          when(
            col("n_candidates") === 0,
            lit(null).cast("double")
          ).otherwise(col("n_verified").cast("double") / col("n_candidates")).as("precision")
        )
    },
    Some(
      s"""WITH sig AS ($sqlSigRep),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand),
         |sets AS ($sqlSets),
         |pairs AS (${sqlPairs(0.2)})
         |SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
         |  (SELECT COUNT(*) FROM pairs) AS n_verified,
         |  CASE WHEN (SELECT COUNT(*) FROM cand) = 0 THEN NULL
         |       ELSE CAST((SELECT COUNT(*) FROM pairs) AS DOUBLE)
         |            / (SELECT COUNT(*) FROM cand) END AS precision""".stripMargin
    )
  )

  /** Candidate-pair Jaccard histogram — the threshold-TUNING audit: bucket
    * every LSH candidate pair by exact shingle Jaccard in 0.05 steps and
    * count. Reading the histogram answers "where should the near-dup
    * threshold sit on THIS corpus" (the valley between the background-noise
    * mass near 0 and the duplicate mass near 1) before committing a
    * full-corpus dedup pass to it.
    *
    * Cross-engine determinism: the bucket is the pure-integer
    * `(inter · 20) div uni` — never a double multiply whose rounding could
    * straddle a bucket edge (exact Jaccard 1.0 lands in its own bucket 20).
    *
    * Scale shape: everything derives from the band-bucketed candidate set
    * (pair-bounded, never all-pairs) and the cached shingle-set table the
    * whole dedup family shares; the histogram itself is a ≤ 21-row
    * partial+final aggregate.
    */
  val jaccardHistogram: Q = Q(
    "q_jaccard_histogram",
    (s, dir) =>
      nearDuplicates(Tables(s, dir).documents, 0, 1)
        .withColumn("bucket", expr("(inter * 20L) div uni"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("bucket"),
    Some(
      s"""WITH sig AS ($sqlSigRep),
         |bands AS ($sqlBands),
         |cand AS ($sqlCand),
         |sets AS ($sqlSets),
         |p AS (
         |  SELECT CAST(len(list_intersect(s1.sset, s2.sset)) AS BIGINT) AS inter,
         |         CAST(len(list_distinct(list_concat(s1.sset, s2.sset))) AS BIGINT) AS uni
         |  FROM cand
         |  JOIN sets s1 ON s1.doc_id = d1
         |  JOIN sets s2 ON s2.doc_id = d2)
         |SELECT (inter * 20) // uni AS bucket, COUNT(*) AS n_pairs
         |FROM p GROUP BY 1 ORDER BY bucket""".stripMargin
    )
  )

  /** SoftDeDup-style duplicate downweighting (He et al. 2024, "SoftDedup:
    * an Efficient Data Reweighting Method for Speeding Up Language Model
    * Pre-training" — public method): instead of DROPPING exact duplicates,
    * keep every copy but weight it 1/copies, so each distinct text
    * contributes unit total mass to the training distribution. Emits, per
    * document, its group's copy count and the integer sampling weight
    * (ppm) a weighted sampler like q_weighted_sample then draws against.
    * On a dup-free corpus every weight is exactly 1.0 (10⁶ ppm).
    *
    * Scale shape: the copy count is the FAMILY-SHARED cached
    * [[exactGroups]] aggregate (32-char md5 keys on the shuffle, never
    * raw text), attached back to the member grain via the cached
    * [[members]] mapping on the group-unique `rep` key — a plain hash
    * join with no fan-out. Zero extra corpus scans beyond the family's
    * one.
    */
  val softDedup: Q = Q(
    "q_softdedup",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      members(docs)
        .join(exactGroups(docs).select(col("rep"), col("copies")), "rep")
        .withColumn("weight_ppm", expr("1000000L div copies"))
        .select("doc_id", "copies", "weight_ppm")
        .orderBy("doc_id")
    },
    Some(
      """WITH g AS (SELECT md5(text) AS tkey, COUNT(*) AS copies
        |           FROM documents GROUP BY 1)
        |SELECT doc_id, copies, 1000000 // copies AS weight_ppm
        |FROM documents d JOIN g ON md5(d.text) = g.tkey
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** Per-SOURCE MinHash union signatures + the pairwise source-similarity
    * matrix they imply — the corpus-level companion to the per-document
    * sketch ([[minhashSig]]): each source's signature is the MinHash of the
    * UNION of all its documents' shingle sets, and component-match counts
    * between two sources estimate the Jaccard similarity of their whole
    * shingle vocabularies ("how much does src3's content universe overlap
    * src7's"), the source-curation screen run before the expensive
    * doc-level cross-source audit ([[sourceOverlap]]) is pointed anywhere.
    *
    * The scale story IS the query: `min` is associative, commutative and
    * duplicate-insensitive, so the union sketch needs NO doc-level grain,
    * no distinct, and no pre-collapse — one documents scan, per-partition
    * partial mins, and a |sources|·K final state (map-side combine absorbs
    * everything; an exact cross-source vocabulary Jaccard would cost a
    * |vocab|-sized shuffle PER PAIR). Cross-source exact duplicates — the
    * blind spot the member re-expansion fixes in [[sourceOverlap]] — are
    * naturally correct here: a copied text contributes the same shingle
    * mins to BOTH sources' sketches. The pair matrix is a self-join of a
    * |sources|-row frame: metadata at any corpus scale. Component equality
    * uses null-safe compare so a hypothetical all-short-doc source (empty
    * shingle union ⇒ null mins) pairs as 0 matches, not null.
    */
  val sourceMinhash: Q = Q(
    "q_source_minhash",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val hs = docs
        .select(col("source"), explode(shingles3(tokens(col("text")))).as("x"))
        .select(col("source"), baseHash(col("x")).as("h"))
      val mins = (0 until K).map(i => min((col("h") * A(i) + B(i)) % P).as(s"mh$i"))
      val sig  = hs.groupBy("source").agg(mins.head, mins.tail: _*)
      val matches = (0 until K)
        .map(i => when(col(s"a.mh$i") <=> col(s"b.mh$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      sig
        .alias("a")
        .join(broadcast(sig.alias("b")), col("a.source") < col("b.source"))
        .select(
          col("a.source").as("source_a"),
          col("b.source").as("source_b"),
          matches.as("matching"),
          (matches * (1000000L / K)).as("est_jaccard_ppm")
        )
        .orderBy("source_a", "source_b")
    },
    Some {
      val mh = (0 until K)
        .map(i => s"MIN((h * ${A(i)} + ${B(i)}) % $P) AS mh$i")
        .mkString(",\n    ")
      val m = (0 until K)
        .map(i => s"CASE WHEN a.mh$i IS NOT DISTINCT FROM b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH h AS (
         |  SELECT source, CAST('0x' || substr(md5(x), 1, 7) AS BIGINT) AS h
         |  FROM (
         |    SELECT source,
         |      unnest(list_transform(range(1, greatest(len(t)-2, 0)+1),
         |                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS x
         |    FROM (SELECT source, string_split(lower(text), ' ') AS t FROM documents))),
         |sig AS (
         |  SELECT source,
         |    $mh
         |  FROM h GROUP BY 1)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST($m AS BIGINT) AS matching,
         |  CAST(($m) * ${1000000L / K} AS BIGINT) AS est_jaccard_ppm
         |FROM sig a JOIN sig b ON a.source < b.source
         |ORDER BY source_a, source_b""".stripMargin
    }
  )

  val all: Seq[Q] =
    Seq(dedupExact, minhashSig, lshCandidates, minhashNearDup, minhashEstimate, ngramJaccard, editNearDup, dedupClusters, dedupIncremental, dedupStats, graphDegree, sourceOverlap, lshQuality, jaccardHistogram, softDedup, containment, clusterSurvivors, sourceMinhash)
}
