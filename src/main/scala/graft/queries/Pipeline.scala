package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Dedup

/** Corpus-preparation pipeline queries — the composition layer a
  * large-scale training-data pipeline runs on top of the individual text
  * operators (SURVEY.md §7.2 step 8). The reference has no analog (its
  * pipeline is "run another MapReduce job"); here each pipeline is ONE
  * declarative plan, so Catalyst fuses the stages instead of a job chain
  * re-reading intermediate files.
  */
object Pipeline {

  // ---- THE hash-split definition (80/10/10) ------------------------------
  // One rule for q_split_assign and every query that reasons about the
  // split boundary (q_contamination) — on BOTH the Spark and oracle sides,
  // so the fractions/hash can never silently diverge between them. The
  // bucket hash is Dedup.baseHash (the shared md5-prefix→int64).

  private val TrainUpper = 80
  private val ValUpper   = 90

  private[graft] def bucketOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Dedup.baseHash(id.cast("string")) % 100

  private[graft] def splitOfBucket(b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(b < TrainUpper, "train").when(b < ValUpper, "val").otherwise("test")

  private[graft] val sqlBucket =
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100"

  private[graft] val sqlSplit =
    s"CASE WHEN $sqlBucket < $TrainUpper THEN 'train' WHEN $sqlBucket < $ValUpper THEN 'val' ELSE 'test' END"

  /** Deterministic train/val/test assignment: md5-hash bucket of the
    * doc_id, 80/10/10. Hash-based splits are the production norm — stable
    * under corpus growth (a doc's split never changes when other docs are
    * added or the table is repartitioned), reproducible across engines,
    * and skew-free. Contrast sampling by rand(): irreproducible, and
    * TABLESAMPLE: partition-layout-dependent. Per-row expression only —
    * no shuffle at all beyond the verification sort.
    */
  val splitAssign: Q = Q(
    "q_split_assign",
    (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), bucketOf(col("doc_id")).as("bucket"))
        .withColumn("split", splitOfBucket(col("bucket")))
        .orderBy("doc_id"),
    Some(
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < $TrainUpper THEN 'train'
         |       WHEN bucket < $ValUpper THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, $sqlBucket AS bucket FROM documents)
         |ORDER BY doc_id""".stripMargin
    )
  )

  import TextQueries.{StopList, StopWords}

  /** C4-style corpus cleaning as ONE plan: language-ID gate → quality gate
    * → exact-dedup keep-first → MinHash near-dup drop, emitting one row
    * per document with each stage's verdict and the final keep flag — the
    * audit view a data pipeline materializes next to the cleaned corpus.
    *
    * Stage shapes at 100 TB: lang/quality are scan-stage expressions;
    * exact_keep is one window over the fingerprint (one exchange);
    * the near-dup drop set is the bucketed LSH candidate join from
    * [[graft.ext.Dedup.nearDuplicates]] (cached feature tables, no
    * cartesian) left-joined back — the drop set is pair-bounded and
    * broadcastable. No stage re-reads the corpus from disk: the per-doc
    * features ride the single `documents` scan and the dedup caches.
    *
    * Drop rule: a doc is dropped as a near-duplicate when it is the
    * LARGER id of any pair with Jaccard >= 0.2 — deterministic and
    * independent of its partner's own gate verdicts (the simple rule
    * production gates use, keeping the earliest-ingested copy). Pairs are
    * at the distinct-text grain (the family-wide exact-dup pre-collapse in
    * [[graft.ext.Dedup.candidatePairs]]): exact copies are already dropped
    * by the exact_keep stage, so the near-dup tier never re-walks a
    * duplicate clique — the division of labor that keeps this query linear
    * under a 100k-copy hot group (uncollapsed it measured 972 s hot vs
    * 4.8 s clean at the 10× scale gate).
    */
  val cleanCorpus: Q = Q(
    "q_clean_corpus",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val toks = split(lower(col("text")), " ", -1)
      val langOk = size(toks) > 0 &&
        size(filter(toks, x => x.isInCollection(StopWords))).cast("double") / size(toks) >= 0.03
      val nTok  = size(split(col("text"), " ", -1))
      val punct = length(col("text")) - length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))
      val qualityOk =
        nTok.between(5, 10000) && punct.cast("double") / length(col("text")) < 0.1
      val staged = docs.select(
        col("doc_id"),
        langOk.as("lang_ok"),
        qualityOk.as("quality_ok"),
        Fingerprint.of(col("text")).as("fp")
      )
      val wFp   = Window.partitionBy("fp")
      val drops = Dedup
        .nearDuplicates(docs, 1, 5)
        .select(col("d2").as("doc_id"))
        .distinct()
        .withColumn("neardup_drop", lit(true))
      staged
        .withColumn("exact_keep", min("doc_id").over(wFp) === col("doc_id"))
        .join(drops, Seq("doc_id"), "left")
        .withColumn("neardup_drop", coalesce(col("neardup_drop"), lit(false)))
        .withColumn(
          "keep",
          col("lang_ok") && col("quality_ok") && col("exact_keep") && !col("neardup_drop")
        )
        .select("doc_id", "lang_ok", "quality_ok", "exact_keep", "neardup_drop", "keep")
        .orderBy("doc_id")
    },
    Some(
      s"""WITH sig AS (${Dedup.sqlSigRep}),
         |bands AS (${Dedup.sqlBands}),
         |cand AS (${Dedup.sqlCand}),
         |sets AS (${Dedup.sqlSets}),
         |pairs AS (${Dedup.sqlPairs(0.2)}),
         |drops AS (SELECT DISTINCT d2 AS doc_id FROM pairs),
         |lang AS (
         |  SELECT doc_id,
         |    (tok_cnt > 0 AND CAST(stop_cnt AS DOUBLE) / tok_cnt >= 0.03) AS lang_ok
         |  FROM (
         |    SELECT doc_id, COUNT(*) AS tok_cnt,
         |      CAST(SUM(CASE WHEN w IN $StopList THEN 1 ELSE 0 END) AS BIGINT) AS stop_cnt
         |    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
         |    GROUP BY doc_id)),
         |qual AS (
         |  SELECT doc_id,
         |    (len(string_split(text, ' ')) BETWEEN 5 AND 10000 AND
         |     CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |       / length(text) < 0.1) AS quality_ok
         |  FROM documents),
         |fpx AS (
         |  SELECT doc_id,
         |    MIN(doc_id) OVER (PARTITION BY ${Fingerprint.sql}) = doc_id AS exact_keep
         |  FROM documents)
         |SELECT d.doc_id, lang.lang_ok, qual.quality_ok, fpx.exact_keep,
         |  (drops.doc_id IS NOT NULL) AS neardup_drop,
         |  (lang.lang_ok AND qual.quality_ok AND fpx.exact_keep
         |   AND drops.doc_id IS NULL) AS keep
         |FROM documents d
         |JOIN lang USING (doc_id)
         |JOIN qual USING (doc_id)
         |JOIN fpx USING (doc_id)
         |LEFT JOIN drops USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    )
  )

  /** PII scrubbing: regex redaction of emails and phone-shaped digit runs —
    * the pre-training privacy pass every corpus pipeline runs. The fixture
    * text carries no PII (verified: zero '@'/digit occurrences), so the
    * query first APPENDS a deterministic synthetic contact line per doc and
    * then scrubs it — making the redaction observably non-vacuous (the
    * oracle independently reconstructs both the dirty and the scrubbed
    * text, and n_redacted == 2 for every row is part of the hash).
    * Patterns stay in the RE2-compatible subset (no backrefs/lookarounds)
    * so Java regex and DuckDB RE2 agree.
    */
  val piiScrub: Q = Q(
    "q_pii_scrub",
    (s, dir) => {
      val dirty = concat(
        col("text"),
        lit(" contact user"),
        col("doc_id").cast("string"),
        lit("@example.com tel 555-"),
        lpad(col("doc_id").cast("string"), 4, "0")
      )
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "[0-9]{3}-[0-9]{3,4}"
      Tables(s, dir).documents
        .select(col("doc_id"), dirty.as("dirty"))
        .select(
          col("doc_id"),
          (size(regexp_extract_all(col("dirty"), lit(emailRe), lit(0))) +
            size(regexp_extract_all(col("dirty"), lit(phoneRe), lit(0))))
            .cast("long")
            .as("n_redacted"),
          md5(
            regexp_replace(
              regexp_replace(col("dirty"), emailRe, "[EMAIL]"),
              phoneRe,
              "[PHONE]"
            ).cast("binary")
          ).as("clean_fp")
        )
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(dirty, '[0-9]{3}-[0-9]{3,4}')) AS BIGINT) AS n_redacted,
        |  md5(regexp_replace(
        |        regexp_replace(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |        '[0-9]{3}-[0-9]{3,4}', '[PHONE]', 'g')) AS clean_fp
        |FROM (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com tel 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS dirty
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** Deterministic stratified sampling: per language stratum, the k=20 docs
    * with the smallest md5(doc_id) — reproducible across engines, runs,
    * and partitionings (unlike rand()/TABLESAMPLE), and per-stratum
    * balanced regardless of stratum skew. One exchange on the stratum key;
    * the per-stratum top-k window never materializes a global sort.
    */
  val stratifiedSample: Q = Q(
    "q_stratified_sample",
    (s, dir) => {
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      Tables(s, dir).documents
        .select(col("lang"), col("doc_id"), h.as("h"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select("lang", "rk", "doc_id")
        .orderBy("lang", "rk")
    },
    Some(
      """SELECT lang, rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin
    )
  )

  // ---- THE domain-mixture definition --------------------------------------
  // Per-source keep percentages, shared between the Spark when-chain and the
  // oracle CASE so the mixture can never diverge between engines. The mix
  // hash salts doc_id with "#mix" so mixture membership is INDEPENDENT of
  // the "#"-less split-assignment hash above — downsampling must not
  // correlate with train/val/test.

  private val MixPct: Seq[(String, Int)] = Seq(
    "src0" -> 100, "src1" -> 80, "src2" -> 60, "src3" -> 50, "src4" -> 40,
    "src5" -> 30, "src6" -> 25, "src7" -> 20, "src8" -> 10, "src9" -> 5
  )

  /** Source-weighted corpus mixing: deterministically downsample each
    * source to a target percentage (the "data mixing" stage that rebalances
    * web/books/code proportions before training). Hash sampling — keep a
    * doc iff its salted md5 bucket falls below the source's target — is
    * reproducible across engines/runs/partitionings and incremental-safe
    * (a doc's verdict never changes as the corpus grows), unlike rand() or
    * TABLESAMPLE. Emits EVERY doc with its bucket, target, and verdict so
    * the mixing rule itself is hash-checked, not just the survivor set.
    * Pure per-row expressions: zero exchanges beyond the verification sort.
    */
  val domainMix: Q = Q(
    "q_domain_mix",
    (s, dir) => {
      val b = Dedup.baseHash(concat(col("doc_id").cast("string"), lit("#mix"))) % 100
      val pct = MixPct.tail
        .foldLeft(when(col("source") === MixPct.head._1, MixPct.head._2)) {
          case (acc, (src, p)) => acc.when(col("source") === src, p)
        }
        .otherwise(0)
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          col("source"),
          b.as("mix_bucket"),
          pct.cast("long").as("target_pct")
        )
        .withColumn("keep", col("mix_bucket") < col("target_pct"))
        .orderBy("doc_id")
    },
    Some {
      val cases =
        MixPct.map { case (src, p) => s"WHEN '$src' THEN $p" }.mkString(" ")
      s"""SELECT doc_id, source, b AS mix_bucket,
         |  CAST(CASE source $cases ELSE 0 END AS BIGINT) AS target_pct,
         |  b < (CASE source $cases ELSE 0 END) AS keep
         |FROM (
         |  SELECT doc_id, source,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 7) AS BIGINT) % 100 AS b
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin
    }
  )

  /** Token-budget sampling: per source, take documents in deterministic
    * hash order until a token budget is exhausted — how a pipeline fills a
    * fixed-size training mix ("N tokens of web, M of code") rather than a
    * fixed doc count. The running token total is a cumulative window per
    * source; hash order makes the selection reproducible and stable under
    * corpus growth within the budget prefix. One exchange on the source
    * key; the cumsum is sort-within-partitions, never a global sort.
    */
  val tokenBudget: Q = Q(
    "q_token_budget",
    (s, dir) => {
      val w = Window
        .partitionBy("source")
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir).documents
        .select(
          col("source"),
          col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok"),
          md5(col("doc_id").cast("string").cast("binary")).as("h")
        )
        .withColumn("cum_tok", sum("n_tok").over(w))
        .filter(col("cum_tok") <= 1000)
        .select("source", "doc_id", "n_tok", "cum_tok")
        .orderBy("source", "cum_tok")
    },
    Some(
      """SELECT source, doc_id, n_tok, cum_tok FROM (
        |  SELECT source, doc_id, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source
        |                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        |  FROM (SELECT source, doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |        FROM documents))
        |WHERE cum_tok <= 1000 ORDER BY source, cum_tok""".stripMargin
    )
  )

  /** Sequence packing: assign documents (in deterministic hash order, per
    * source shard) to fixed-capacity training sequences — `seq_id` is the
    * 2048-token bin a document STARTS in, i.e. `(running_total_before_doc)
    * div 2048`, the greedy concat-and-chunk rule pretraining loaders use.
    * Packing is per-shard (source) exactly as a distributed loader packs
    * per worker: a single global order would serialize at 100 TB, while
    * per-shard windows keep one exchange on the shard key. Integer cumsum
    * + integer div — bit-identical cross-engine.
    */
  val seqPack: Q = Q(
    "q_seq_pack",
    (s, dir) => {
      val w = Window
        .partitionBy("source")
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir).documents
        .select(
          col("source"),
          col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok"),
          md5(col("doc_id").cast("string").cast("binary")).as("h")
        )
        .withColumn("cum_tok", sum("n_tok").over(w))
        .withColumn("seq_id", expr("(cum_tok - n_tok) div 2048"))
        .select("source", "doc_id", "n_tok", "cum_tok", "seq_id")
        .orderBy("source", "cum_tok")
    },
    Some(
      """SELECT source, doc_id, n_tok, cum_tok, (cum_tok - n_tok) // 2048 AS seq_id
        |FROM (
        |  SELECT source, doc_id, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source
        |                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        |  FROM (SELECT source, doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |        FROM documents))
        |ORDER BY source, cum_tok""".stripMargin
    )
  )

  /** Train/test contamination scan — the canonical eval-integrity check:
    * near-duplicate pairs (the MinHash/LSH candidates of
    * [[graft.ext.Dedup.nearDuplicates]], Jaccard >= 0.2) that CROSS the
    * [[splitAssign]] boundary, i.e. a held-out test document whose
    * near-copy sits in train/val. Output: each contaminated test doc, its
    * leaked partner, which split the partner sits in, and the Jaccard
    * evidence.
    *
    * EXACT-DUPLICATE EXPANSION: splits are assigned by doc_id hash, so an
    * exact copy of a train doc routinely lands in test under a different
    * doc_id — the MOST COMMON contamination. The family-wide pre-collapse
    * (rep-level pairs) would silently fold that copy into its train
    * representative, so this query expands the rep grain back to members
    * BEFORE the split logic:
    *   - cross-group: each verified rep pair fans out to (test members of
    *     one side) × (non-test members of the other) — two branch joins
    *     generate ONLY output rows, never same-split pairs that a filter
    *     would then discard (a 100k-copy group entirely in train costs 0
    *     rows here, where expand-then-filter would cost 5·10⁹);
    *   - within-group: exact copies of one text across the boundary pair
    *     (test member × non-test member) per group at Jaccard exactly 1.0
    *     — identical sets; restricted to banding-eligible reps (≥ 1
    *     shingle) so the uncollapsed candidate semantics are reproduced
    *     precisely.
    * On a dup-free corpus every group is a singleton: the within branch is
    * empty and the cross branches reduce to the plain pair/split join. The
    * oracle runs the fully UNCOLLAPSED pipeline (`sqlSig` over all docs),
    * so the expansion itself is hash-checked against first principles.
    */
  /** The q_contamination body over any documents frame — split out so the
    * spread-equivalence proof (salted ≡ plain on a constructed dup-heavy
    * corpus) can drive `spreadAt` directly.
    *
    * SPREAD DISCIPLINE (round 14): the three member-expansion joins key on
    * `rep`, so a K-copy exact group put its ENTIRE quadratic expansion —
    * test members × leak members, the within-group contamination rows that
    * ARE the answer — on the one task owning that rep's hash (the 1.5M-doc
    * hot gate's jstack: one task 27+ CPU-min inside
    * BypassMergeSortShuffleWriter, fed by the 300k-copy hot-text group).
    * The numbered-repartition spread cannot help: it rebalances candidate
    * ROWS, not one row's join fan-out. Salting bounds any one GROUP's
    * per-task emission share instead: the fanning member side carries
    * `salt = hash(member_id) mod S`, the other side is replicated across
    * all S salts, the join keys on (rep, salt) — each (test, leak) pair
    * still meets exactly once (at the salted member's own residue), and a
    * hot group's emission spreads over S tasks. Engaged only above
    * `spreadAt` max copies ([[Dedup.maxCopies]], one memoized probe): an
    * 8-copy corpus (sf0.1) keeps the pre-round-14 plan, a 300k-copy one
    * pays S× replication of the narrow id frames — trivial next to the
    * emission it parallelizes.
    */
  /** Predicted WITHIN-GROUP expansion volume of [[contaminationReport]] —
    * Σ over exact-dup groups of (test members × non-test members), i.e.
    * the quadratic part of the ANSWER itself (a 300k-copy group crossing
    * the 90/10 split boundary owes ~30k·270k ≈ 8·10⁹ contamination rows by
    * the query's own semantics — no engine can emit fewer). One aggregate over
    * the cached member table; the salted branch reads it to refuse a run
    * the scratch volume cannot hold BEFORE the expansion joins start.
    * Returns (rows, ~bytes at the 36 B/row report grain).
    */
  private[graft] def contaminationExpansionEstimate(
      docs: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val mem = Dedup
      .members(docs)
      .withColumn("split", splitOfBucket(bucketOf(col("doc_id"))))
    val rows = mem
      .groupBy("rep")
      .agg(
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("nt"),
        sum(when(col("split") =!= "test", 1L).otherwise(0L)).as("nl")
      )
      .agg(coalesce(sum(col("nt") * col("nl")), lit(0L)).as("p"))
      .first()
      .getLong(0)
    (rows, rows * 36L)
  }

  private[graft] def contaminationReport(
      docs: org.apache.spark.sql.DataFrame,
      spreadAt: Long = 4096L): org.apache.spark.sql.DataFrame = {
    // member grain (doc_id, rep) + split label — one documents scan via
    // the cached exact-group table the dedup family shares
    val mem = Dedup
      .members(docs)
      .withColumn("split", splitOfBucket(bucketOf(col("doc_id"))))
    val mTest = mem.filter(col("split") === "test").select(col("rep"), col("doc_id"))
    val mLeak =
      mem.filter(col("split") =!= "test").select(col("rep"), col("doc_id"), col("split"))
    val rp = Dedup.nearDuplicates(docs, 1, 5).select("d1", "d2", "jaccard")
    if (Dedup.maxCopies(docs) <= spreadAt) {
      val crossA = rp
        .join(mTest.select(col("rep").as("d1"), col("doc_id").as("test_id")), "d1")
        .join(
          mLeak.select(col("rep").as("d2"), col("doc_id").as("leak_id"), col("split").as("leak_split")),
          "d2"
        )
        .select("test_id", "leak_id", "leak_split", "jaccard")
      val crossB = rp
        .join(
          mLeak.select(col("rep").as("d1"), col("doc_id").as("leak_id"), col("split").as("leak_split")),
          "d1"
        )
        .join(mTest.select(col("rep").as("d2"), col("doc_id").as("test_id")), "d2")
        .select("test_id", "leak_id", "leak_split", "jaccard")
      val within = mTest
        .join(Dedup.eligibleReps(docs), "rep")
        .select(col("rep"), col("doc_id").as("test_id"))
        .join(
          mLeak.select(col("rep"), col("doc_id").as("leak_id"), col("split").as("leak_split")),
          "rep"
        )
        .select(col("test_id"), col("leak_id"), col("leak_split"), lit(1.0).as("jaccard"))
      crossA.union(crossB).union(within).orderBy("test_id", "leak_id")
    } else {
      val s     = docs.sparkSession.sparkContext.defaultParallelism
      val salts = array((0 until s).map(lit): _*)
      // salted member tables: the member's own id picks its residue.
      //
      // MERGE-HINTED (round 15, the q_contamination OOM's actual retainer):
      // Catalyst's size estimate for an explode is its CHILD's, so every
      // S×-replicated frame here looks byte-small and AQE plans
      // BroadcastHashJoins over frames that are really 10⁷-10⁸ rows — each
      // BroadcastExchange then collects the whole exploded frame to the
      // driver and builds HashedRelation pages on one heap. The round-15
      // forensics probe's jmap histograms caught it live: 59.9 GB of [J
      // (LongToUnsafeRowMap page arrays) at the 75%-heap checkpoint, with
      // every OOM stack's allocation failing in a concurrent task while
      // the builds grew. A 32×-exploded member table is never
      // broadcastable at any real scale — the merge hint pins every
      // expansion join to sort-merge, whose sorts spill instead of
      // retaining (heap stays flat; the salted plan becomes
      // shuffle-shaped, exactly what a 1000-executor cluster needs
      // anyway).
      def saltBy(idCol: String): org.apache.spark.sql.Column =
        pmod(hash(col(idCol)), lit(s))
      val mTestS = mTest
        .select(col("rep"), col("doc_id").as("test_id"))
        .withColumn("salt", saltBy("test_id"))
        .hint("merge")
      val mLeakS = mLeak
        .select(col("rep"), col("doc_id").as("leak_id"), col("split").as("leak_split"))
        .withColumn("salt", saltBy("leak_id"))
        .hint("merge")
      // replicated member tables for the second (already-member-bound)
      // joins, where the LEFT side's salt is its bound member's hash
      val mTestX = mTest
        .select(col("rep"), col("doc_id").as("test_id"))
        .withColumn("salt", explode(salts))
        .hint("merge")
      val mLeakX = mLeak
        .select(col("rep"), col("doc_id").as("leak_id"), col("split").as("leak_split"))
        .withColumn("salt", explode(salts))
        .hint("merge")
      val rpX = rp.withColumn("salt", explode(salts)).hint("merge")
      val crossA = rpX
        .join(mTestS.withColumnRenamed("rep", "d1"), Seq("d1", "salt"))
        .drop("salt")
        .withColumn("salt", saltBy("test_id"))
        .join(mLeakX.withColumnRenamed("rep", "d2"), Seq("d2", "salt"))
        .select("test_id", "leak_id", "leak_split", "jaccard")
      val crossB = rpX
        .join(mLeakS.withColumnRenamed("rep", "d1"), Seq("d1", "salt"))
        .drop("salt")
        .withColumn("salt", saltBy("leak_id"))
        .join(mTestX.withColumnRenamed("rep", "d2"), Seq("d2", "salt"))
        .select("test_id", "leak_id", "leak_split", "jaccard")
      val within = mTestS
        .join(Dedup.eligibleReps(docs), "rep")
        .join(mLeakX, Seq("rep", "salt"))
        .select(col("test_id"), col("leak_id"), col("leak_split"), lit(1.0).as("jaccard"))
      // MATERIALIZE-BEFORE-SORT (round 15): the answer orderBy's
      // RangePartitioner computes its range bounds by SAMPLING the child —
      // which re-executes it. With the three salted expansion joins as the
      // child, that sampling pass re-ran the entire expansion pipeline and
      // exhausted the heap at 500k hot docs under three progressively
      // heavier configs (DISK_ONLY caches included — the retainer was the
      // re-execution itself, not the cache tier). Writing the bounded
      // expansion to scratch parquet first gives the sampler plain columnar
      // rows to sample: the expansion runs EXACTLY once, as a plain
      // insert-file action with no collect-like pass over it. Engaged only
      // on this salted branch (> spreadAt max copies — never a fixture /
      // bench / correctness plan); the expansion estimate prices the
      // parquet before a byte is written (same ~2x-compression refusal
      // shape as the gate's), and the memo lets bench reps re-read it.
      val expanded = crossA.union(crossB).union(within)
      val key = f"${docs.queryExecution.analyzed.semanticHash()}%08x-$spreadAt"
      val out = graft.core.SessionArtifact.pathFor("graft-contam", key)
      val dir = graft.core.SessionArtifact.memo(artifacts, out) {
        val (expRows, expBytes) = contaminationExpansionEstimate(docs)
        graft.core.SessionArtifact.ensureFreeSpace(
          expBytes / 2,
          s"contamination expansion ($expRows predicted rows)")
        val t0 = System.nanoTime()
        expanded.write.mode("overwrite").parquet(out)
        graft.core.BuildWalls.record("contam_expansion", (System.nanoTime() - t0) / 1e9)
        out
      }
      Tables.read(docs.sparkSession, dir).orderBy("test_id", "leak_id")
    }
  }

  val contamination: Q = Q(
    "q_contamination",
    (s, dir) => contaminationReport(Tables(s, dir).documents),
    Some(
      s"""WITH sig AS (${Dedup.sqlSig}),
         |bands AS (${Dedup.sqlBands}),
         |cand AS (${Dedup.sqlCand}),
         |sets AS (${Dedup.sqlSets}),
         |pairs AS (${Dedup.sqlPairs(0.2)}),
         |sp AS (SELECT doc_id, $sqlSplit AS split FROM documents)
         |SELECT
         |  CASE WHEN a.split = 'test' THEN d1 ELSE d2 END AS test_id,
         |  CASE WHEN a.split = 'test' THEN d2 ELSE d1 END AS leak_id,
         |  CASE WHEN a.split = 'test' THEN b.split ELSE a.split END AS leak_split,
         |  jaccard
         |FROM pairs
         |JOIN sp a ON a.doc_id = d1
         |JOIN sp b ON b.doc_id = d2
         |WHERE (a.split = 'test') <> (b.split = 'test')
         |ORDER BY test_id, leak_id""".stripMargin
    )
  )

  /** C4/CCNet-style sub-document exact dedup: split every document into
    * deterministic segments, keep only the GLOBALLY-FIRST occurrence of each
    * distinct segment (by (doc_id, seg_no) order), and reassemble the
    * surviving text per document — the "remove duplicated paragraphs/lines
    * corpus-wide" operator. The fixture corpus has no newline or sentence
    * boundaries, so "segment" is a fixed 8-word window; the operator is
    * segmentation-agnostic (swap the splitter for `split(text, '\n')` on a
    * corpus with real lines).
    *
    * Scale shape: segmentation is a scan-stage explode that carries ONLY
    * (doc_id, seg_no, seg) — the words array is never duplicated per
    * segment row. First-occurrence is `min(struct(doc_id, seg_no))` per
    * segment, i.e. a partial+final aggregate (a boilerplate segment
    * appearing 10^9 times collapses map-side, where a rank-1 window would
    * funnel the hot key through one task), joined back on the same `seg`
    * exchange. Reassembly shuffles once on doc_id; documents whose segments
    * ALL lost survive with empty clean_text via the left join from the base
    * table.
    */
  val segmentDedup: Q = Q(
    "q_segment_dedup",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      // EXACT-DUP PRE-COLLAPSE (the same ordering defense as
      // Dedup.nearDupEdges): identical raw texts tile into identical
      // segments at identical positions, and the group representative
      // (min doc_id) therefore beats every copy for ANY first-occurrence
      // contest — so only representatives need segmenting, and non-rep
      // copies keep nothing, which the left-outer assembly below already
      // encodes as null→0/"". A 10k-copy hot document costs ONE segment
      // pass instead of 10k (sf0.1×10 hot corpus: 20.1 s → clean-parity);
      // the family-shared exactGroups cache (32-char md5 shuffle) is the
      // only added work.
      val reps = graft.ext.Dedup.exactGroups(docs).select(col("rep").as("doc_id"))
      val segs = docs
        .join(reps, "doc_id")
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(
          col("doc_id"),
          posexplode(
            expr(
              "transform(sequence(0, (size(words)+7) div 8 - 1)," +
                " i -> array_join(slice(words, cast(i*8+1 as int), 8), ' '))"
            )
          ).as(Seq("seg_no", "seg"))
        )
      // segs is referenced twice (winner derivation + the keep semi-join);
      // unpersisted, each reference re-runs the scan + split + explode
      // (ScanAuditSpec measured 4 corpus passes). The segment table tiles
      // the text exactly once, so the cache is ~corpus-sized — the same
      // class as the dedup family's shingle cache, and the production
      // analog is the materialized segment index a CCNet pipeline keeps.
      graft.core.Cached.frame(segs)
      val winners = segs
        .groupBy(col("seg").as("w_seg"))
        .agg(min(struct(col("doc_id"), col("seg_no"))).as("w"))
        .select(col("w_seg"), col("w.doc_id").as("w_doc"), col("w.seg_no").as("w_no"))
      val kept = segs
        .join(
          winners,
          col("seg") === col("w_seg") && col("doc_id") === col("w_doc") &&
            col("seg_no") === col("w_no"),
          "left_semi"
        )
        .groupBy("doc_id")
        .agg(
          array_join(
            transform(array_sort(collect_list(struct(col("seg_no"), col("seg")))), _.getField("seg")),
            " "
          ).as("kept_text"),
          count(lit(1)).as("kept_cnt")
        )
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          expr("CAST((size(split(text, ' '))+7) div 8 AS BIGINT)").as("n_seg")
        )
        .join(kept, Seq("doc_id"), "left_outer")
        .select(
          col("doc_id"),
          col("n_seg"),
          coalesce(col("kept_cnt"), lit(0L)).as("n_kept"),
          (col("n_seg") - coalesce(col("kept_cnt"), lit(0L))).as("n_dropped"),
          coalesce(col("kept_text"), lit("")).as("clean_text")
        )
        .orderBy("doc_id")
    },
    Some(
      """WITH segs AS (
        |  SELECT doc_id,
        |         unnest(range((len(words)+7)//8)) AS seg_no,
        |         unnest(list_transform(range((len(words)+7)//8),
        |                i -> array_to_string(words[i*8+1 : i*8+8], ' '))) AS seg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
        |wins AS (
        |  SELECT doc_id, seg_no, seg,
        |         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) AS rn
        |  FROM segs),
        |kept AS (
        |  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_no) AS clean_text,
        |         COUNT(*) AS n_kept
        |  FROM wins WHERE rn = 1 GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id, (len(string_split(text, ' '))+7)//8 AS n_seg FROM documents)
        |SELECT b.doc_id, n_seg,
        |       COALESCE(n_kept, 0) AS n_kept,
        |       n_seg - COALESCE(n_kept, 0) AS n_dropped,
        |       COALESCE(clean_text, '') AS clean_text
        |FROM base b LEFT JOIN kept k ON b.doc_id = k.doc_id
        |ORDER BY b.doc_id""".stripMargin
    )
  )

  /** Overlapping-window chunking — the RAG/embedding-prep shape (unlike
    * [[segmentDedup]]'s disjoint 8-word segments, retrieval chunks OVERLAP
    * so no answer span is ever split across a boundary): 32-word windows
    * advancing 24 words, i.e. 8 words of overlap between neighbors. One
    * chunk row per (doc, window): `chunk_no`, token count, and an md5
    * chunk fingerprint (the id an embedding index would key on; the text
    * itself stays in the doc store). Pure per-row array arithmetic — the
    * sequence of starts is ⌈(words−8)/24⌉-bounded, the slices O(window) —
    * then ONE explode; no shuffle except the verification sort. At 100 TB
    * chunking is scan-stage work feeding the embedding batch directly.
    */
  val chunkOverlap: Q = Q(
    "q_chunk_overlap",
    (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(
          col("doc_id"),
          posexplode(
            expr(
              "transform(sequence(0, greatest((size(words) - 8 + 23) div 24 - 1, 0))," +
                " i -> array_join(slice(words, cast(i*24+1 as int), 32), ' '))"
            )
          ).as(Seq("chunk_no", "chunk"))
        )
        .select(
          col("doc_id"),
          col("chunk_no").cast("long").as("chunk_no"),
          size(split(col("chunk"), " ")).as("n_words"),
          md5(col("chunk").cast("binary")).as("chunk_fp")
        )
        .orderBy("doc_id", "chunk_no"),
    Some(
      """SELECT doc_id, chunk_no,
        |  CAST(len(string_split(chunk, ' ')) AS INT) AS n_words,
        |  md5(chunk) AS chunk_fp
        |FROM (
        |  SELECT doc_id, i AS chunk_no,
        |    array_to_string(list_slice(words, i*24 + 1, i*24 + 32), ' ') AS chunk
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |    unnest(range(0, greatest((len(words) - 8 + 23) // 24, 1))) AS t(i))
        |ORDER BY doc_id, chunk_no""".stripMargin
    )
  )

  /** Weighted priority sample (Duffield–Lund–Thorup, JACM 2007): priority
    * = w/u with u uniform in (0,1]; the k highest-priority rows form a
    * weighted sample-without-replacement supporting unbiased subset-sum
    * estimators — the sampler a data-mixing pipeline uses when documents
    * should be drawn ∝ length/quality weight rather than uniformly.
    *
    * Determinism: u derives from the salted md5 bucket hash (`#ws` salt —
    * independent of the split/mix hashes), so membership is reproducible
    * across engines, corpus growth, and repartitioning; the priority is
    * the exact integer w·2²⁸ div (h+1) (h < 2²⁸, so u = (h+1)/2²⁸ ∈
    * (0,1]; bound: w·2²⁸ < 2⁶³ holds to w ≈ 3×10¹⁰ chars/doc).
    *
    * Scale shape: a per-row expression straight off the scan feeding
    * TakeOrderedAndProject — no shuffle at all beyond the top-k tree
    * merge, at any corpus size.
    */
  val weightedSample: Q = Q(
    "q_weighted_sample",
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          col("n_chars").as("weight"),
          Dedup.baseHash(concat(col("doc_id").cast("string"), lit("#ws"))).as("h")
        )
        .withColumn("priority", expr("(weight * 268435456L) div (h + 1)"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(50)
        .select("doc_id", "weight", "priority"),
    Some(
      """SELECT doc_id, weight, priority FROM (
        |  SELECT doc_id, n_chars AS weight,
        |    (n_chars * 268435456)
        |      // (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ws'), 1, 7) AS BIGINT) + 1)
        |      AS priority
        |  FROM documents)
        |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin
    )
  )

  /** Mixture-allocation schedule: given per-source target shares (ppm,
    * derived deterministically from the source id and normalized), the
    * largest total sample the corpus can supply WITHOUT oversampling any
    * source is T = minₛ(nₛ·10⁶ div ppmₛ) — the binding-constraint
    * computation every "mix N sources to target proportions" planner runs
    * before sampling (the planned_n column is what q_weighted_sample-style
    * samplers then draw per source). Integer ppm arithmetic end-to-end.
    *
    * Scale shape: one partial+final aggregate to the per-source grain
    * (|sources| rows — metadata-sized at any corpus scale), cached, then
    * two 1-row broadcast scalars (weight sum, binding T) joined back; the
    * corpus is scanned exactly once.
    */
  val mixSchedule: Q = Q(
    "q_mix_schedule",
    (s, dir) => {
      val bySrc = graft.core.Cached.frame(
        Tables(s, dir).documents
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
          .withColumn("w", expr("1 + (CAST(substring(source, 4, 10) AS INT) % 8)"))
      )
      val tot = bySrc.agg(sum("w").as("wsum"))
      val ppm = bySrc
        .crossJoin(broadcast(tot))
        .withColumn("target_ppm", expr("(w * 1000000L) div wsum"))
      val tMax = ppm.agg(min(expr("(n_docs * 1000000L) div target_ppm")).as("t_max"))
      ppm
        .crossJoin(broadcast(tMax))
        .withColumn("planned_n", expr("(target_ppm * t_max) div 1000000L"))
        .select(
          col("source"),
          col("n_docs"),
          col("n_chars"),
          col("target_ppm"),
          col("planned_n"),
          expr("(planned_n * 1000000L) div n_docs").as("utilization_ppm")
        )
        .orderBy("source")
    },
    Some(
      """WITH bysrc AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |    1 + (CAST(substr(source, 4) AS INT) % 8) AS w
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM bysrc),
        |ppm AS (SELECT b.*, (w * 1000000) // wsum AS target_ppm FROM bysrc b, tot),
        |tmax AS (SELECT MIN((n_docs * 1000000) // target_ppm) AS t_max FROM ppm)
        |SELECT source, n_docs, n_chars, target_ppm,
        |  (target_ppm * t_max) // 1000000 AS planned_n,
        |  (((target_ppm * t_max) // 1000000) * 1000000) // n_docs AS utilization_ppm
        |FROM ppm, tmax ORDER BY source""".stripMargin
    )
  )

  /** Temperature-scaled mixture reweighting (the multilingual-pretraining
    * balancing rule, p ↦ p^α with α = 1/2): upweight low-resource sources
    * relative to their raw corpus share by sampling ∝ √n_s instead of
    * ∝ n_s. Emits, per source, the raw share, the temperature-scaled
    * target share, and the resulting boost factor — the planner table a
    * sampler like `q_weighted_sample` then draws against.
    *
    * Cross-engine determinism: √n via `floor(sqrt(n))` — IEEE 754 requires
    * sqrt be correctly rounded and n_docs ≤ 2^52 is exact in a double, so
    * the isqrt is bit-identical in both engines; every later step is
    * integer ppm arithmetic.
    *
    * Scale shape: one partial+final aggregate to the per-source grain
    * (metadata-sized at any corpus scale), cached once for its two scalar
    * reaggregations, then two 1-row broadcasts back — the corpus is
    * scanned exactly once.
    */
  val mixTemperature: Q = Q(
    "q_mix_temperature",
    (s, dir) => {
      val bySrc = graft.core.Cached.frame(
        Tables(s, dir).documents
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w", expr("cast(floor(sqrt(cast(n_docs as double))) as bigint)"))
      )
      val tot = bySrc.agg(sum("n_docs").as("n_total"), sum("w").as("w_total"))
      bySrc
        .crossJoin(broadcast(tot))
        .withColumn("raw_ppm", expr("(n_docs * 1000000L) div n_total"))
        .withColumn("temp_ppm", expr("(w * 1000000L) div w_total"))
        // raw_ppm floors to 0 for a source below 1 ppm of the corpus
        // (plausible at 100 TB): Spark's non-ANSI div would yield NULL
        // while DuckDB's // raises — pin the degenerate case in BOTH
        // engines by flooring the denominator at 1 ppm (the boost is then
        // "as if the source held 1 ppm", finite and monotone)
        .withColumn("boost_ppm", expr("(temp_ppm * 1000000L) div greatest(raw_ppm, 1L)"))
        .select("source", "n_docs", "raw_ppm", "temp_ppm", "boost_ppm")
        .orderBy("source")
    },
    Some(
      """WITH bysrc AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
        |               CAST(SUM(w) AS BIGINT) AS w_total FROM bysrc)
        |SELECT source, n_docs,
        |  (n_docs * 1000000) // n_total AS raw_ppm,
        |  (w * 1000000) // w_total AS temp_ppm,
        |  (((w * 1000000) // w_total) * 1000000)
        |    // greatest((n_docs * 1000000) // n_total, 1) AS boost_ppm
        |FROM bysrc, tot ORDER BY source""".stripMargin
    )
  )

  /** Exact n-gram decontamination — the GPT-3/PaLM-style eval-integrity
    * filter that [[contamination]]'s MinHash tier complements: for every
    * held-out test document, count how many of its DISTINCT 5-word-gram
    * fingerprints also occur anywhere in train/val, and flag any overlap.
    * Near-dup contamination catches whole-document copies; the n-gram tier
    * catches verbatim PASSAGES (a benchmark question pasted into a larger
    * train doc) that document-level Jaccard dilutes below threshold.
    *
    * Scale shape: the corpus is scanned ONCE into a cached (doc_id, split,
    * gram) table at the distinct-gram-per-doc grain (grams are built by
    * zipping 5 shifted token slices — constant token-array evaluations per
    * row, same as [[graft.ext.Dedup.shingles3]]). The leak side collapses
    * to DISTINCT grams (partial+final agg: a boilerplate gram appearing
    * 10⁹ times in train shrinks map-side to one row) and the test side
    * LEFT SEMI joins it on the gram hash — a semi join never fans out, so
    * a hot gram costs one probe, not a pair explosion. Both per-doc
    * aggregates reuse the one cached table. Test docs with fewer than 5
    * tokens have no 5-grams and by construction cannot be n-gram
    * contaminated; they carry no row here.
    */
  val decontamNgram: Q = Q(
    "q_decontam_ngram",
    (s, dir) => {
      val toks = split(lower(col("text")), " ", -1)
      val g5 = when(
        size(toks) >= 5,
        transform(
          arrays_zip(
            slice(toks, lit(1), size(toks) - 4),
            slice(toks, lit(2), size(toks) - 4),
            slice(toks, lit(3), size(toks) - 4),
            slice(toks, lit(4), size(toks) - 4),
            slice(toks, lit(5), size(toks) - 4)
          ),
          t =>
            concat_ws(
              " ",
              t.getField("0"),
              t.getField("1"),
              t.getField("2"),
              t.getField("3"),
              t.getField("4")
            )
        )
      ).otherwise(array().cast("array<string>"))
      val grams = graft.core.Cached.frame(
        Tables(s, dir).documents
          .select(
            col("doc_id"),
            splitOfBucket(bucketOf(col("doc_id"))).as("split"),
            explode(array_distinct(g5)).as("gram")
          )
      )
      val leak  = grams.filter(col("split") =!= "test").select("gram").distinct()
      val test  = grams.filter(col("split") === "test").select("doc_id", "gram")
      val total = test.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val matched = test
        .join(leak, Seq("gram"), "left_semi")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_matched"))
      total
        .join(matched, Seq("doc_id"), "left")
        .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
        .withColumn("contam_ppm", expr("(n_matched * 1000000L) div n_grams"))
        .withColumn("flagged", when(col("n_matched") > 0, 1).otherwise(0))
        .select("doc_id", "n_grams", "n_matched", "contam_ppm", "flagged")
        .orderBy("doc_id")
    },
    Some(
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(len(t)-4, 0)+1),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS gs
         |  FROM toks),
         |grams AS (
         |  SELECT doc_id, $sqlSplit AS split, unnest(gs) AS gram FROM g),
         |leak AS (SELECT DISTINCT gram FROM grams WHERE split <> 'test'),
         |test AS (SELECT doc_id, gram FROM grams WHERE split = 'test'),
         |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM test GROUP BY 1),
         |mat AS (SELECT t.doc_id, COUNT(*) AS n_matched
         |        FROM test t JOIN leak l ON t.gram = l.gram GROUP BY 1)
         |SELECT tot.doc_id, n_grams, COALESCE(n_matched, 0) AS n_matched,
         |  (COALESCE(n_matched, 0) * 1000000) // n_grams AS contam_ppm,
         |  CASE WHEN COALESCE(n_matched, 0) > 0 THEN 1 ELSE 0 END AS flagged
         |FROM tot LEFT JOIN mat ON tot.doc_id = mat.doc_id
         |ORDER BY tot.doc_id""".stripMargin
    )
  )

  /** Cleaning-funnel attrition table: how many documents survive each
    * successive gate of the [[cleanCorpus]] pipeline (language → quality →
    * exact-dedup → near-dup) — the one-row report every production
    * cleaning run publishes next to its output, because a gate that
    * silently eats 40% of the corpus is a pipeline bug, not a quality
    * win. Aggregates the SAME per-document audit view `q_clean_corpus`
    * emits (one definition of every gate — the two queries cannot
    * disagree), with each stage counted CUMULATIVELY in pipeline order.
    *
    * Scale shape: [[cleanCorpus]]'s plan (scan-stage gates + one
    * fingerprint window + the pair-bounded drop join) feeding a single
    * partial+final global aggregate — five integers cross the final
    * exchange.
    */
  val cleanFunnel: Q = Q(
    "q_clean_funnel",
    (s, dir) =>
      cleanCorpus
        .fn(s, dir)
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang"),
          sum(when(col("lang_ok") && col("quality_ok"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("lang_ok") && col("quality_ok") && col("exact_keep"), 1L).otherwise(0L))
            .as("n_exact"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_final")
        ),
    cleanCorpus.oracle.map(cc =>
      s"""WITH cc AS ($cc)
         |SELECT COUNT(*) AS n_total,
         |  CAST(SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
         |  CAST(SUM(CASE WHEN lang_ok AND quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(SUM(CASE WHEN lang_ok AND quality_ok AND exact_keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_final
         |FROM cc""".stripMargin
    )
  )

  /** Data-constrained epoch planning (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models" — public method): when the token
    * budget exceeds the corpus, sources must REPEAT, and repeating beyond
    * ~4 epochs returns almost nothing — so the plan allocates the budget
    * across sources by mixture weight, converts each allocation to epochs
    * over that source's unique tokens, caps at 4 epochs (400 centi-epochs),
    * and reports the SERVED tokens plus the gap the cap leaves unfilled
    * (the "data wall": budget that cannot be spent on that source without
    * diminishing-returns repetition). Budget = 3× the corpus here so the
    * fixture actually exercises the repetition regime.
    *
    * All integer arithmetic (centi-epochs, guarded denominators), so the
    * plan is hash-checked exactly.
    *
    * Scale shape: the per-source token grain is one partial+final
    * aggregate over the documents scan; everything after runs on the
    * |sources|-row metadata grain with a 1-row broadcast total — the
    * [[mixSchedule]] discipline, no global window, nothing driver-side.
    */
  val epochPlan: Q = Q(
    "q_epoch_plan",
    (s, dir) => {
      val bySrc = graft.core.Cached.frame(
        Tables(s, dir).documents
          .select(
            col("source"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tok")
          )
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"))
          .withColumn("w", expr("1 + (CAST(substring(source, 4, 10) AS INT) % 8)"))
      )
      val tot = bySrc.agg(sum("n_tok").as("n_total"), sum("w").as("wsum"))
      bySrc
        .crossJoin(broadcast(tot))
        .withColumn("alloc_tok", expr("((3L * n_total) * w) div wsum"))
        .withColumn(
          "epochs_centi",
          expr("least(400L, (alloc_tok * 100L) div greatest(n_tok, 1L))")
        )
        .withColumn("served_tok", expr("least(alloc_tok, 4L * n_tok)"))
        .withColumn("gap_tok", expr("alloc_tok - served_tok"))
        .select("source", "n_docs", "n_tok", "w", "alloc_tok", "epochs_centi",
          "served_tok", "gap_tok")
        .orderBy("source")
    },
    Some(
      """WITH bysrc AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tok,
        |    CAST(1 + (CAST(substr(source, 4) AS INT) % 8) AS INTEGER) AS w
        |  FROM (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |        FROM documents)
        |  GROUP BY source),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_total,
        |               CAST(SUM(w) AS BIGINT) AS wsum FROM bysrc)
        |SELECT source, n_docs, n_tok, w, alloc_tok,
        |  LEAST(400, (alloc_tok * 100) // GREATEST(n_tok, 1)) AS epochs_centi,
        |  LEAST(alloc_tok, 4 * n_tok) AS served_tok,
        |  alloc_tok - LEAST(alloc_tok, 4 * n_tok) AS gap_tok
        |FROM (SELECT b.*, ((3 * n_total) * w) // wsum AS alloc_tok FROM bysrc b, tot)
        |ORDER BY source""".stripMargin
    )
  )

  /** One-row dataset card — the datasheet summary a corpus release ships
    * (Gebru et al. 2021's "Datasheets for Datasets" reduced to its
    * quantitative core): document/source/language counts, exact distinct
    * texts with the implied exact-duplicate count and rate, token and
    * character volume, and mean document length. The card is what a
    * mixture planner reads FIRST — every knob in q_mix_schedule /
    * q_epoch_plan starts from these totals.
    *
    * Scale shape: one CACHED narrow (source, lang, md5, n_tok, n_chars)
    * scan feeding four aggregates — the base counts/sums plus one
    * SINGLE-distinct leg per exact COUNT(DISTINCT ...) column, each a
    * 1-row frame broadcast back onto the base. The legs deliberately do
    * NOT share one multi-distinct aggregate: Spark's
    * RewriteDistinctAggregates plans that as an Expand whose gid slots
    * follow session exprId ORDER, so byte-identical plans fingerprinted
    * differently depending on what ran earlier in the session (§Round 11
    * of `git show 625dc0f:COVERAGE.md`, reproduced with SPARK_GRAFT_FP_DUMP
    * both ways) — and the Expand also 4×-multiplied the projection's rows
    * before the shuffle.
    * Single-distinct legs plan as plain two-phase aggregates: no Expand,
    * no gid, one fp regardless of in-session company, and each leg
    * shuffles only its own column. Acceptable for a once-per-release
    * audit; a continuously-refreshed card would swap in the sketch tier
    * (q_approx_distinct) unchanged. All integers, so the card itself is
    * hash-checked.
    */
  val datasetCard: Q = Q(
    "q_dataset_card",
    (s, dir) => {
      val proj = graft.core.Cached.frame(
        Tables(s, dir).documents.select(
          col("source"),
          col("lang"),
          md5(col("text").cast("binary")).as("h"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok"),
          col("n_chars")
        )
      )
      val base = proj.agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("n_chars").as("n_chars")
      )
      val srcs  = proj.agg(countDistinct(col("source")).as("n_sources"))
      val langs = proj.agg(countDistinct(col("lang")).as("n_langs"))
      val texts = proj.agg(countDistinct(col("h")).as("n_distinct_texts"))
      base
        .crossJoin(broadcast(srcs))
        .crossJoin(broadcast(langs))
        .crossJoin(broadcast(texts))
        .select(
          col("n_docs"),
          col("n_sources"),
          col("n_langs"),
          col("n_distinct_texts"),
          (col("n_docs") - col("n_distinct_texts")).as("dup_docs"),
          // NULL on an empty corpus, as DuckDB's `// 0`
          expr("((n_docs - n_distinct_texts) * 1000000L) div nullif(n_docs, 0)").as("dup_ppm"),
          col("n_tokens"),
          expr("n_tokens div nullif(n_docs, 0)").as("mean_tokens"),
          col("n_chars")
        )
    },
    Some(
      """SELECT n_docs, n_sources, n_langs, n_distinct_texts,
        |  n_docs - n_distinct_texts AS dup_docs,
        |  ((n_docs - n_distinct_texts) * 1000000) // n_docs AS dup_ppm,
        |  n_tokens, n_tokens // n_docs AS mean_tokens, n_chars
        |FROM (
        |  SELECT COUNT(*) AS n_docs,
        |    COUNT(DISTINCT source) AS n_sources,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    COUNT(DISTINCT md5(text)) AS n_distinct_texts,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM documents)""".stripMargin
    )
  )

  /** Sample budget [[apportion]] distributes across sources — 100 keeps
    * every quota ≤ its stratum size at all fixture SFs (a without-
    * replacement sampler's precondition).
    */
  private[graft] val ApportionBudget = 100L

  /** Largest-remainder (Hamilton) apportionment of a fixed sample budget
    * across sources — the EXACT integer quota allocation a stratified
    * sampler or eval-set builder runs before drawing: quota_s =
    * ⌊N·n_s/total⌋ plus one bonus seat for the N − Σ⌊·⌋ largest
    * remainders (ties to the lexicographically first source). Naive
    * per-stratum rounding drifts by up to ±|S| samples; Hamilton quotas
    * sum to N exactly, by construction — the property SamplingSpec pins.
    * Complements [[stratifiedSample]] (fixed per-stratum cap) and
    * [[mixSchedule]] (ppm weights): this is the one that turns shares
    * into integer draw counts.
    *
    * Scale shape: ONE documents scan collapses to the |sources| grain
    * (partial+final count); everything after is metadata-sized — the
    * total and the leftover-seat count are 1-row broadcasts, and the
    * remainder rank is the triangular broadcast self-join (|S|² pairs)
    * the house uses instead of a keyless window. All-integer (BIGINT
    * div/mod), so quotas hash exactly cross-engine.
    */
  val apportion: Q = Q(
    "q_apportion",
    (s, dir) => {
      val c = Tables(s, dir).documents
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      val base = graft.core.Cached.frame(
        c.crossJoin(broadcast(c.agg(sum("n_docs").as("total"))))
          .select(
            col("source"),
            col("n_docs"),
            col("total"),
            expr(s"(${ApportionBudget}L * n_docs) div total").as("fq"),
            expr(s"(${ApportionBudget}L * n_docs) % total").as("rem")
          )
      )
      val leftover = base.agg((lit(ApportionBudget) - sum("fq")).as("r"))
      val lo       = base.select(col("source").as("s2"), col("rem").as("rem2"))
      base
        .join(
          broadcast(lo),
          col("rem2") > col("rem") ||
            (col("rem2") === col("rem") && col("s2") < col("source")),
          "left"
        )
        .groupBy("source", "n_docs", "total", "fq")
        .agg(count(col("s2")).as("ahead"))
        .crossJoin(broadcast(leftover))
        .select(
          col("source"),
          col("n_docs"),
          expr("(n_docs * 1000000L) div total").as("share_ppm"),
          (col("fq") + when(col("ahead") < col("r"), lit(1L)).otherwise(lit(0L))).as("quota")
        )
        .orderBy("source")
    },
    Some(
      s"""WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c),
         |b AS (SELECT source, n_docs, total,
         |        ($ApportionBudget * n_docs) // total AS fq,
         |        ($ApportionBudget * n_docs) % total AS rem
         |      FROM c, t),
         |r AS (SELECT CAST($ApportionBudget - SUM(fq) AS BIGINT) AS r FROM b),
         |rk AS (SELECT b.*,
         |        (SELECT COUNT(*) FROM b b2
         |         WHERE b2.rem > b.rem OR (b2.rem = b.rem AND b2.source < b.source)) AS ahead
         |       FROM b)
         |SELECT source, n_docs, (n_docs * 1000000) // total AS share_ppm,
         |  CAST(fq + CASE WHEN ahead < (SELECT r FROM r) THEN 1 ELSE 0 END AS BIGINT) AS quota
         |FROM rk ORDER BY source""".stripMargin
    )
  )

  // ---- chained Engine-job curation DAG (q_pipeline_e2e) -------------------

  /** Per-source sample cap of the mix stage and token size of a pack —
    * shared by the staged jobs and the oracle replay below.
    */
  private[graft] val PipeMixCap     = 30
  private[graft] val PipePackTokens = 256L

  /** Stage-1 PER-ROW admission predicate (language heuristic + quality
    * gate) — the ONE definition the batch stage job and the oracle
    * fragment share. Every term reads only the row's own text.
    */
  private[graft] def cleanGate: org.apache.spark.sql.Column = {
    val toks = split(lower(col("text")), " ", -1)
    val langOk = size(toks) > 0 &&
      size(filter(toks, x => x.isInCollection(StopWords))).cast("double") / size(toks) >= 0.03
    val nTok  = size(split(col("text"), " ", -1))
    val punct = length(col("text")) - length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))
    langOk && nTok.between(5, 10000) && punct.cast("double") / length(col("text")) < 0.1
  }

  /** Batch stage 1: [[cleanGate]] plus corpus-wide exact dedup (keep the
    * min doc_id per fingerprint) — the body of the first chained job.
    */
  private[graft] def cleanStage(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("fp", Fingerprint.of(col("text")))
      .withColumn("exact_keep", min("doc_id").over(Window.partitionBy("fp")) === col("doc_id"))
      .filter(cleanGate && col("exact_keep"))
      .select("doc_id", "source", "lang", "text")

  /** The full curation pipeline as CHAINED [[graft.api.Engine]] jobs with
    * parquet intermediate artifacts — the production shape, and the one
    * runtime feature the reference's job server distinguishes itself by
    * (FIFO multi-job queue, `/root/reference/mapreduce/manager/__main__.py:
    * 278-291`): clean → segment-dedup → near-dup → mix → pack → dataset
    * card, each stage a queued `submitStage` job that reads ONLY the
    * previous job's artifact. FIFO ordering IS the dependency order, so no
    * extra coordination exists anywhere — exactly how the reference chains
    * MapReduce jobs through its manager queue.
    *
    * Stage semantics reuse the registered per-stage operators' exact
    * expressions (clean = q_clean_corpus's lang/quality/exact gates;
    * segment dedup = q_segment_dedup's 8-word first-occurrence rule;
    * near-dup = the MinHash band + exact-Jaccard verify at 0.2 — run
    * UNCOLLAPSED because stage 1 already exact-deduped the corpus, which
    * also pre-strips the hot-corpus pathology; mix = per-source md5-order
    * cap, q_stratified_sample's determinism; pack = per-source running
    * token count into [[PipePackTokens]]-token bins). Note the stage
    * ORDER: segment dedup runs BEFORE near-dup — the C4/CCNet ordering
    * StressSpec proves defuses the boilerplate band-saturation pathology.
    *
    * Returns one [[graft.api.JobResult]] per stage (EngineSpec asserts the
    * queue actually serialized them). At 100 TB each stage is an
    * independent Spark job whose artifact is a partitioned parquet
    * dataset; the queue shape is unchanged.
    */
  private[graft] def pipelineJobs(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      work: String): Seq[graft.api.JobResult] = {
    val a1 = s"$work/s1_clean"
    val a2 = s"$work/s2_segdedup"
    val a3 = s"$work/s3_neardup"
    val a4 = s"$work/s4_mix"
    val a5 = s"$work/s5_pack"
    val a6 = s"$work/s6_card"
    val eng  = new graft.api.Engine(s)
    val jobs = scala.collection.mutable.ArrayBuffer.empty[scala.concurrent.Future[graft.api.JobResult]]
    try {
      jobs += eng.submitStage { sp =>
        cleanStage(Tables(sp, dir).documents).write.mode("overwrite").parquet(a1)
        Seq(a1)
      }
      jobs += eng.submitStage { sp =>
        val cleaned = Tables.read(sp, a1)
        val segs = graft.core.Cached.frame(
          cleaned
            .select(col("doc_id"), split(col("text"), " ").as("words"))
            .select(
              col("doc_id"),
              posexplode(
                expr(
                  "transform(sequence(0, (size(words)+7) div 8 - 1)," +
                    " i -> array_join(slice(words, cast(i*8+1 as int), 8), ' '))"
                )
              ).as(Seq("seg_no", "seg"))
            )
        )
        val winners = segs
          .groupBy(col("seg").as("w_seg"))
          .agg(min(struct(col("doc_id"), col("seg_no"))).as("w"))
          .select(col("w_seg"), col("w.doc_id").as("w_doc"), col("w.seg_no").as("w_no"))
        val kept = segs
          .join(
            winners,
            col("seg") === col("w_seg") && col("doc_id") === col("w_doc") &&
              col("seg_no") === col("w_no"),
            "left_semi"
          )
          .groupBy("doc_id")
          .agg(
            array_join(
              transform(array_sort(collect_list(struct(col("seg_no"), col("seg")))), _.getField("seg")),
              " "
            ).as("seg_text")
          )
        // inner join: a doc whose every segment occurred earlier keeps
        // nothing and leaves the corpus here
        cleaned
          .select("doc_id", "source", "lang")
          .join(kept, "doc_id")
          .select(col("doc_id"), col("source"), col("lang"), col("seg_text").as("text"))
          .write.mode("overwrite").parquet(a2)
        segs.unpersist()
        Seq(a2)
      }
      jobs += eng.submitStage { sp =>
        val s2docs = Tables.read(sp, a2)
        val drops = Dedup
          .nearDuplicatesUncollapsed(s2docs.select("doc_id", "text"), 1, 5)
          .select(col("d2").as("doc_id"))
          .distinct()
        s2docs
          .join(drops, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(a3)
        Seq(a3)
      }
      jobs += eng.submitStage { sp =>
        val h = md5(col("doc_id").cast("string").cast("binary"))
        val w = Window.partitionBy("source").orderBy(h, col("doc_id"))
        Tables.read(sp, a3)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= PipeMixCap)
          .select(
            col("doc_id"),
            col("source"),
            col("lang"),
            col("text"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tok")
          )
          .write.mode("overwrite").parquet(a4)
        Seq(a4)
      }
      jobs += eng.submitStage { sp =>
        val w = Window
          .partitionBy("source")
          .orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.read(sp, a4)
          .withColumn("before", coalesce(sum("n_tok").over(w), lit(0L)))
          .select(
            col("source"),
            col("doc_id"),
            col("n_tok"),
            expr(s"before div $PipePackTokens").as("pack_id")
          )
          .write.mode("overwrite").parquet(a5)
        Seq(a5)
      }
      jobs += eng.submitStage { sp =>
        val nInput    = Tables(sp, dir).documents.count()
        val nClean    = Tables.read(sp, a1).count()
        val nSegdedup = Tables.read(sp, a2).count()
        val nNeardup  = Tables.read(sp, a3).count()
        Tables.read(sp, a5)
          .agg(
            count(lit(1)).as("n_mix"),
            countDistinct(col("source"), col("pack_id")).as("n_packs"),
            sum("n_tok").as("n_tokens"),
            countDistinct(col("source")).as("n_sources")
          )
          .select(
            lit(nInput).as("n_input"),
            lit(nClean).as("n_clean"),
            lit(nSegdedup).as("n_segdedup"),
            lit(nNeardup).as("n_neardup"),
            col("n_mix"),
            col("n_packs"),
            col("n_tokens"),
            col("n_sources")
          )
          .write.mode("overwrite").parquet(a6)
        Seq(a6)
      }
      eng.await()
    } finally eng.close()
    jobs.map(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)).toSeq
  }

  /** Per-JVM memo of this file's on-disk artifacts, keyed on their
    * [[graft.core.SessionArtifact.pathFor]] path. The staged pipeline's
    * six-job DAG (near-dup verify, six parquet writes) executes ONCE per
    * (session, fixture dir) — every later invocation of the query function
    * (bench reps, plan-fingerprint passes, repeated tests) reads the
    * existing s6_card artifact, the same warm-up discipline as the other
    * offline-artifact queries (ADVICE r11); Bench attributes the one
    * staged run to its `artifacts` accounting via warmUp's
    * `pipeline_stages` build. q_contamination's salted expansion is
    * written once per (plan, spread threshold).
    */
  private val artifacts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.FutureTask[String]]()

  /** Run (or reuse) the staged pipeline for this session + fixture dir,
    * returning the work root holding s1_clean..s6_card.
    */
  private[graft] def stagedWorkFor(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val work = graft.core.SessionArtifact.pathFor("graft-pipeline", dir)
    graft.core.SessionArtifact.memo(artifacts, work) { pipelineJobs(s, dir, work); work }
  }

  /** End-to-end staged curation run, hash-checked: the DAG above executes
    * through the Engine queue at query time (eager, the bpeTrain driver-
    * loop precedent; once per session via [[stagedWorkFor]]) and the
    * registered result is the FINAL dataset card — per-stage survivor
    * counts plus pack/token totals, all integers. The oracle replays every
    * stage's semantics as one unrolled CTE chain over the same fixture.
    */
  val pipelineE2E: Q = Q(
    "q_pipeline_e2e",
    (s, dir) => Tables.read(s, s"${stagedWorkFor(s, dir)}/s6_card"),
    Some(
      s"""WITH lng AS (
         |  SELECT doc_id,
         |    (tok_cnt > 0 AND CAST(stop_cnt AS DOUBLE) / tok_cnt >= 0.03) AS lang_ok
         |  FROM (
         |    SELECT doc_id, COUNT(*) AS tok_cnt,
         |      CAST(SUM(CASE WHEN w IN $StopList THEN 1 ELSE 0 END) AS BIGINT) AS stop_cnt
         |    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
         |    GROUP BY doc_id)),
         |qual AS (
         |  SELECT doc_id,
         |    (len(string_split(text, ' ')) BETWEEN 5 AND 10000 AND
         |     CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |       / length(text) < 0.1) AS quality_ok
         |  FROM documents),
         |fpx AS (
         |  SELECT doc_id,
         |    MIN(doc_id) OVER (PARTITION BY ${Fingerprint.sql}) = doc_id AS exact_keep
         |  FROM documents),
         |s1 AS (
         |  SELECT d.doc_id, d.source, d.lang, d.text
         |  FROM documents d
         |  JOIN lng USING (doc_id) JOIN qual USING (doc_id) JOIN fpx USING (doc_id)
         |  WHERE lang_ok AND quality_ok AND exact_keep),
         |segs AS (
         |  SELECT doc_id,
         |         unnest(range((len(words)+7)//8)) AS seg_no,
         |         unnest(list_transform(range((len(words)+7)//8),
         |                i -> array_to_string(words[i*8+1 : i*8+8], ' '))) AS seg
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM s1)),
         |wins AS (
         |  SELECT doc_id, seg_no, seg,
         |         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) AS rn
         |  FROM segs),
         |kept AS (
         |  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_no) AS text
         |  FROM wins WHERE rn = 1 GROUP BY doc_id),
         |s2 AS (SELECT s1.doc_id, s1.source, s1.lang, kept.text FROM s1 JOIN kept USING (doc_id)),
         |sig AS (${Dedup.sqlSigOver("s2")}),
         |bands AS (${Dedup.sqlBands}),
         |cand AS (${Dedup.sqlCand}),
         |sets AS (${Dedup.sqlSetsOver("s2")}),
         |pairs AS (${Dedup.sqlPairs(0.2)}),
         |drops AS (SELECT DISTINCT d2 AS doc_id FROM pairs),
         |s3 AS (SELECT s2.* FROM s2 LEFT JOIN drops USING (doc_id) WHERE drops.doc_id IS NULL),
         |s4 AS (
         |  SELECT doc_id, source, lang, text,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM (
         |    SELECT s3.*, ROW_NUMBER() OVER (PARTITION BY source
         |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |    FROM s3)
         |  WHERE rn <= $PipeMixCap),
         |s5 AS (
         |  SELECT source, doc_id, n_tok,
         |    COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $PipePackTokens AS pack_id
         |  FROM s4)
         |SELECT
         |  (SELECT COUNT(*) FROM documents) AS n_input,
         |  (SELECT COUNT(*) FROM s1) AS n_clean,
         |  (SELECT COUNT(*) FROM s2) AS n_segdedup,
         |  (SELECT COUNT(*) FROM s3) AS n_neardup,
         |  (SELECT COUNT(*) FROM s5) AS n_mix,
         |  (SELECT COUNT(*) FROM (SELECT DISTINCT source, pack_id FROM s5)) AS n_packs,
         |  (SELECT CAST(SUM(n_tok) AS BIGINT) FROM s5) AS n_tokens,
         |  (SELECT COUNT(DISTINCT source) FROM s5) AS n_sources""".stripMargin
    )
  )

  val all: Seq[Q] =
    Seq(splitAssign, cleanCorpus, piiScrub, stratifiedSample, domainMix, tokenBudget,
      seqPack, contamination, segmentDedup, chunkOverlap, weightedSample, mixSchedule,
      mixTemperature, decontamNgram, cleanFunnel, epochPlan, datasetCard, apportion,
      pipelineE2E)
}
