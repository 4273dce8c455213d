package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The reference's two demo workloads (SURVEY.md §2.2) re-expressed natively,
  * plus the text-analysis extension surface (language-ID heuristic, quality
  * scoring, token counting, document fingerprinting) over `documents`.
  *
  * word_count reproduces the wc_map.sh semantics
  * (`/root/reference/tests/testdata/exec/wc_map.sh:12`): split on the tr set
  * `[ \t]` — whose brackets are themselves set members, an artifact kept
  * deliberately — lowercase, and KEEP empty tokens (an empty input line maps
  * to the empty-string key; asserted in the reference's
  * `tests/test_worker_05.py:113-115`).
  *
  * grep reproduces grep_map.py/grep_reduce.py
  * (`/root/reference/tests/testdata/exec/grep_map.py:27`): case-insensitive
  * substring filter + projection of the matching line.
  *
  * Scale notes: every query here is a narrow scan→project stage followed by
  * at most one hash-aggregate exchange; token explosion happens map-side and
  * feeds partial aggregation, so the shuffle carries (word, partial_count)
  * not raw tokens.
  */
object TextQueries {

  /** Reference-faithful tokenizer split class (space, tab, '[', ']'). */
  private val WcSplit = """[ \t\[\]\n]"""

  val wordCount: Q = Q(
    "word_count",
    (s, dir) =>
      Tables(s, dir).documents
        .select(explode(split(lower(col("text")), WcSplit, -1)).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("word"),
    Some(
      """SELECT w AS word, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(lower(text), '[ \t\[\]\n]')) AS w FROM documents)
        |GROUP BY w ORDER BY w""".stripMargin
    )
  )

  val grep: Q = Q(
    "grep",
    (s, dir) =>
      Tables(s, dir).documents
        .filter(lower(col("text")).contains("join"))
        .select("doc_id", "text")
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id, text FROM documents
        |WHERE contains(lower(text), 'join') ORDER BY doc_id""".stripMargin
    )
  )

  /** Per-(lang, source) corpus statistics: doc/char/token counts. Exact int
    * aggregates; the mean is one double division of exact ints.
    */
  val textStats: Q = Q(
    "q_text_stats",
    (s, dir) =>
      Tables(s, dir).documents
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"),
          sum(size(split(col("text"), " ", -1)).cast("long")).as("sum_tokens")
        )
        .orderBy("lang", "source"),
    Some(
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin
    )
  )

  // q_langid's stopwords (and their oracle SQL list), shared with Pipeline's gates
  private[queries] val StopWords = Seq("the", "of", "and", "to", "in", "a", "is")
  private[queries] val StopList  = StopWords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** N-gram/stopword language-ID heuristic: fraction of whitespace tokens
    * that are common English function words. Declarative: token explode →
    * conditional count → ratio, all codegen'd; no UDF.
    */
  val langId: Q = Q(
    "q_langid",
    (s, dir) => {
      val toks = split(lower(col("text")), " ", -1)
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          size(toks).cast("long").as("tok_cnt"),
          size(filter(toks, x => x.isInCollection(StopWords))).cast("long").as("stop_cnt")
        )
        .withColumn("stop_ratio", col("stop_cnt").cast("double") / col("tok_cnt"))
        .withColumn(
          "lang_pred",
          when(col("tok_cnt") > lit(0) && col("stop_ratio") >= 0.03, "en").otherwise("unk")
        )
        .orderBy("doc_id")
    },
    Some(
      s"""SELECT doc_id, tok_cnt, stop_cnt,
         |  CAST(stop_cnt AS DOUBLE) / tok_cnt AS stop_ratio,
         |  CASE WHEN tok_cnt > 0 AND CAST(stop_cnt AS DOUBLE) / tok_cnt >= 0.03
         |       THEN 'en' ELSE 'unk' END AS lang_pred
         |FROM (
         |  SELECT doc_id, COUNT(*) AS tok_cnt,
         |         CAST(SUM(CASE WHEN w IN $StopList THEN 1 ELSE 0 END) AS BIGINT) AS stop_cnt
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
         |        FROM documents)
         |  GROUP BY doc_id)
         |ORDER BY doc_id""".stripMargin
    )
  )

  /** Quality scoring: length / punctuation / token-count heuristics used to
    * filter training corpora. Per-row arithmetic only — no double aggregation
    * — so values are bit-identical across engines.
    */
  val quality: Q = Q(
    "q_quality",
    (s, dir) => {
      val d = Tables(s, dir).documents
      d.select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_chars"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tok"),
        (length(col("text")) - length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")))
          .cast("long")
          .as("punct_cnt")
      ).withColumn("punct_ratio", col("punct_cnt").cast("double") / col("len_chars"))
        .withColumn(
          "keep",
          when(col("n_tok").between(5, 10000) && col("punct_ratio") < 0.1, 1).otherwise(0)
        )
        .orderBy("doc_id")
    },
    Some(
      """SELECT *,
        |  CASE WHEN n_tok BETWEEN 5 AND 10000 AND punct_ratio < 0.1
        |       THEN 1 ELSE 0 END AS keep
        |FROM (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS punct_cnt,
        |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** BPE-ish token counting: alpha runs, digit runs, and single
    * non-alphanumeric symbols each count as one token.
    */
  val tokenCount: Q = Q(
    "q_token_count",
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
            .cast("long")
            .as("n_bpe_tok")
        )
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tok
        |FROM documents ORDER BY doc_id""".stripMargin
    )
  )

  /** Document fingerprint: the shared [[Fingerprint]] exact-dedup key
    * (same expression as [[graft.ext.Dedup.dedupExact]]).
    */
  val fingerprint: Q = Q(
    "q_fingerprint",
    (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), Fingerprint.of(col("text")).as("fp"))
        .orderBy("doc_id"),
    Some(
      s"""SELECT doc_id, ${Fingerprint.sql} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin
    )
  )

  /** TF-IDF term scoring: top-3 terms per document. The IDF is the
    * INTEGER-SCALED ratio `(1e6 * n_docs) div df` rather than `ln(N/df)` —
    * cross-engine `ln` is libm-dependent (Java Math.log and DuckDB's libm
    * may differ by 1 ulp), while integer division is bit-identical in both
    * engines; the induced ranking is the same (x ↦ ln is monotone in N/df).
    * Shape at 100 TB: tf and df are partial+final hash aggs shuffling on
    * (doc, term)/(term); the scoring join shuffles on term; the top-3 window
    * partitions by doc_id — no global sort, no driver collection.
    */
  val tfidf: Q = Q(
    "q_tfidf",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      // one row per (doc_id, term): the retrieval family's shared grain —
      // df, dl, and totals are all reaggregations of it, NOT second
      // scan+explodes of the corpus text (at 100 TB that would be a full
      // extra pass). The reaggregation only avoids that pass if tf is
      // MATERIALIZED: tf is referenced twice (df derivation + the score
      // join) and Catalyst does not dedup common subtrees, so an
      // unpersisted tf re-explodes the corpus (ScanAuditSpec measured the
      // double pass). Spark's CacheManager keys on the logical plan, so
      // q_bm25's identical lineage hits the same cache entry.
      val tf = docTermTf(docs)
      graft.core.Cached.frame(tf)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w     = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("score", col("tf") * expr("(1000000L * n_docs) div df"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * ((1000000 * n.n_docs) // df.df) AS score
        |  FROM tf JOIN df USING (term), n),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tf, df, score
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
    )
  )

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1): per document,
    * the duplicate-word fraction, the most-frequent-word share, and the
    * duplicate-bigram fraction — the repetition gates a quality pipeline
    * applies after [[quality]]'s length/punctuation gates. All three are
    * single IEEE divisions of exact integer counts, so they hash-match
    * cross-engine.
    *
    * Shape (round 17, guide §2.4 "remove shuffles outright"): every
    * statistic is PER-DOCUMENT, so nothing needs to leave the row — the
    * previous two explode→(doc,token) groupBy chains shuffled the whole
    * token grain twice and joined the halves back (4 exchanges + a join;
    * StageProbe r17 measured ~90% of the query's wall there). All five
    * values now fold over the in-row token array: counts via
    * `size`/`array_distinct`, the max word multiplicity as a run-length
    * `aggregate` over the SORTED array (exact: equal tokens are adjacent
    * after `array_sort`), bigrams via the same shifted-slice `zip_with`
    * (an `element_at(toks, i)` lambda would re-split the text per element —
    * the O(tokens²) HOF trap). Zero exchanges before the verification
    * sort, at any corpus scale. Docs with <2 tokens keep their null
    * bigram stats via the guarded `when`. Null-text docs are dropped, as
    * in the oracle, where unnesting a NULL split yields no rows.
    */
  val repetition: Q = Q(
    "q_repetition",
    (s, dir) => {
      // Spread before the per-row folds (the r16 single-row-group lesson):
      // the fixture scan plans ONE task, and with every statistic now
      // computed in-row the whole query would serialize on one core
      // (StageProbe r17: 0.58 s + 0.84 s single-task stages).
      val docs = graft.core.Width.compute(
        Tables(s, dir).documents
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("text")))
      val toks = split(lower(col("text")), " ", -1)
      // max multiplicity = longest equal-run in the sorted array: fold
      // (prev, run, top) over elements; exact integer, matches max(count)
      val top = aggregate(
        array_sort(toks),
        struct(
          lit(null).cast("string").as("prev"),
          lit(0L).as("run"),
          lit(0L).as("top")
        ),
        (acc, x) => {
          val run =
            when(x === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"), greatest(acc.getField("top"), run).as("top"))
        },
        acc => acc.getField("top")
      )
      val bigrams = zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)
      )
      val nWords = size(toks).cast("long")
      val nDist  = size(array_distinct(toks)).cast("long")
      val nBi    = (size(toks) - 1).cast("long")
      val ndBi   = size(array_distinct(bigrams)).cast("long")
      docs
        .select(
          col("doc_id"),
          nWords.as("n_words"),
          ((nWords - nDist).cast("double") / nWords).as("dup_word_frac"),
          (top.cast("double") / nWords).as("top_word_frac"),
          when(size(toks) >= 2, (nBi - ndBi).cast("double") / nBi)
            .otherwise(lit(null).cast("double"))
            .as("dup_bigram_frac")
        )
        .orderBy("doc_id")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
        |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |words AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |         COUNT(*) AS n_distinct, MAX(c) AS top_cnt
        |  FROM wc GROUP BY 1),
        |tl AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
        |bi AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(l) - 1),
        |                          i -> l[i] || ' ' || l[i + 1])) AS g
        |  FROM tl),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2),
        |bis AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bi, COUNT(*) AS nd_bi
        |        FROM bc GROUP BY 1)
        |SELECT w.doc_id, n_words,
        |  CAST(n_words - n_distinct AS DOUBLE) / n_words AS dup_word_frac,
        |  CAST(top_cnt AS DOUBLE) / n_words AS top_word_frac,
        |  CAST(n_bi - nd_bi AS DOUBLE) / n_bi AS dup_bigram_frac
        |FROM words w LEFT JOIN bis USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** Cross-document n-gram novelty: the fraction of each document's
    * DISTINCT 3-word shingles that appear in no other document — the
    * inter-doc complement of [[repetition]]'s intra-doc signals (a document
    * can be internally clean yet wholly assembled from corpus boilerplate).
    * Derives from the same cached shingle-set table as the dedup family
    * ([[graft.ext.Dedup.shingleSets]]), so the corpus is scanned once; the
    * gram-frequency table shuffles on the gram key with partial counts, and
    * the join back is gram-keyed — the same bounded shape at 100 TB as the
    * TF-IDF document-frequency pass. Docs with <3 tokens have no shingles
    * and drop out (mirrored by unnest on both sides).
    */
  val ngramNovelty: Q = Q(
    "q_ngram_novelty",
    (s, dir) => {
      val dg = graft.ext.Dedup
        .shingleSets(Tables(s, dir).documents)
        .select(col("doc_id"), explode(col("sset")).as("g"))
      val gdf = dg.groupBy("g").agg(count(lit(1)).as("n_docs_g"))
      dg.join(gdf, "g")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_grams"),
          sum(when(col("n_docs_g") >= 2, 1L).otherwise(0L)).as("n_shared")
        )
        .withColumn("novelty", lit(1.0) - col("n_shared").cast("double") / col("n_grams"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH sets AS (${graft.ext.Dedup.sqlSets}),
         |dg AS (SELECT doc_id, unnest(sset) AS g FROM sets),
         |gdf AS (SELECT g, COUNT(*) AS n_docs_g FROM dg GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN n_docs_g >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  1.0 - CAST(SUM(CASE WHEN n_docs_g >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
         |FROM dg JOIN gdf USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    )
  )

  /** Character-bigram language-model scoring — the model-based quality
    * filter (CCNet/Gopher-style "perplexity vs a reference LM" gate) in a
    * cross-engine-hashable form. The corpus itself is the model: bigram
    * probability p(c₂|c₁) = count(c₁c₂)/count(c₁·), and each document is
    * scored by its mean per-bigram surprisal, so boilerplate-like text
    * (high-probability transitions) scores low and noise scores high.
    *
    * Determinism: true surprisal is −ln p — libm territory. Here the
    * surprisal is BUCKETED to integer bits: `floor(log₂(c₁·2²⁰ ÷ c₁₂))`,
    * computed as `length(bin(ratio)) − 1` — pure integer division plus a
    * binary-string length, bit-identical in any engine (the same monotone
    * dodge as q_tfidf's integer-scaled IDF). Resolution is ±0.5 bit per
    * bigram; averaged over a document's hundreds of bigrams the score
    * ranks documents essentially as the float LM would, and a production
    * consumer free of cross-engine hashing would swap in float `ln`
    * unchanged. (`score_scaled` = mean bits/bigram × 10⁶.)
    *
    * Scale shape: the doc×bigram tf grain is computed INSIDE the scan
    * stage by the native [[graft.functions.BigramTf]] expression (one
    * fused pass per string, map<bigram,count> out), so no per-character
    * row ever exists: the exploded tf table is one row per distinct
    * (doc, bigram) — alphabet²-bounded per document — and needs no
    * aggregation exchange at all. The model derives from tf by
    * reaggregation — never a second corpus scan — and is alphabet²-bounded
    * (a few thousand rows at any corpus size), so scoring is a broadcast
    * join back onto tf. (The prior declarative formulation — per-char
    * `split`, two `slice`s, `arrays_zip`, a HigherOrderFunction `concat`,
    * then explode + groupBy — evaluated the lambda interpreted per
    * character and shuffled one row per character: 4× this version's
    * wall-time at sf0.1, and a corpus-character-count exchange at 100 TB.)
    * Overflow bound: c₁·2²⁰ < 2⁶³ holds through
    * ~8×10¹² model chars (≈ 8 TB of text); beyond that, shard the model
    * or drop the scale to 2¹⁰.
    */
  /** Doc×bigram term frequencies — the LM-scoring family's shared cache
    * (the reference-LM analog of [[graft.ext.Dedup.shingleSets]]; Bench
    * warm-up materializes it as the offline model-build step). Catalyst
    * does not dedup common subtrees: without the persist, the
    * scan+explode lineage would execute TWICE per query (model derivation
    * and scoring). Spark's CacheManager dedupes identical plans, so all
    * executions in a session share one entry per fixture dir.
    */
  def bigramTf(docs: DataFrame): DataFrame =
    graft.core.Cached.frame(
      docs.select(
        col("doc_id"),
        explode(call_function("graft_bigram_tf", lower(col("text")))).as(Seq("bg", "tf"))
      )
    )

  val lmScore: Q = Q(
    "q_lm_score",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val tf   = bigramTf(docs)
      val c12 = tf.groupBy("bg").agg(sum("tf").as("c12"))
      val c1 = c12
        .groupBy(substring(col("bg"), 1, 1).as("c"))
        .agg(sum("c12").as("c1"))
      val model = c12
        .join(c1, substring(col("bg"), 1, 1) === col("c"))
        .withColumn("bits", length(bin(expr("(c1 * 1048576) div c12"))) - 1)
        .select("bg", "bits")
      tf.join(broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(
          sum("tf").as("n_bigrams"),
          sum(col("tf") * col("bits")).as("bits_total")
        )
        .withColumn("score_scaled", expr("(bits_total * 1000000) div n_bigrams"))
        .orderBy("doc_id")
    },
    Some(
      """WITH ch AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(length(lower(text)) - 1, 0) + 1),
        |                   i -> substr(lower(text), CAST(i AS INT), 2)) AS bgs
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, bg, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(bgs) AS bg FROM ch) GROUP BY 1, 2),
        |c12 AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS c12 FROM tf GROUP BY 1),
        |c1 AS (SELECT substr(bg, 1, 1) AS c, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        |model AS (
        |  SELECT bg, CAST(length(bin((c1 * 1048576) // c12)) - 1 AS INT) AS bits
        |  FROM c12 JOIN c1 ON substr(bg, 1, 1) = c)
        |SELECT tf.doc_id,
        |  CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(tf * bits) AS BIGINT) AS bits_total,
        |  CAST((SUM(tf * bits) * 1000000) // SUM(tf) AS BIGINT) AS score_scaled
        |FROM tf JOIN model USING (bg)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )
  )

  /** Surprisal bits charged for a bigram ABSENT from the target model —
    * the deterministic stand-in for DSIR's smoothing: the conditional
    * surprisal `log2(c1·2²⁰ div c12)` maxes out near 20 bits at c12=1, so
    * 24 pins "unseen" strictly above every seen bigram in both engines.
    */
  private[graft] val DsirUnseenBits = 24

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public method): each
    * document scores the average per-bigram log-likelihood RATIO between a
    * target-domain char-bigram model (here: the `lang='en'` subset, the
    * "select English-like text" task) and the raw-corpus model. Positive
    * ⇒ the doc looks more like the target than like the corpus average —
    * exactly the ranking signal importance resampling draws against.
    *
    * Cross-engine determinism: both models reuse [[lmScore]]'s pinned
    * integer surprisal (`length(bin((c1·2²⁰) div c12)) - 1` bits);
    * target-unseen bigrams charge the pinned [[DsirUnseenBits]]; and the
    * final per-bigram average is computed SIGN-SAFELY (negate-divide-
    * negate) because Spark's `div` truncates toward zero while DuckDB's
    * `//` floors — they agree only on non-negative operands.
    *
    * Scale shape: both models reaggregate the ONE cached [[bigramTf]]
    * grain (shared with q_lm_score — zero extra corpus scans); each model
    * is alphabet²-bounded and broadcast back; the per-doc aggregate is
    * partial+final over the tf grain. At 100 TB: one corpus-sized shuffle
    * (the doc_id groupBy), everything else metadata.
    */
  val dsirWeights: Q = Q(
    "q_dsir_weights",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val tf   = bigramTf(docs)
      def model(grain: DataFrame): DataFrame = {
        val c12 = grain.groupBy("bg").agg(sum("tf").as("c12"))
        val c1  = c12.groupBy(substring(col("bg"), 1, 1).as("c")).agg(sum("c12").as("c1"))
        c12
          .join(c1, substring(col("bg"), 1, 1) === col("c"))
          .withColumn("bits", length(bin(expr("(c1 * 1048576) div c12"))) - 1)
          .select("bg", "bits")
      }
      val raw = model(tf).withColumnRenamed("bits", "bits_r")
      val tgt = model(
        tf.join(docs.filter(col("lang") === "en").select("doc_id"), "doc_id")
      ).withColumnRenamed("bits", "bits_t")
      tf.join(broadcast(raw), "bg")
        .join(broadcast(tgt), Seq("bg"), "left")
        .groupBy("doc_id")
        .agg(
          sum("tf").as("n_bigrams"),
          sum(col("tf") * (col("bits_r") - coalesce(col("bits_t"), lit(DsirUnseenBits))))
            .as("delta_bits")
        )
        .withColumn(
          "dsir_ppm",
          when(col("delta_bits") >= 0, expr("(delta_bits * 1000000L) div n_bigrams"))
            .otherwise(-expr("((-delta_bits) * 1000000L) div n_bigrams"))
        )
        .orderBy("doc_id")
    },
    Some(
      s"""WITH ch AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(length(lower(text)) - 1, 0) + 1),
        |                   i -> substr(lower(text), CAST(i AS INT), 2)) AS bgs
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, bg, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(bgs) AS bg FROM ch) GROUP BY 1, 2),
        |c12r AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS c12 FROM tf GROUP BY 1),
        |c1r AS (SELECT substr(bg, 1, 1) AS c, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12r GROUP BY 1),
        |br AS (
        |  SELECT bg, CAST(length(bin((c1 * 1048576) // c12)) - 1 AS INT) AS bits_r
        |  FROM c12r JOIN c1r ON substr(bg, 1, 1) = c),
        |en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |tft AS (SELECT bg, tf FROM tf JOIN en USING (doc_id)),
        |c12t AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS c12 FROM tft GROUP BY 1),
        |c1t AS (SELECT substr(bg, 1, 1) AS c, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12t GROUP BY 1),
        |bt AS (
        |  SELECT bg, CAST(length(bin((c1 * 1048576) // c12)) - 1 AS INT) AS bits_t
        |  FROM c12t JOIN c1t ON substr(bg, 1, 1) = c),
        |agg AS (
        |  SELECT tf.doc_id,
        |    CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(tf * (bits_r - COALESCE(bits_t, $DsirUnseenBits))) AS BIGINT) AS delta_bits
        |  FROM tf JOIN br USING (bg) LEFT JOIN bt USING (bg)
        |  GROUP BY 1)
        |SELECT doc_id, n_bigrams, delta_bits,
        |  CASE WHEN delta_bits >= 0 THEN (delta_bits * 1000000) // n_bigrams
        |       ELSE -(((-delta_bits) * 1000000) // n_bigrams) END AS dsir_ppm
        |FROM agg ORDER BY doc_id""".stripMargin
    )
  )

  /** Inverted index build: term → (document frequency, sorted posting
    * list) — the retrieval-index materialization step of a search/RAG
    * pipeline. The posting list is emitted as a comma-joined STRING of
    * sorted doc_ids: sortedness makes the value deterministic (Spark's
    * collect_set order is partitioning-dependent until sort_array
    * canonicalizes it), and a flat string — unlike an array column — rides
    * through any engine's hash compare. One explode + one distinct-pair
    * aggregate; the shuffle carries (term, doc_id) pairs once and the
    * posting assembly is map-side-combined per term. At 100 TB postings
    * would be delta-encoded blocks bucketed by term — the same single
    * exchange, a different sink encoding.
    */
  val invertedIndex: Q = Q(
    "q_inverted_index",
    (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("term"))
        .filter(col("term") =!= "")
        .distinct()
        .groupBy("term")
        .agg(
          count(lit(1)).as("df"),
          concat_ws(",", sort_array(collect_set(col("doc_id")))).as("postings")
        )
        .orderBy("term"),
    Some(
      """WITH td AS (
        |  SELECT DISTINCT doc_id, t AS term
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
        |  WHERE t <> '')
        |SELECT term, COUNT(*) AS df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM td GROUP BY term ORDER BY term""".stripMargin
    )
  )

  /** Higher-order array functions as a registered surface: per document,
    * tokenize once into an array and answer three questions WITHOUT
    * re-scanning the text — filter (how many long tokens), transform +
    * aggregate (total token length via a fold), exists (any numeric
    * token). These are the Catalyst lambda expressions
    * (`filter`/`transform`/`aggregate`/`exists` ≙ DuckDB
    * `list_filter`/`list_transform`/`list_sum`/`list_filter`-len) a
    * pipeline uses to keep per-row array work inside the scan stage
    * instead of exploding rows through a shuffle. Each output is a scalar
    * of exact integer arithmetic. The lambda inputs are projected
    * columns, never recomputed subtrees (the O(n²) HOF trap documented in
    * ext/Dedup).
    */
  val hofOps: Q = Q(
    "q_hof",
    (s, dir) => {
      val toks = split(lower(col("text")), " ", -1)
      Tables(s, dir).documents
        .select(col("doc_id"), toks.as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(filter(col("toks"), t => length(t) > 4)).as("n_long"),
          aggregate(transform(col("toks"), t => length(t).cast("long")), lit(0L), _ + _)
            .as("total_len"),
          exists(col("toks"), t => t.rlike("^[0-9]+$")).as("has_numeric")
        )
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  CAST(len(list_filter(toks, t -> length(t) > 4)) AS INT) AS n_long,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS total_len,
        |  len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$'))) > 0 AS has_numeric
        |FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** Vocabulary coverage curve — the tokenizer-design audit: what share
    * of all corpus tokens do the top-k vocabulary entries cover? Emitted
    * as the top-50 words by frequency with their cumulative corpus share
    * (exact integer cumulative sums; ONE division per row).
    *
    * Scale shape: only ranks ≤ 50 are emitted, so the global order is a
    * distributed TakeOrderedAndProject over the vocabulary aggregate —
    * never a keyless window, which would single-partition the whole vocab
    * (~10⁷ rows at 100 TB; the engine-wide PlanSpec pin bans the
    * pattern). Rank + running sum then walk the ≤50-row tail on one
    * coalesced partition (the [[graft.ext.Similarity]] withRank idiom:
    * coalesce(1) + sortWithinPartitions makes the order well-defined by
    * construction); the corpus-token total rides as a 1-row broadcast.
    */
  val vocabCoverage: Q = Q(
    "q_vocab_coverage",
    (s, dir) => {
      val counts = Tables(s, dir).documents
        .select(explode(split(lower(col("text")), " ", -1)).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum("cnt").as("total"))
      val top = counts
        .orderBy(col("cnt").desc, col("word"))
        .limit(50)
        .crossJoin(broadcast(total)) // 1-row scalar broadcast
        .coalesce(1)
        .sortWithinPartitions(col("cnt").desc, col("word"))
        .select("word", "cnt", "total")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("word", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cnt", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cum_share", org.apache.spark.sql.types.DoubleType, nullable = false)
      ))
      val ranked = top.rdd.mapPartitions { it =>
        var rank = 0L
        var cum  = 0L
        it.map { r =>
          rank += 1
          cum += r.getLong(1)
          org.apache.spark.sql.Row(rank, r.getString(0), r.getLong(1), cum.toDouble / r.getLong(2))
        }
      }
      s.createDataFrame(ranked, schema).orderBy("rank")
    },
    Some(
      """WITH counts AS (
        |  SELECT w AS word, COUNT(*) AS cnt
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
        |ranked AS (
        |  SELECT word, cnt,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank,
        |    SUM(cnt) OVER (ORDER BY cnt DESC, word
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
        |  FROM counts)
        |SELECT rank, word, cnt, CAST(cum_cnt AS DOUBLE) / total AS cum_share
        |FROM ranked, t WHERE rank <= 50 ORDER BY rank""".stripMargin
    )
  )

  /** Per-source lexical diversity scorecard — type-token ratio and
    * Simpson's repeat-rate (Simpson 1949; Yule's K up to scaling), the
    * corpus-mix audit run next to the Gopher/repetition filters: a source
    * whose TTR collapses or whose repeat-rate spikes is template/boilerplate
    * text (SEO spam, log dumps, mirrored listings) that inflates token
    * counts without adding training signal, and the per-source grain is
    * what the mixture planner (q_mix_schedule) consumes to discount it.
    *
    * Cross-engine determinism: pure integer counts and ppm integer
    * division. Simpson numerator Σ n·(n−1) stays exact BIGINT while
    * Σn²·10⁶ < 2⁶³ — ≈ 3·10⁶ occurrences of the hottest term per source at
    * this scaling; beyond that production moves the final division to
    * double (the counts themselves are safe far past 100 TB).
    *
    * Scale shape: reaggregates the ONE cached [[docTermTf]] grain (no new
    * corpus scan for tokens) joined to the 2-column (doc_id, source)
    * projection; the (source, term) rollup is a partial+final sum whose
    * shuffle carries vocabulary-sized rows per source, and the scorecard is
    * a \|sources\|-row final aggregate. Denominators are guarded with
    * greatest(·, 1) in BOTH engines so a one-token source yields 0, not a
    * cross-engine null/error divergence.
    */
  val lexicalDiversity: Q = Q(
    "q_lexical_diversity",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val tf   = graft.core.Cached.frame(docTermTf(docs))
      tf.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "term")
        .agg(sum("tf").as("n"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_types"),
          sum("n").as("n_tokens"),
          sum(expr("n * (n - 1L)")).as("rep2")
        )
        .withColumn("ttr_ppm", expr("n_types * 1000000L div greatest(n_tokens, 1L)"))
        .withColumn(
          "simpson_ppm",
          expr("rep2 * 1000000L div greatest(n_tokens * (n_tokens - 1L), 1L)")
        )
        .drop("rep2")
        .orderBy("source")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |st AS (
        |  SELECT d.source, tf.term, CAST(SUM(tf.tf) AS BIGINT) AS n
        |  FROM tf JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, COUNT(*) AS n_types, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n * (n - 1)) AS BIGINT) AS rep2
        |  FROM st GROUP BY 1)
        |SELECT source, n_types, n_tokens,
        |  (n_types * 1000000) // GREATEST(n_tokens, 1) AS ttr_ppm,
        |  (rep2 * 1000000) // GREATEST(n_tokens * (n_tokens - 1), 1) AS simpson_ppm
        |FROM agg ORDER BY source""".stripMargin
    )
  )

  /** The retrieval family's shared grain: one row per (doc_id, term) with
    * its in-document count, from one scan+explode of the corpus.
    * [[tfidf]] and [[bm25]] both build exactly this lineage, so Spark's
    * plan-keyed CacheManager gives them one shared materialization.
    */
  private def docTermTf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  /** BM25 query terms: fixed literals, the retrieval benchmark's "query". */
  private val Bm25Terms = Seq("scan", "join", "window")

  /** BM25 ranked retrieval (Robertson–Spärck Jones; k1 = 1.2, b = 0.75) for
    * a fixed term set — the scoring function behind every classical search
    * stack and the hard-negative mining step of embedding-model training
    * pipelines. Top 20 documents by score.
    *
    * Cross-engine determinism: the whole score is integer arithmetic. With
    * S = total corpus tokens and N = docs, the saturation term
    * tf·(k1+1)/(tf + k1·(1−b+b·dl·N/S)) multiplied through by 10·S is the
    * integer ratio 22·S·tf / (10·S·tf + 3·S + 9·dl·N), floored at scale
    * 10³; idf is q_tfidf's integer-scaled (10⁶·N) div df. Exact BIGINT in
    * both engines (bound: 22·S·tf·10³ < 2⁶³ holds to S ≈ 4×10¹⁴ corpus
    * tokens at tf ≤ 10³; production swaps in float idf unchanged).
    *
    * Scale shape: everything derives from the ONE materialized
    * [[docTermTf]] grain (shared with q_tfidf — one corpus scan for the
    * whole retrieval family): dl and the 1-row (S, N) totals are
    * reaggregations, the query-term tf is a pushed `isin` filter over it,
    * df (≤ |terms| rows) and totals broadcast back, and the final per-doc
    * sum is a partial+final aggregate feeding TakeOrderedAndProject — the
    * shuffle carries only matched (doc_id, term_score) rows, never tokens.
    */
  /** The pre-limit BM25 per-document aggregate (doc_id, bm25_scaled,
    * terms_matched) — the shared body of [[bm25]] (top-20) and the
    * lexical leg of [[rankFusion]] (top-50 list). Keeping ONE lineage
    * means the CacheManager-shared [[docTermTf]]/dl materializations
    * serve both consumers from a single corpus scan.
    */
  private def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val tf = graft.core.Cached.frame(docTermTf(Tables(s, dir).documents))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    graft.core.Cached.frame(dl) // referenced by totals AND the score join
    val tot = dl.agg(sum("dl").as("s"), count(lit(1)).as("n"))
    val qtf = tf.filter(col("term").isin(Bm25Terms: _*))
    val dfq = qtf.groupBy("term").agg(count(lit(1)).as("df"))
    qtf
      .join(broadcast(dfq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn(
        "term_score",
        expr("((1000000L * n) div df) * ((22L * s * tf * 1000L) div (10L * s * tf + 3L * s + 9L * dl * n))")
      )
      .groupBy("doc_id")
      .agg(sum("term_score").as("bm25_scaled"), count(lit(1)).as("terms_matched"))
  }

  /** Oracle CTE chain ending in `bm` = the [[bm25Scores]] aggregate —
    * shared verbatim by the q_bm25 and q_rank_fusion oracles so the two
    * replays cannot drift apart.
    */
  private val Bm25ScoreCtes: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS s, COUNT(*) AS n FROM dl),
       |qtf AS (SELECT * FROM tf WHERE term IN ('scan', 'join', 'window')),
       |df AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY 1),
       |sc AS (
       |  SELECT qtf.doc_id,
       |    ((1000000 * tot.n) // df.df)
       |      * ((22 * tot.s * qtf.tf * 1000) // (10 * tot.s * qtf.tf + 3 * tot.s + 9 * dl.dl * tot.n))
       |      AS term_score
       |  FROM qtf JOIN df USING (term) JOIN dl USING (doc_id), tot),
       |bm AS (
       |  SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS bm25_scaled,
       |    COUNT(*) AS terms_matched
       |  FROM sc GROUP BY 1)""".stripMargin

  val bm25: Q = Q(
    "q_bm25",
    (s, dir) =>
      bm25Scores(s, dir)
        .orderBy(col("bm25_scaled").desc, col("doc_id"))
        .limit(20),
    Some(
      s"""WITH $Bm25ScoreCtes
         |SELECT doc_id, bm25_scaled, terms_matched
         |FROM bm ORDER BY bm25_scaled DESC, doc_id LIMIT 20""".stripMargin
    )
  )

  /** 1-based rank attach for an ALREADY-ORDERED ≤k-row top list — the ONE
    * engine-wide definition lives in [[graft.ext.Similarity.withRankNamed]]
    * (the heavy ordering happened upstream as a distributed
    * TakeOrderedAndProject, so rank is the row position via `zipWithIndex`
    * over the tiny result; a keyless `row_number` window would do the same
    * work while single-partitioning the frame — the pattern PlanSpec bans).
    */
  private def attachRank(ordered: DataFrame, rankCol: String, orderCols: Column*): DataFrame =
    graft.ext.Similarity.withRankNamed(ordered, rankCol, orderCols: _*)

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval legs
    * over the same fixed query — the standard hybrid-retrieval merge
    * (lexical BM25 + a second scorer) used to assemble training-data
    * retrieval pools. Leg A is [[bm25Scores]]'s top-50; leg B is the
    * query-restricted TF-IDF score (Σ tf·idf over the query terms, the
    * [[tfidf]] integer idf) top-50. RRF score = Σ_legs 10⁶ div (60 + rank)
    * with the canonical K=60; docs on one list only contribute that leg.
    *
    * Cross-engine determinism: ranks are positions in an exactly-ordered
    * integer-scored list (ties broken by doc_id), and the fused score is
    * integer division — no floats anywhere.
    *
    * Scale shape: both legs reaggregate the ONE cached [[docTermTf]]
    * grain (no extra corpus scan); each leg ends in a distributed
    * TakeOrderedAndProject(50) whose ≤50-row tail gets ranks via
    * [[attachRank]]; the fusion is a full outer join of two ≤50-row
    * frames — metadata-sized at any corpus scale.
    */
  val rankFusion: Q = Q(
    "q_rank_fusion",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val bmTop = attachRank(
        bm25Scores(s, dir)
          .orderBy(col("bm25_scaled").desc, col("doc_id"))
          .limit(50)
          .select("doc_id", "bm25_scaled"),
        "rank_bm25",
        col("bm25_scaled").desc,
        col("doc_id")
      ).select("doc_id", "rank_bm25")
      val tf    = graft.core.Cached.frame(docTermTf(docs))
      val qtf   = tf.filter(col("term").isin(Bm25Terms: _*))
      val dfq   = qtf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val tiTop = attachRank(
        qtf
          .join(broadcast(dfq), "term")
          .crossJoin(broadcast(nDocs))
          .withColumn("term_score", col("tf") * expr("(1000000L * n_docs) div df"))
          .groupBy("doc_id")
          .agg(sum("term_score").as("tfidf_scaled"))
          .orderBy(col("tfidf_scaled").desc, col("doc_id"))
          .limit(50)
          .select("doc_id", "tfidf_scaled"),
        "rank_tfidf",
        col("tfidf_scaled").desc,
        col("doc_id")
      ).select("doc_id", "rank_tfidf")
      bmTop
        .join(tiTop, Seq("doc_id"), "full_outer")
        .withColumn(
          "rrf_scaled",
          coalesce(expr("1000000L div (60L + rank_bm25)"), lit(0L))
            + coalesce(expr("1000000L div (60L + rank_tfidf)"), lit(0L))
        )
        .select("doc_id", "rank_bm25", "rank_tfidf", "rrf_scaled")
        .orderBy(col("rrf_scaled").desc, col("doc_id"))
    },
    Some(
      s"""WITH $Bm25ScoreCtes,
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |ti AS (
         |  SELECT qtf.doc_id,
         |    CAST(SUM(qtf.tf * ((1000000 * n.n_docs) // df.df)) AS BIGINT) AS tfidf_scaled
         |  FROM qtf JOIN df USING (term), n GROUP BY 1),
         |bmr AS (
         |  SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY bm25_scaled DESC, doc_id) AS BIGINT) AS rank_bm25
         |  FROM (SELECT * FROM bm ORDER BY bm25_scaled DESC, doc_id LIMIT 50)),
         |tir AS (
         |  SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY tfidf_scaled DESC, doc_id) AS BIGINT) AS rank_tfidf
         |  FROM (SELECT * FROM ti ORDER BY tfidf_scaled DESC, doc_id LIMIT 50))
         |SELECT doc_id, rank_bm25, rank_tfidf,
         |  CAST(COALESCE(1000000 // (60 + rank_bm25), 0)
         |     + COALESCE(1000000 // (60 + rank_tfidf), 0) AS BIGINT) AS rrf_scaled
         |FROM bmr FULL JOIN tir USING (doc_id)
         |ORDER BY rrf_scaled DESC, doc_id""".stripMargin
    )
  )

  /** PMI collocation mining (Church–Hanks association ratios): the top 50
    * adjacent-word pairs by pointwise lift c(x,y)·N / (c(x)·c(y)) — the
    * phrase-detection statistic behind word2phrase-style multi-word-token
    * induction in tokenizer pipelines. PMI itself is log₂(lift), a
    * monotone map, so ranking by the integer-scaled lift IS ranking by PMI
    * without a cross-engine `log` call.
    *
    * Cross-engine determinism: lift_ppm is the nested integer expression
    * ((c_xy·10⁶ div c_x)·N) div c_y — identical floor composition in both
    * engines; the nesting keeps every intermediate < 2⁶³ to N ≈ 9×10¹²
    * corpus tokens (the unnested c_xy·N·10⁶ would overflow at N ≈ 3×10⁶).
    * A minimum support of c_xy ≥ 5 suppresses one-off noise, the
    * word2phrase discount analog.
    *
    * Scale shape: bigram extraction is a scan-stage zip_with over the
    * token array (no token shuffle — the shuffle carries (bigram, partial
    * count) pairs with map-side combine); unigram counts and the 1-row
    * total reaggregate the cached [[docTermTf]] grain shared with
    * q_tfidf/q_bm25 (no second corpus scan), land on a vocabulary-sized
    * cached table, and broadcast back to the bigram side twice; the top-50
    * is TakeOrderedAndProject.
    */
  val pmiBigrams: Q = Q(
    "q_pmi_bigrams",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val tf   = graft.core.Cached.frame(docTermTf(docs))
      val uni  = tf.groupBy("term").agg(sum("tf").as("c"))
      graft.core.Cached.frame(uni) // referenced 3x: total + both join sides
      val tot = uni.agg(sum("c").as("n"))
      val bgc = docs
        .select(split(lower(col("text")), " ").as("t"))
        .select(explode(expr(
          "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), (a, b) -> concat(a, ' ', b))"
        )).as("bg"))
        .groupBy("bg")
        .agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
      bgc
        .join(broadcast(uni.select(col("term").as("w1"), col("c").as("c_x"))), "w1")
        .join(broadcast(uni.select(col("term").as("w2"), col("c").as("c_y"))), "w2")
        .crossJoin(broadcast(tot))
        .withColumn("lift_ppm", expr("(((c_xy * 1000000L) div c_x) * n) div c_y"))
        .select("w1", "w2", "c_xy", "c_x", "c_y", "lift_ppm")
        .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
        .limit(50)
    },
    Some(
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |uni AS (SELECT u AS w, COUNT(*) AS c
        |        FROM (SELECT unnest(t) AS u FROM toks) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
        |bgc AS (
        |  SELECT bg, COUNT(*) AS c_xy FROM (
        |    SELECT unnest(list_transform(range(1, greatest(len(t)-1, 0)+1),
        |                                 i -> t[i] || ' ' || t[i+1])) AS bg
        |    FROM toks)
        |  GROUP BY 1 HAVING COUNT(*) >= 5)
        |SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
        |  c_xy, u1.c AS c_x, u2.c AS c_y,
        |  (((c_xy * 1000000) // u1.c) * tot.n) // u2.c AS lift_ppm
        |FROM bgc
        |JOIN uni u1 ON u1.w = string_split(bg, ' ')[1]
        |JOIN uni u2 ON u2.w = string_split(bg, ' ')[2], tot
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 50""".stripMargin
    )
  )

  /** BPE merge-pair counting — the inner statistic of byte-pair-encoding
    * tokenizer TRAINING: for every adjacent character pair inside a word,
    * the pair's corpus frequency (word frequency × in-word occurrences).
    * The argmax of this table is exactly the first BPE merge; iterating
    * (merge, recount) yields the full vocab, so this query is the one
    * distributed primitive that training loop needs per iteration.
    *
    * Scale shape: pair extraction runs over the VOCABULARY (distinct
    * words + frequencies from the cached [[docTermTf]] grain — zero new
    * corpus scans), not the corpus: a 100 TB corpus has a ~10⁷-row vocab,
    * so the explode+sum is metadata-sized no matter the data scale. The
    * `length ≥ 2` filter drops unpairable single-char words before the
    * explode, and the top-50 is TakeOrderedAndProject. All-integer counts.
    */
  val bpePairs: Q = Q(
    "q_bpe_pairs",
    (s, dir) => {
      val tf    = graft.core.Cached.frame(docTermTf(Tables(s, dir).documents))
      val words = tf.groupBy("term").agg(sum("tf").as("f"))
      words
        .filter(length(col("term")) >= 2)
        .select(
          col("f"),
          explode(expr(
            "transform(sequence(1, char_length(term) - 1), i -> concat(substring(term, i, 1), ' ', substring(term, i + 1, 1)))"
          )).as("pair")
        )
        .groupBy("pair")
        .agg(sum("f").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(50)
    },
    Some(
      """WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
        |words AS (SELECT w, COUNT(*) AS f FROM toks GROUP BY 1),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, length(w)),
        |                               i -> substr(w, i, 1) || ' ' || substr(w, i+1, 1))) AS pair,
        |         f
        |  FROM words WHERE length(w) >= 2)
        |SELECT pair, CAST(SUM(f) AS BIGINT) AS n
        |FROM pairs GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""".stripMargin
    )
  )

  /** Merge count for the FULL BPE training loop (the oracle unrolls it). */
  private[graft] val BpeMergeIters = 8

  /** Full BPE tokenizer-training loop — [[BpeMergeIters]] iterations of
    * (count pairs, merge argmax, re-segment, recount) over the vocabulary,
    * returning the ordered merge list with each merge's corpus frequency.
    * [[bpePairs]] is ONE iteration's statistic; this is the whole training
    * primitive — exactly the multi-job chaining the reference's FIFO queue
    * exists for (`/root/reference/mapreduce/manager/__main__.py:278-291`),
    * expressed as K chained Spark jobs over one cached vocab frame.
    *
    * Segmentation state is a flat string per word: every symbol wrapped in
    * single spaces, symbols separated by a double space (`" h  e  y "`), so
    * merging pair (a,b) is ONE literal `replace(w, " a  b ", " ab ")` —
    * left-to-right and non-overlapping in both engines, which is exactly
    * BPE's greedy scan (`"a a a" → "aa a"`), and the wrapping makes a
    * symbol-boundary match impossible (` xa  b ` never contains ` a  b `).
    * Terms never contain spaces (they are split ON spaces), so the
    * encoding is injective for any corpus content.
    *
    * Cross-engine determinism: all-integer counts; argmax tie-break is
    * (n DESC, pair ASC) binary-collated in both engines; the merged pair
    * is re-derived from the SAME replay in the oracle's unrolled CTEs
    * (one `p_k`/`m_k`/`w_k` stage per iteration, like PageRank's).
    *
    * Scale shape: the loop runs over the VOCABULARY (the cached
    * [[docTermTf]] grain reaggregated — zero extra corpus scans), which is
    * metadata-sized (~10⁷ rows) at ANY corpus scale; each iteration's
    * recount shuffles (pair, partial-count) with map-side combine and the
    * argmax is a 1-row TakeOrderedAndProject — the only driver traffic is
    * ONE row per iteration (bounded, the [[graft.ext.Ivf]] k-means
    * precedent). A persist ladder (persist next, unpersist prev once the
    * next materializes) keeps lineage depth and recompute O(1) per step.
    */
  /** The trainer shared by [[bpeMerges]] and [[bpeEncode]]: runs the
    * K-iteration loop and returns (ordered merge list, final segmented
    * vocabulary `(term, w, f)` with ALL K merges applied). The final
    * frame is returned UNPERSISTED pure lineage — words + K chained
    * replace projections, one scan-stage pipeline over the cached tf
    * grain with no shuffles — so a consumer that never reads it (the
    * merge-list query) pays nothing for it.
    */
  private def bpeTrain(
      s: SparkSession,
      dir: String): (Seq[(Long, String, Long)], DataFrame) =
    bpeTrainK(s, dir, BpeMergeIters)

  /** [[bpeTrain]] with an explicit merge count — split out so the lineage
    * gate (CollocationSpec "BPE merge ladder") can drive the SAME loop at
    * K=32 and pin per-iteration growth, the 4^K label-prop lesson applied
    * here before it can happen a third time.
    */
  private[graft] def bpeTrainK(
      s: SparkSession,
      dir: String,
      bpeIters: Int): (Seq[(Long, String, Long)], DataFrame) = {
    val tf    = graft.core.Cached.frame(docTermTf(Tables(s, dir).documents))
    val words = tf.groupBy("term").agg(sum("tf").as("f"))
    // Per-iteration LAZY localCheckpoint, not a persist() ladder: each
    // persist chained the previous InMemoryRelation inside the next plan's
    // string form, and at K=32 the driver spent MINUTES in
    // generateTreeString alone (the 4^K label-prop lesson, caught a third
    // time by CollocationSpec's "BPE merge ladder" gate before it could
    // ship). Checkpointing truncates the analyzed plan to a LogicalRDD of
    // constant depth, so per-iteration analysis cost is flat in K; blocks
    // of dropped iterations are reclaimed by the ContextCleaner, the same
    // contract as the graph family's ladders (queries/Graph.scala).
    // LAZY (round 17, guide §1.2 per-task work after shape): the segment-
    // replace chain is a pure projection — zero exchanges — so toRdd
    // builds the checkpoint-marked RDD without running anything, and the
    // NEXT argmax action materializes it as part of its own job. The
    // previous eager form paid a separate checkpoint job per iteration
    // (StageProbe r17: 2 jobs/iteration → 1), and the final vocab's last
    // replace never runs at all for the merge-list consumer.
    var vocab = words
      .filter(length(col("term")) >= 2)
      .select(
        col("term"),
        concat(
          lit(" "),
          array_join(
            expr("transform(sequence(1, char_length(term)), i -> substring(term, i, 1))"),
            "  "
          ),
          lit(" ")
        ).as("w"),
        col("f")
      )
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    // stops early once no word has two symbols left (or no word at all)
    var exhausted = false
    while (!exhausted && merges.size < bpeIters) {
      vocab
        .withColumn("sy", split(trim(col("w")), "  "))
        .filter(size(col("sy")) >= 2)
        .select(
          col("f"),
          explode(expr(
            "zip_with(slice(sy, 1, size(sy) - 1), slice(sy, 2, size(sy) - 1), (a, b) -> concat(a, ' ', b))"
          )).as("pair")
        )
        .groupBy("pair")
        .agg(sum("f").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(1)
        .collect()
        .headOption match {
        case None => exhausted = true
        case Some(top) =>
          val pair = top.getString(0)
          merges += ((merges.size + 1L, pair, top.getLong(1)))
          val (a, b) = pair.splitAt(pair.indexOf(' ')) match { case (x, y) => (x, y.tail) }
          vocab = vocab
            .withColumn(
              "w",
              call_function("replace", col("w"), lit(s" $a  $b "), lit(s" $a$b "))
            )
            .localCheckpoint(false)
      }
    }
    (merges.toSeq, vocab)
  }

  /** Vocab-side broadcast cutoff for the BPE apply join: a trained vocab
    * under this many word types (~tens of MB framed) broadcasts, so the
    * corpus-sized tf grain is never exchanged (guide §3.1 — the checkpointed
    * vocab is a LogicalRDD whose size Catalyst cannot estimate, so the
    * planner's default is an SMJ that shuffles BOTH sides by term;
    * StageProbe r17 measured that tf exchange as the apply join's whole
    * cost). Above the cutoff — corpora whose word-type count outgrows a
    * sane broadcast (Heaps' law at extreme scale) — the SMJ stands. The
    * one count job is memoized per trained vocab ([[graft.core.Cached.count]])
    * and doubles as the lazy checkpoint's materialization action.
    */
  private val VocabBroadcastRows = 1000000L

  /** The BPE apply join both consumers share: attach each term's trained
    * symbol count to the tf grain, broadcasting the vocab side when the
    * MEASURED vocab is small enough (measure-then-decide, the LSH-plane
    * precedent).
    */
  private def withBpeSymbols(tf: DataFrame, vocab: DataFrame): DataFrame = {
    val perTerm = vocab.select(
      col("term"),
      size(split(trim(col("w")), "  ")).cast("long").as("n_sym")
    )
    val side =
      if (graft.core.Cached.count(vocab) <= VocabBroadcastRows) broadcast(perTerm) else perTerm
    tf.join(side, Seq("term"), "left")
  }

  val bpeMerges: Q = Q(
    "q_bpe_merges",
    (s, dir) => {
      val (merges, _) = bpeTrain(s, dir)
      import s.implicits._
      merges.toDF("rank", "pair", "n")
    },
    Some(bpeMergesOracleSql(BpeMergeIters))
  )

  /** The unrolled-CTE WITH body both BPE oracles share: per iteration one
    * pair recount (`p_k`), one argmax (`m_k`), one literal-replace
    * re-segment (`w_k`, term carried through) — the same integer
    * expressions the Spark loop evaluates. Unreferenced trailing CTEs
    * (e.g. `w_K` under the merge-list query) cost nothing. When no pair
    * is left, `m_k` is empty and `w_k` keeps `w_{k-1}`'s segmentation, as
    * the Spark trainer stops with its merged vocabulary.
    */
  private def bpeStepsSql(iters: Int): String = {
    val steps = (1 to iters)
      .map { k =>
        s"""p$k AS (
           |  SELECT pr, CAST(SUM(f) AS BIGINT) AS n FROM (
           |    SELECT unnest(list_transform(range(1, len(sy)), i -> sy[i] || ' ' || sy[i+1])) AS pr, f
           |    FROM (SELECT string_split(trim(s), '  ') AS sy, f FROM w${k - 1}))
           |  GROUP BY 1),
           |m$k AS (SELECT pr, n FROM p$k ORDER BY n DESC, pr LIMIT 1),
           |w$k AS (
           |  SELECT t, CASE WHEN m$k.pr IS NULL THEN s ELSE replace(s,
           |    ' ' || string_split(m$k.pr, ' ')[1] || '  ' || string_split(m$k.pr, ' ')[2] || ' ',
           |    ' ' || string_split(m$k.pr, ' ')[1] || string_split(m$k.pr, ' ')[2] || ' ') END AS s, f
           |  FROM w${k - 1} LEFT JOIN m$k ON TRUE)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents),
       |words AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY 1),
       |w0 AS (
       |  SELECT t, ' ' || array_to_string(list_transform(range(1, length(t) + 1), i -> t[i]), '  ') || ' ' AS s, f
       |  FROM words WHERE length(t) >= 2),
       |$steps""".stripMargin
  }

  def bpeMergesOracleSql(iters: Int): String = {
    val sel = (1 to iters)
      .map(k => s"SELECT CAST($k AS BIGINT) AS rank, pr AS pair, n FROM m$k")
      .mkString("\nUNION ALL ")
    s"""${bpeStepsSql(iters)}
       |$sel
       |ORDER BY rank""".stripMargin
  }

  def bpeEncodeOracleSql(iters: Int): String =
    s"""${bpeStepsSql(iters)},
       |enc AS (SELECT t, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_sym FROM w$iters),
       |dtf AS (
       |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
       |  GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(tf * COALESCE(n_sym, length(t))) AS BIGINT) AS n_bpe_tokens
       |FROM dtf LEFT JOIN enc USING (t)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** BPE tokenization APPLIED — the train→apply pair of [[bpeMerges]]:
    * per-document token counts under the [[BpeMergeIters]]-merge trained
    * tokenizer. This is the statistic a token-budgeted pretraining mix
    * actually needs (q_token_count's regex count is a tokenizer-free
    * ESTIMATE; this one is exact under the trained vocab). Unmergeable
    * short words tokenize to their character count (1 for single-char, 0
    * for the empty token).
    *
    * Scale shape: training is [[bpeTrain]] (vocab-sized, K bounded
    * collects); application NEVER rescans text — the per-term symbol
    * count is a scan-stage projection over the final vocab (words + K
    * chained replaces, no shuffle), hash-joined back to the cached
    * [[docTermTf]] grain, and the per-doc sum is a partial+final
    * aggregate. The corpus-sized side moves through exactly one shuffle
    * (the groupBy), carrying two longs per row.
    */
  val bpeEncode: Q = Q(
    "q_bpe_encode",
    (s, dir) => {
      val (_, vocab) = bpeTrain(s, dir)
      val tf         = graft.core.Cached.frame(docTermTf(Tables(s, dir).documents))
      withBpeSymbols(tf, vocab)
        .groupBy("doc_id")
        .agg(
          sum(col("tf") * coalesce(col("n_sym"), length(col("term")).cast("long")))
            .as("n_bpe_tokens")
        )
        .orderBy("doc_id")
    },
    Some(bpeEncodeOracleSql(BpeMergeIters))
  )

  /** Tokenizer-fertility audit — chars-per-token and tokens-per-word by
    * source, under the SAME trained tokenizer as [[bpeEncode]]: the
    * cross-domain efficiency table a context-budgeted pretraining mix
    * reads before weighting sources (a domain whose text costs 2× the
    * tokens per char buys half the content per context window; C4/Gopher
    * descendants publish exactly this per-source fertility table). Ratios
    * are integer ppm with a guarded denominator (`greatest(x, 1)` in both
    * engines — the non-ANSI-div-vs-DuckDB-raise trap).
    *
    * Scale shape: pure reaggregation — the per-doc grain is the
    * [[bpeEncode]] plan (cached [[docTermTf]] joined to the vocab-sized
    * symbol table; n_words falls out of the SAME aggregate as sum(tf),
    * costing nothing extra), and the per-source rollup joins the 3-column
    * documents projection and exchanges |sources| rows.
    */
  val tokenFertility: Q = Q(
    "q_token_fertility",
    (s, dir) => {
      val (_, vocab) = bpeTrain(s, dir)
      val tf         = graft.core.Cached.frame(docTermTf(Tables(s, dir).documents))
      val perDoc = withBpeSymbols(tf, vocab)
        .groupBy("doc_id")
        .agg(
          sum(col("tf") * coalesce(col("n_sym"), length(col("term")).cast("long")))
            .as("n_bpe"),
          sum(col("tf")).as("n_words")
        )
      Tables(s, dir).documents
        .select(col("doc_id"), col("source"), col("n_chars"))
        .join(perDoc, "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_bpe").as("n_bpe_tokens"),
          sum("n_words").as("n_words"),
          sum("n_chars").as("n_chars")
        )
        .withColumn(
          "chars_per_token_ppm",
          expr("(n_chars * 1000000L) div greatest(n_bpe_tokens, 1L)")
        )
        .withColumn(
          "tokens_per_word_ppm",
          expr("(n_bpe_tokens * 1000000L) div greatest(n_words, 1L)")
        )
        .orderBy("source")
    },
    Some(
      s"""${bpeStepsSql(BpeMergeIters)},
         |enc AS (SELECT t, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_sym
         |        FROM w$BpeMergeIters),
         |dtf AS (
         |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
         |  GROUP BY 1, 2),
         |pd AS (
         |  SELECT doc_id, CAST(SUM(tf * COALESCE(n_sym, length(t))) AS BIGINT) AS n_bpe,
         |    CAST(SUM(tf) AS BIGINT) AS n_words
         |  FROM dtf LEFT JOIN enc USING (t) GROUP BY doc_id)
         |SELECT source, n_docs, n_bpe_tokens, n_words, n_chars,
         |  (n_chars * 1000000) // GREATEST(n_bpe_tokens, 1) AS chars_per_token_ppm,
         |  (n_bpe_tokens * 1000000) // GREATEST(n_words, 1) AS tokens_per_word_ppm
         |FROM (
         |  SELECT d.source, COUNT(*) AS n_docs,
         |    CAST(SUM(pd.n_bpe) AS BIGINT) AS n_bpe_tokens,
         |    CAST(SUM(pd.n_words) AS BIGINT) AS n_words,
         |    CAST(SUM(d.n_chars) AS BIGINT) AS n_chars
         |  FROM documents d JOIN pd USING (doc_id)
         |  GROUP BY d.source)
         |ORDER BY source""".stripMargin
    )
  )

  /** Placeholder blocklist standing in for a content-policy wordlist (the
    * C4 pipeline's "List of Dirty, Naughty, Obscene..." gate — Raffel et
    * al. 2020 drop any page containing any listed word). The terms here
    * are fixture-vocabulary stand-ins; the operator is the configurable
    * gate, not the list.
    */
  private val Blocklist    = Seq("dup", "spill", "leak")
  private val BlocklistSql = Blocklist.map(w => s"'$w'").mkString("(", ", ", ")")

  /** C4-style blocklist gate: per-document blocked-term occurrence and
    * distinct-term counts plus the drop verdict (any hit ⇒ blocked).
    * Emitted as an auditable verdict column rather than a silent filter —
    * the [[gopherRules]] discipline — so downstream consumers can count
    * attrition before committing to the drop.
    *
    * Scale shape: one scan-stage filter over the token array per row
    * (no explode, no shuffle — the aggregate-free dual of the oracle's
    * unnest+GROUP BY), ordered output only for the gate's dump.
    */
  val blocklistGate: Q = Q(
    "q_blocklist",
    (s, dir) => {
      val toks = split(lower(col("text")), " ", -1)
      val hits = filter(toks, w => w.isInCollection(Blocklist))
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          size(hits).as("n_blocked_occ"),
          size(array_distinct(hits)).as("n_blocked_terms"),
          when(size(hits) > 0, 1).otherwise(0).as("blocked")
        )
        .orderBy("doc_id")
    },
    Some(
      s"""SELECT doc_id,
         |  CAST(SUM(CASE WHEN w IN $BlocklistSql THEN 1 ELSE 0 END) AS INTEGER)
         |    AS n_blocked_occ,
         |  CAST(COUNT(DISTINCT CASE WHEN w IN $BlocklistSql THEN w END) AS INTEGER)
         |    AS n_blocked_terms,
         |  CAST(CASE WHEN SUM(CASE WHEN w IN $BlocklistSql THEN 1 ELSE 0 END) > 0
         |       THEN 1 ELSE 0 END AS INTEGER) AS blocked
         |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    )
  )

  /** Per-document distinct-term cap for [[cooccur]]'s basket self-join —
    * bounds the worst-case per-doc pair fan-out at C(256,2) ≈ 32k rows.
    */
  private[graft] val CooccurDocTerms = 256

  /** Document-level co-occurrence lift (market-basket association over
    * term sets; the topic-coherence statistic): for every unordered term
    * pair co-occurring in ≥ 50 documents, df(x,y)·N / (df(x)·df(y)) —
    * the doc-set complement to [[pmiBigrams]]' ADJACENCY statistic.
    *
    * TWO quadratic-blowup defenses, both replayed in the oracle:
    *   - the stopword df-cap: terms in > 80% of documents are excluded
    *     BEFORE the self-join (the predicate `df·10 ≤ N·8` is integer),
    *     bounding AGGREGATE blowup — the [[graft.ext.Winnow]] df-cap idea;
    *   - a per-document distinct-term cap (the market-basket basket-size
    *     cap): the d·(d−1)/2 self-join fan-out is per-doc QUADRATIC in
    *     kept terms, so one pathological document with 5·10⁴ distinct rare
    *     terms (a concatenated glossary — real corpora contain them) would
    *     emit 1.25·10⁹ pairs from a single row. Each doc keeps its
    *     deterministic top-[[CooccurDocTerms]] terms by (md5(term), term)
    *     order — an unbiased per-doc sample both engines derive
    *     identically, cutting the worst-case per-doc fan-out to a
    *     constant ~32k pairs (StressSpec injects the glossary doc and
    *     pins the bound).
    *
    * Scale shape: pair generation self-joins the cached [[docTermTf]]
    * grain on doc_id (never a corpus rescan); the cap's doc_id-keyed
    * window pre-partitions exactly as the self-join wants; df table and
    * the 1-row N are cached/broadcast; min-support prunes before the dim
    * joins; the top-50 is TakeOrderedAndProject.
    */
  val cooccur: Q = Q(
    "q_cooccur",
    (s, dir) => {
      val tf = graft.core.Cached.frame(docTermTf(Tables(s, dir).documents))
      // 1-row cache (the pagerank nN precedent): n is referenced by all
      // three keep-broadcasts plus the final lift crossJoin, and each
      // BroadcastExchange materializes its own subtree — StageProbe r17
      // counted the uncached countDistinct's tf exchange (589 KB, 82k
      // rows) re-executed 4x per run on identical values.
      val n   = graft.core.Cached.frame(tf.agg(countDistinct("doc_id").as("n_docs")))
      val dfu = tf.groupBy("term").agg(count(lit(1)).as("df"))
      graft.core.Cached.frame(dfu) // cap filter + both dim joins
      val keep = dfu.crossJoin(broadcast(n)).filter(expr("df * 10 <= n_docs * 8"))
      val wCap = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(md5(col("term").cast("binary")), col("term"))
      // cached: the self-join references this grain on BOTH sides, and
      // Catalyst does not dedup the subtrees — the md5 window ran twice
      // (StageProbe r17: 2 x ~6 s executor time at sf0.1). The cache is
      // doc_id-partitioned and (doc_id, ...)-sorted by the window's own
      // exchange+sort, so the self-join's SMJ reads both sides exchange-
      // AND sort-free.
      val kept = graft.core.Cached.frame(
        tf.join(broadcast(keep.select("term")), "term")
          .select("doc_id", "term")
          .withColumn("rn", row_number().over(wCap))
          .filter(col("rn") <= CooccurDocTerms)
          .drop("rn")
      )
      kept
        .alias("a")
        .join(
          kept.alias("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term")
        )
        .select(col("a.term").as("t1"), col("b.term").as("t2"))
        .groupBy("t1", "t2")
        .agg(count(lit(1)).as("df_xy"))
        .filter(col("df_xy") >= 50)
        .join(broadcast(keep.select(col("term").as("t1"), col("df").as("df_x"))), "t1")
        .join(broadcast(keep.select(col("term").as("t2"), col("df").as("df_y"))), "t2")
        .crossJoin(broadcast(n))
        .withColumn("lift_ppm", expr("(((df_xy * 1000000L) div df_x) * n_docs) div df_y"))
        .select("t1", "t2", "df_xy", "df_x", "df_y", "lift_ppm")
        .orderBy(col("lift_ppm").desc, col("t1"), col("t2"))
        .limit(50)
    },
    Some(
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term FROM toks GROUP BY 1, 2),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
        |dfu AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |keep AS (SELECT term, df FROM dfu, n WHERE df * 10 <= n_docs * 8),
        |capped AS (
        |  SELECT doc_id, term
        |  FROM (SELECT doc_id, term FROM tf WHERE term IN (SELECT term FROM keep))
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY md5(term), term)
        |          <= $CooccurDocTerms),
        |pair AS (
        |  SELECT a.term AS t1, b.term AS t2, COUNT(*) AS df_xy
        |  FROM capped a JOIN capped b
        |    ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 50)
        |SELECT t1, t2, df_xy, k1.df AS df_x, k2.df AS df_y,
        |  (((df_xy * 1000000) // k1.df) * n.n_docs) // k2.df AS lift_ppm
        |FROM pair JOIN keep k1 ON k1.term = t1 JOIN keep k2 ON k2.term = t2, n
        |ORDER BY lift_ppm DESC, t1, t2 LIMIT 50""".stripMargin
    )
  )

  /** Gopher-style rule-based quality filter (Rae et al. 2021, §A1.1 —
    * public method): the published rule FAMILY (word-count bounds, mean
    * word length bounds, fraction of words with an alphabetic character,
    * minimum distinct stopwords) with bounds scaled to the fixture corpus.
    * Complements [[quality]]'s ratio heuristics: this is the conjunctive
    * rule table a production pipeline audits per-rule (which rule killed
    * the doc), so each verdict is a column, not just the final keep.
    *
    * Cross-engine determinism: every rule is integer arithmetic — mean
    * word length enters ×10 as `(chars_sans_spaces * 10) div n_words`
    * (chars-sans-spaces = len(text) − (n_words − 1), exact under the
    * single-space tokenizer), the alpha fraction enters as ppm, and the
    * stopword rule counts DISTINCT stop tokens via set intersection.
    *
    * Scale shape: pure scan-stage per-row expressions — zero exchanges
    * beyond the verification sort; the filter runs at wire speed inside
    * whole-stage codegen at any corpus size.
    */
  val gopherRules: Q = Q(
    "q_gopher_rules",
    (s, dir) => {
      val toks = split(lower(col("text")), " ", -1)
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_words"),
          (length(col("text")) - (size(toks) - 1)).cast("long").as("n_wchars"),
          size(filter(toks, w => w.rlike("[a-z]"))).cast("long").as("n_alpha"),
          size(array_intersect(array_distinct(toks), array(StopWords.map(lit): _*)))
            .cast("long")
            .as("n_stop")
        )
        .withColumn("mean_len_x10", expr("(n_wchars * 10L) div n_words"))
        .withColumn("alpha_ppm", expr("(n_alpha * 1000000L) div n_words"))
        .withColumn("r_wordcount", when(col("n_words").between(5, 10000), 1).otherwise(0))
        .withColumn("r_meanlen", when(col("mean_len_x10").between(30, 100), 1).otherwise(0))
        .withColumn("r_alpha", when(col("alpha_ppm") >= 800000, 1).otherwise(0))
        .withColumn("r_stop", when(col("n_stop") >= 2, 1).otherwise(0))
        .withColumn(
          "keep",
          when(
            col("r_wordcount") + col("r_meanlen") + col("r_alpha") + col("r_stop") === 4,
            1
          ).otherwise(0)
        )
        .select(
          "doc_id", "n_words", "mean_len_x10", "alpha_ppm", "n_stop",
          "r_wordcount", "r_meanlen", "r_alpha", "r_stop", "keep"
        )
        .orderBy("doc_id")
    },
    Some(
      s"""SELECT doc_id, n_words, mean_len_x10, alpha_ppm, n_stop,
         |  r_wordcount, r_meanlen, r_alpha, r_stop,
         |  CASE WHEN r_wordcount + r_meanlen + r_alpha + r_stop = 4 THEN 1 ELSE 0 END AS keep
         |FROM (
         |  SELECT *,
         |    CASE WHEN n_words BETWEEN 5 AND 10000 THEN 1 ELSE 0 END AS r_wordcount,
         |    CASE WHEN mean_len_x10 BETWEEN 30 AND 100 THEN 1 ELSE 0 END AS r_meanlen,
         |    CASE WHEN alpha_ppm >= 800000 THEN 1 ELSE 0 END AS r_alpha,
         |    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop
         |  FROM (
         |    SELECT doc_id, n_words, n_wchars, n_alpha, n_stop,
         |      (n_wchars * 10) // n_words AS mean_len_x10,
         |      (n_alpha * 1000000) // n_words AS alpha_ppm
         |    FROM (
         |      SELECT doc_id,
         |        CAST(len(t) AS BIGINT) AS n_words,
         |        CAST(length(text) - (len(t) - 1) AS BIGINT) AS n_wchars,
         |        CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
         |        CAST(len(list_intersect(list_distinct(t), [${StopWords.map(w => s"'$w'").mkString(", ")}])) AS BIGINT) AS n_stop
         |      FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM documents))))
         |ORDER BY doc_id""".stripMargin
    )
  )

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 — public
    * method): split the corpus into head/middle/tail terciles by
    * reference-LM score. CCNet computes quantile CUTOFFS once, then tags
    * every document by comparison — exactly what is replayed here with
    * the cutoffs as a 1-row broadcast (a global NTILE window would funnel
    * the whole corpus through one task; the cutoff comparison is the
    * scale-safe equivalent, identical up to quantile ties which
    * `percentile_disc` resolves identically in both engines).
    *
    * Scale shape: per-doc scores reaggregate the ONE cached [[bigramTf]]
    * grain (shared with q_lm_score/q_dsir_weights — no extra corpus
    * scan); the exact discrete quantiles aggregate over the
    * BOUNDED-CARDINALITY integer score domain (a frequency-map buffer,
    * not a sort); tagging is a scan + 1-row broadcast crossJoin.
    */
  val ccnetBuckets: Q = Q(
    "q_ccnet_buckets",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val tf   = bigramTf(docs)
      val c12  = tf.groupBy("bg").agg(sum("tf").as("c12"))
      val c1   = c12.groupBy(substring(col("bg"), 1, 1).as("c")).agg(sum("c12").as("c1"))
      val model = c12
        .join(c1, substring(col("bg"), 1, 1) === col("c"))
        .withColumn("bits", length(bin(expr("(c1 * 1048576) div c12"))) - 1)
        .select("bg", "bits")
      val scored = tf
        .join(broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(sum("tf").as("n_bigrams"), sum(col("tf") * col("bits")).as("bits_total"))
        .withColumn("score_scaled", expr("(bits_total * 1000000) div n_bigrams"))
        .select("doc_id", "score_scaled")
      // percentile_disc returns DOUBLE in Spark; the selected element is an
      // integer score (exact in a double far below 2^53), so the cast back
      // to BIGINT is lossless and matches DuckDB's quantile_disc type
      val cuts = scored.agg(
        expr(
          "CAST(percentile_disc(0.3333333333) WITHIN GROUP (ORDER BY score_scaled) AS BIGINT)"
        ).as("c_lo"),
        expr(
          "CAST(percentile_disc(0.6666666667) WITHIN GROUP (ORDER BY score_scaled) AS BIGINT)"
        ).as("c_hi")
      )
      scored
        .crossJoin(broadcast(cuts))
        .withColumn(
          "bucket",
          when(col("score_scaled") <= col("c_lo"), "head")
            .when(col("score_scaled") <= col("c_hi"), "middle")
            .otherwise("tail")
        )
        .select("doc_id", "score_scaled", "c_lo", "c_hi", "bucket")
        .orderBy("doc_id")
    },
    Some(
      """WITH ch AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(length(lower(text)) - 1, 0) + 1),
        |                   i -> substr(lower(text), CAST(i AS INT), 2)) AS bgs
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, bg, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(bgs) AS bg FROM ch) GROUP BY 1, 2),
        |c12 AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS c12 FROM tf GROUP BY 1),
        |c1 AS (SELECT substr(bg, 1, 1) AS c, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        |model AS (
        |  SELECT bg, CAST(length(bin((c1 * 1048576) // c12)) - 1 AS INT) AS bits
        |  FROM c12 JOIN c1 ON substr(bg, 1, 1) = c),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST((SUM(tf * bits) * 1000000) // SUM(tf) AS BIGINT) AS score_scaled
        |  FROM tf JOIN model USING (bg) GROUP BY 1),
        |cuts AS (
        |  SELECT quantile_disc(score_scaled, 0.3333333333) AS c_lo,
        |         quantile_disc(score_scaled, 0.6666666667) AS c_hi
        |  FROM scored)
        |SELECT doc_id, score_scaled, c_lo, c_hi,
        |  CASE WHEN score_scaled <= c_lo THEN 'head'
        |       WHEN score_scaled <= c_hi THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored, cuts ORDER BY doc_id""".stripMargin
    )
  )

  /** Language-ID confusion matrix: the [[langId]] heuristic's prediction
    * cross-tabulated against the fixture's labeled `lang` column — the
    * precision/recall evaluation every classifier-gated pipeline stage
    * needs before its threshold is trusted (a langid gate that silently
    * drops 30% of one language skews the whole training mix). Counts per
    * (truth, prediction) cell; the cells feed per-language precision and
    * recall directly.
    *
    * Scale shape: the same scan-stage stopword-ratio expression as
    * [[langId]] feeding a partial+final aggregate on the
    * |langs|²-bounded cell grain — one narrow exchange at any corpus
    * size.
    */
  val langidConfusion: Q = Q(
    "q_langid_confusion",
    (s, dir) => {
      val toks = split(lower(col("text")), " ", -1)
      Tables(s, dir).documents
        .select(
          col("lang"),
          when(
            size(toks) > lit(0) &&
              size(filter(toks, x => x.isInCollection(StopWords))).cast("double") /
              size(toks) >= 0.03,
            "en"
          ).otherwise("unk").as("lang_pred")
        )
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "lang_pred")
    },
    Some(
      s"""SELECT lang, lang_pred, COUNT(*) AS n_docs
         |FROM (
         |  SELECT lang,
         |    CASE WHEN tok_cnt > 0 AND CAST(stop_cnt AS DOUBLE) / tok_cnt >= 0.03
         |         THEN 'en' ELSE 'unk' END AS lang_pred
         |  FROM (
         |    SELECT doc_id, ANY_VALUE(lang) AS lang, COUNT(*) AS tok_cnt,
         |           CAST(SUM(CASE WHEN w IN $StopList THEN 1 ELSE 0 END) AS BIGINT) AS stop_cnt
         |    FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
         |          FROM documents)
         |    GROUP BY doc_id))
         |GROUP BY lang, lang_pred
         |ORDER BY lang, lang_pred""".stripMargin
    )
  )

  /** Per-source sequence-length distribution: documents histogrammed into
    * power-of-two token-count buckets (bucket = ⌊log₂ n_tok⌋ via the same
    * `length(bin(x)) - 1` integer log both engines share with
    * [[lmScore]]'s surprisal). The length histogram is what a packing
    * planner ([[graft.queries.Pipeline]]'s q_seq_pack) and a
    * context-length decision consume: the tail buckets say how many
    * documents must be split at a given context size, the head buckets
    * how much padding/packing waste short docs will cause.
    *
    * Scale shape: scan-stage arithmetic into a partial+final aggregate on
    * (source, bucket) — |sources|·log(max_len) output rows, one narrow
    * exchange at any corpus size.
    */
  val lengthHist: Q = Q(
    "q_length_hist",
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("source"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok")
        )
        .withColumn("len_bucket", (length(bin(col("n_tok"))) - 1).cast("long"))
        .groupBy("source", "len_bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
        .orderBy("source", "len_bucket"),
    Some(
      """SELECT source, len_bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok
        |FROM (
        |  SELECT source, n_tok, CAST(length(bin(n_tok)) - 1 AS BIGINT) AS len_bucket
        |  FROM (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |        FROM documents))
        |GROUP BY source, len_bucket
        |ORDER BY source, len_bucket""".stripMargin
    )
  )

  /** Per-document character-level entropy — the gibberish/binary-noise
    * quality gate (low entropy ⇒ repeated filler, pathologically high ⇒
    * random bytes) that sits next to [[quality]]'s length/punctuation
    * signals in a cleaning pipeline.
    *
    * Cross-engine determinism: [[lmScore]]'s pinned integer surprisal —
    * per character class c with count k in an n-char doc, bits(c) =
    * ⌊log₂((n·2²⁰) div k)⌋ via `length(bin(x)) - 1`, and the entropy is
    * (Σ k·(bits−20)·1000) div n milli-bits — exact BIGINTs in both
    * engines, no float `log` anywhere. The floored log understates true
    * entropy by <1 bit per class; the RANKING a filter consumes is
    * preserved, which is the operator's contract.
    *
    * Empty docs: both engines' empty-pattern split of '' yields [''], so
    * an empty text keeps one ''-char row and entropy 0 — no doc drops
    * from the per-doc output.
    *
    * Scale shape: char extraction is one scan-stage `split(text, '')` —
    * O(len) per doc (Spark 4 and DuckDB agree exactly: code-point chars,
    * no phantom leading/trailing empties; the per-position substring
    * alternative walks UTF-8 offsets and is quadratic in doc length —
    * measured 2.5 s → 0.9 s at sf0.1 switching away); the shuffle carries
    * (doc_id, char, partial count) with map-side combine — alphabet-
    * bounded per doc — and the per-doc rollup reaggregates that grain.
    * One corpus-sized shuffle total, the same shape as [[lmScore]].
    */
  val charEntropy: Q = Q(
    "q_char_entropy",
    (s, dir) => {
      val grain = Tables(s, dir).documents
        .select(col("doc_id"), explode(split(col("text"), "", -1)).as("ch"))
        .groupBy("doc_id", "ch")
        .agg(count(lit(1)).as("k"))
      val n = grain.groupBy("doc_id").agg(sum("k").as("n"))
      grain
        .join(n, "doc_id")
        .withColumn("bits", length(bin(expr("(n * 1048576L) div k"))) - 1)
        .groupBy("doc_id")
        .agg(
          max("n").as("n_chars"),
          count(lit(1)).as("n_classes"),
          expr("(sum(k * (bits - 20)) * 1000L) div max(n)").as("entropy_mbits")
        )
        .orderBy("doc_id")
    },
    Some(
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |grain AS (SELECT doc_id, ch, COUNT(*) AS k FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n FROM grain GROUP BY 1),
        |b AS (
        |  SELECT grain.doc_id, k, n,
        |    CAST(length(bin((n * 1048576) // k)) - 1 AS INT) AS bits
        |  FROM grain JOIN n USING (doc_id))
        |SELECT doc_id, MAX(n) AS n_chars, COUNT(*) AS n_classes,
        |  CAST((SUM(k * (bits - 20)) * 1000) // MAX(n) AS BIGINT) AS entropy_mbits
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
    )
  )

  /** fastText/CCNet-style learned quality classifier: bootstrap weak labels
    * from the [[quality]] rule heuristic (the integer form: token count in
    * [5, 10000] AND punct_cnt·10 < len_chars), train per-term naive-Bayes
    * log-odds weights over document frequency, and re-score EVERY document
    * with the learned model — the seed-heuristic → classifier → corpus-wide
    * rescore loop real pretraining pipelines run (CCNet trains fastText on
    * Wikipedia seeds; the rule tier here plays the seed role). Docs the
    * rules rejected but the classifier accepts (label=0, pred=1) are the
    * "rescued" set a production pipeline would human-review.
    *
    * All-integer scoring so both engines hash identically: the term weight
    * is the Laplace-smoothed log-likelihood ratio quantized to whole bits,
    *   w(t) = ⌊log₂(df_pos+1)⌋ − ⌊log₂(n_pos+2)⌋
    *        − (⌊log₂(df_neg+1)⌋ − ⌊log₂(n_neg+2)⌋),
    * with ⌊log₂ x⌋ = length(bin(x))−1 (exact on int64, no float libm in
    * either engine). Each factor is quantized SEPARATELY — never a
    * df·n product — so nothing overflows at any corpus size (a ppm-style
    * ratio would hit int64 limits near 10¹² docs). Doc score = Σ w(t) over
    * the doc's DISTINCT terms (Bernoulli NB; multiplicity would let one
    * repeated token dominate), predict keep when score ≥ 0.
    *
    * Scale shape: ONE cached documents pass; term stats are a partial+final
    * aggregate on the term grain (vocab-sized output); totals ride a 1-row
    * broadcast crossJoin (never a keyless window); the weight join back to
    * the exploded term grain is a plain hash join on term; the final score
    * is a partial+final sum on doc_id. No window, no cartesian, nothing
    * driver-side.
    */
  /** The classifier's scored frame (doc_id, label, score, pred) — shared
    * body of [[qualityClassifier]] (per-doc output) and
    * [[qualityCalibration]] (the reliability re-aggregate). One lineage
    * means the cached labeled table and the whole weight-training chain
    * serve both consumers.
    */
  private def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")

  /** The cached seed-labeled corpus (doc_id, lt, label) — ONE documents
    * scan shared by every classifier-family consumer (ScanAuditSpec
    * single-scan discipline).
    */
  private def labeledDocs(s: SparkSession, dir: String): DataFrame =
    graft.core.Cached.frame(
      Tables(s, dir).documents.select(
        col("doc_id"),
        lower(col("text")).as("lt"),
        when(
          size(split(col("text"), " ", -1)).between(5, 10000) &&
            (length(col("text")) -
              length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))) * 10
            < length(col("text")),
          1L
        ).otherwise(0L).as("label")
      )
    )

  /** Distinct nonempty terms of a labeled frame: (doc_id, label, t). */
  private def classifierTerms(labeled: DataFrame): DataFrame =
    labeled
      .select(
        col("doc_id"),
        col("label"),
        explode(array_distinct(split(col("lt"), " ", -1))).as("t")
      )
      .filter(col("t") =!= "")

  /** 1-row (n_pos, n_neg) class totals of a labeled frame. */
  private def classifierTotals(labeled: DataFrame): DataFrame =
    labeled.agg(
      sum(col("label")).as("n_pos"),
      sum(lit(1L) - col("label")).as("n_neg")
    )

  /** The trained weight table (t, w) over a labeled training frame. */
  private def classifierWeights(terms: DataFrame, totals: DataFrame): DataFrame =
    terms
      .groupBy("t")
      .agg(sum(col("label")).as("df_pos"), sum(lit(1L) - col("label")).as("df_neg"))
      .crossJoin(broadcast(totals))
      .select(
        col("t"),
        (ilog2(col("df_pos") + 1) - ilog2(col("n_pos") + 2) -
          (ilog2(col("df_neg") + 1) - ilog2(col("n_neg") + 2))).as("w")
      )

  private def classifierScored(s: SparkSession, dir: String): DataFrame = {
    val labeled = labeledDocs(s, dir)
    val terms   = classifierTerms(labeled)
    val weights = classifierWeights(terms, classifierTotals(labeled))
    val scores =
      terms.join(weights, "t").groupBy("doc_id").agg(sum(col("w")).as("score"))
    labeled
      .select("doc_id", "label")
      .join(scores, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("label"),
        coalesce(col("score"), lit(0L)).as("score"),
        (coalesce(col("score"), lit(0L)) >= 0).cast("int").as("pred")
      )
  }

  /** Oracle CTE chain ending in `scored` = [[classifierScored]] — shared
    * verbatim by the q_quality_classifier and q_quality_calibration
    * oracles so the two replays cannot drift apart.
    */
  /** The seed-labeled corpus CTE (doc_id, lt, label) — shared by every
    * classifier-family oracle.
    */
  private val ClassifierLabCte: String =
    """lab AS (
      |  SELECT doc_id, lower(text) AS lt,
      |    CAST(CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 10000
      |           AND (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) * 10
      |               < length(text)
      |         THEN 1 ELSE 0 END AS BIGINT) AS label
      |  FROM documents)""".stripMargin

  private val ClassifierScoreCtes: String =
    s"""$ClassifierLabCte,
      |terms AS (
      |  SELECT DISTINCT doc_id, label, w AS t FROM (
      |    SELECT doc_id, label, unnest(string_split(lt, ' ')) AS w FROM lab)
      |  WHERE w <> ''),
      |tot AS (SELECT CAST(SUM(label) AS BIGINT) AS n_pos,
      |               CAST(SUM(1 - label) AS BIGINT) AS n_neg FROM lab),
      |dfs AS (SELECT t, CAST(SUM(label) AS BIGINT) AS df_pos,
      |               CAST(SUM(1 - label) AS BIGINT) AS df_neg
      |        FROM terms GROUP BY t),
      |w AS (SELECT t,
      |    CAST((length(bin(df_pos + 1)) - 1) - (length(bin(n_pos + 2)) - 1)
      |      - ((length(bin(df_neg + 1)) - 1) - (length(bin(n_neg + 2)) - 1)) AS BIGINT) AS w
      |  FROM dfs CROSS JOIN tot),
      |sc AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score
      |       FROM terms JOIN w USING (t) GROUP BY doc_id),
      |scored AS (
      |  SELECT lab.doc_id, label, COALESCE(score, 0) AS score,
      |    CAST(CASE WHEN COALESCE(score, 0) >= 0 THEN 1 ELSE 0 END AS INT) AS pred
      |  FROM lab LEFT JOIN sc USING (doc_id))""".stripMargin

  val qualityClassifier: Q = Q(
    "q_quality_classifier",
    (s, dir) => classifierScored(s, dir).orderBy("doc_id"),
    Some(
      s"""WITH $ClassifierScoreCtes
         |SELECT doc_id, label, score, pred FROM scored
         |ORDER BY doc_id""".stripMargin
    )
  )

  /** Reliability curve + confusion cells for the learned quality
    * classifier — the eval a pipeline runs BEFORE trusting the gate (the
    * q_langid_confusion discipline applied to the trained model): scores
    * clamped to ±400 and bucketed in 10-bit-wide bins, and per bin the
    * doc count, seed-positive count, and seed-positive rate in ppm. A
    * well-calibrated model shows the rate rising monotonically with the
    * score bin; the pred/label confusion is readable from the sign
    * buckets. Clamp-then-shift keeps the bucket index non-negative, so
    * integer division agrees across engines (Spark `div` truncates toward
    * zero while DuckDB `//` floors — they differ on negatives).
    *
    * Scale shape: one re-aggregate of the shared [[classifierScored]]
    * lineage onto a ≤81-row bucket grain — partial+final counts, nothing
    * new corpus-sized.
    */
  val qualityCalibration: Q = Q(
    "q_quality_calibration",
    (s, dir) =>
      classifierScored(s, dir)
        .select(
          (expr("(greatest(least(score, 399L), -400L) + 400L) div 10L") * 10L - 400L)
            .as("bucket_lo"),
          col("label")
        )
        .groupBy("bucket_lo")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("label").as("n_seed_pos"),
          expr("(sum(label) * 1000000L) div count(1)").as("seed_pos_ppm")
        )
        .orderBy("bucket_lo"),
    Some(
      s"""WITH $ClassifierScoreCtes
         |SELECT ((greatest(least(score, 399), -400) + 400) // 10) * 10 - 400 AS bucket_lo,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(label) AS BIGINT) AS n_seed_pos,
         |  (CAST(SUM(label) AS BIGINT) * 1000000) // COUNT(*) AS seed_pos_ppm
         |FROM scored GROUP BY 1
         |ORDER BY bucket_lo""".stripMargin
    )
  )

  /** Hard-negative mining for retrieval/embedding training (the DPR /
    * sentence-transformers recipe): take the BM25 top list for the query,
    * call rank 1 the positive, and keep the next 10 candidates that are
    * lexically close (high BM25) but NOT near-duplicates of the positive —
    * a near-dup "negative" is a false negative that poisons contrastive
    * training, so the dedup relation is the filter. Emits each surviving
    * negative with its fused rank evidence.
    *
    * Composition, not new machinery: the BM25 leg reaggregates the ONE
    * cached [[docTermTf]] grain ([[bm25Scores]], TakeOrderedAndProject 30);
    * the dedup relation is the family's rep-level verified pair list
    * ([[graft.ext.Dedup.nearDuplicates]]) plus the exact-dup rep mapping
    * ([[graft.ext.Dedup.members]]) so an exact copy of the positive is
    * excluded even though the pair family pre-collapses it (the
    * q_contamination lesson). Everything after the two TakeOrdered tails
    * is metadata-sized: the ≤30-row top list broadcasts into the member
    * join, the 1-row positive broadcasts into the pair probe, and the
    * anti-join runs on ≤30 rows.
    */
  val hardNegatives: Q = Q(
    "q_hard_negatives",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val top = graft.core.Cached.frame(
        attachRank(
          bm25Scores(s, dir)
            .orderBy(col("bm25_scaled").desc, col("doc_id"))
            .limit(30)
            .select("doc_id", "bm25_scaled"),
          "bm25_rank",
          col("bm25_scaled").desc,
          col("doc_id")
        )
      )
      val topR = graft.ext.Dedup.members(docs).join(broadcast(top), "doc_id")
      val pos  = topR.filter(col("bm25_rank") === 1).select(col("rep").as("pos_rep"))
      val rp   = graft.ext.Dedup.nearDuplicates(docs, 1, 5).select("d1", "d2")
      val partners = rp
        .join(broadcast(pos), col("d1") === col("pos_rep"))
        .select(col("d2").as("rep"))
        .union(rp.join(broadcast(pos), col("d2") === col("pos_rep")).select(col("d1").as("rep")))
      val surv = topR
        .filter(col("bm25_rank") > 1)
        .crossJoin(broadcast(pos)) // 1-row positive broadcast
        .filter(col("rep") =!= col("pos_rep"))
        .join(partners, Seq("rep"), "left_anti")
        .orderBy("bm25_rank")
        .limit(10)
        .select("doc_id", "bm25_scaled", "bm25_rank")
      attachRank(surv, "neg_rank", col("bm25_rank"))
    },
    Some(
      s"""WITH $Bm25ScoreCtes,
         |ranked AS (
         |  SELECT doc_id, bm25_scaled,
         |    ROW_NUMBER() OVER (ORDER BY bm25_scaled DESC, doc_id) AS bm25_rank
         |  FROM bm),
         |top AS (SELECT * FROM ranked WHERE bm25_rank <= 30),
         |grp AS (SELECT md5(text) AS tkey, MIN(doc_id) AS rep FROM documents GROUP BY 1),
         |mem AS (SELECT d.doc_id, grp.rep FROM documents d JOIN grp ON md5(d.text) = grp.tkey),
         |sig AS (${graft.ext.Dedup.sqlSigRep}),
         |bands AS (${graft.ext.Dedup.sqlBands}),
         |cand AS (${graft.ext.Dedup.sqlCand}),
         |sets AS (${graft.ext.Dedup.sqlSets}),
         |pairs AS (${graft.ext.Dedup.sqlPairs(0.2)}),
         |pos AS (SELECT m.rep AS pos_rep FROM top t JOIN mem m USING (doc_id)
         |        WHERE t.bm25_rank = 1),
         |partners AS (
         |  SELECT d2 AS rep FROM pairs, pos WHERE d1 = pos_rep
         |  UNION ALL SELECT d1 FROM pairs, pos WHERE d2 = pos_rep),
         |surv AS (
         |  SELECT t.doc_id, t.bm25_scaled, t.bm25_rank
         |  FROM top t JOIN mem m USING (doc_id), pos
         |  WHERE t.bm25_rank > 1 AND m.rep <> pos.pos_rep
         |    AND m.rep NOT IN (SELECT rep FROM partners)
         |  ORDER BY t.bm25_rank LIMIT 10)
         |SELECT ROW_NUMBER() OVER (ORDER BY bm25_rank) AS neg_rank,
         |  doc_id, bm25_scaled, bm25_rank
         |FROM surv ORDER BY neg_rank""".stripMargin
    )
  )

  /** T5/UL2-style span-corruption planning (Raffel et al. 2020 §3.1.4):
    * for every document, deterministically select mask spans — each token
    * position starts a 3-token span with probability 1/20 via a salted
    * hash, overlapping spans merge — and report the per-doc corruption
    * statistics a denoising-objective pipeline needs BEFORE materializing
    * examples: masked-token count, merged span count, and the realized
    * corruption rate in ppm (expected ≈ 140k ppm; the merge makes it
    * sub-additive, exactly why pipelines audit the realized rate).
    *
    * Determinism: span starts come from the dedup family's 28-bit md5
    * base hash over "doc_id:position", so both engines (and any re-run)
    * pick identical spans — the property that makes masked-example
    * generation reproducible across pipeline stages.
    *
    * Scale shape: ZERO shuffles — the whole computation is per-row array
    * arithmetic (one hash pass builds the start-flag array; masked flags
    * are the OR of the three shifted copies via slice+zip_with, never an
    * element_at lambda that would re-evaluate the array subtree per
    * element; merged spans count masked positions whose predecessor is
    * unmasked). The final orderBy is verification plumbing.
    */
  val spanMask: Q = Q(
    "q_span_mask",
    (s, dir) => {
      val n = size(split(col("text"), " ", -1))
      val starts = transform(
        sequence(lit(0), n - 1),
        i =>
          graft.ext.Dedup.baseHash(concat(col("doc_id").cast("string"), lit(":"), i.cast("string"))) % 20 === 0
      )
      def shifted(by: Int): Column =
        concat(
          array((1 to by).map(_ => lit(false)): _*),
          slice(col("starts"), lit(1), greatest(size(col("starts")) - by, lit(0)))
        )
      Tables(s, dir).documents
        .select(col("doc_id"), n.cast("long").as("n_tok"), starts.as("starts"))
        .withColumn(
          "masked",
          zip_with(
            zip_with(col("starts"), shifted(1), (a, b) => a || b),
            shifted(2),
            (a, b) => a || b
          )
        )
        .withColumn(
          "runs",
          zip_with(
            col("masked"),
            concat(array(lit(false)), slice(col("masked"), lit(1), greatest(size(col("masked")) - 1, lit(0)))),
            (m, prev) => m && !prev
          )
        )
        .select(
          col("doc_id"),
          col("n_tok"),
          size(filter(col("masked"), m => m)).cast("long").as("n_masked"),
          size(filter(col("runs"), r => r)).cast("long").as("n_spans"),
          expr("(size(filter(masked, m -> m)) * 1000000L) div n_tok").as("mask_ppm")
        )
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, n_tok,
        |  CAST(len(list_filter(masked, m -> m)) AS BIGINT) AS n_masked,
        |  CAST(len(list_filter(list_transform(range(1, n + 1),
        |         i -> masked[i] AND (i = 1 OR NOT masked[i - 1])), r -> r)) AS BIGINT) AS n_spans,
        |  (CAST(len(list_filter(masked, m -> m)) AS BIGINT) * 1000000) // n_tok AS mask_ppm
        |FROM (
        |  SELECT doc_id, n_tok, n,
        |    list_transform(range(1, n + 1),
        |      i -> starts[i] OR (i >= 2 AND starts[i - 1]) OR (i >= 3 AND starts[i - 2])) AS masked
        |  FROM (
        |    SELECT doc_id, CAST(n AS BIGINT) AS n_tok, n,
        |      list_transform(range(0, n),
        |        i -> CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 7) AS BIGINT) % 20 = 0) AS starts
        |    FROM (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents)))
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** Frozen-model incremental quality scoring — the TRAIN/SERVE split of
    * the learned gate (q_dedup_incremental's ingest-gate shape and
    * q_ann_incremental's frozen-quantizer shape, applied to the
    * classifier): weights are trained ONLY on the seen corpus
    * (doc_id < 400, the same batch convention as the dedup gate), then
    * the new batch is scored statelessly against the frozen weight
    * table. Terms the frozen model never saw score at the Laplace prior
    * ratio ⌊log₂(n_neg+2)⌋ − ⌊log₂(n_pos+2)⌋ (exactly what the smoothed
    * NB assigns a zero-df term), and the per-doc OOV count rides along —
    * the drift monitor that schedules retraining, as the IVF centroid
    * distance does for the ANN index.
    *
    * Scale shape: the frozen weight table is the production broadcast
    * artifact; scoring the batch is one pass (explode → hash join →
    * partial+final sum). Training reaggregates the family's ONE cached
    * labeled scan with a pushed doc_id filter.
    */
  val qualityIncremental: Q = Q(
    "q_quality_incremental",
    (s, dir) => {
      val lab  = labeledDocs(s, dir)
      val seen = lab.filter(col("doc_id") < 400)
      val newb = lab.filter(col("doc_id") >= 400)
      val totals  = classifierTotals(seen)
      val weights = classifierWeights(classifierTerms(seen), totals)
      val scoredTerms = classifierTerms(newb)
        .join(weights, Seq("t"), "left")
        .crossJoin(broadcast(totals))
        .select(
          col("doc_id"),
          coalesce(col("w"), ilog2(col("n_neg") + 2) - ilog2(col("n_pos") + 2)).as("w"),
          col("w").isNull.cast("long").as("oov")
        )
      newb
        .select("doc_id", "label")
        .join(
          scoredTerms.groupBy("doc_id").agg(sum("w").as("score"), sum("oov").as("n_oov")),
          Seq("doc_id"),
          "left"
        )
        .select(
          col("doc_id"),
          col("label"),
          coalesce(col("score"), lit(0L)).as("score"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          (coalesce(col("score"), lit(0L)) >= 0).cast("int").as("pred")
        )
        .orderBy("doc_id")
    },
    Some(
      s"""WITH $ClassifierLabCte,
         |seen AS (SELECT * FROM lab WHERE doc_id < 400),
         |newb AS (SELECT * FROM lab WHERE doc_id >= 400),
         |sterms AS (
         |  SELECT DISTINCT doc_id, label, w AS t FROM (
         |    SELECT doc_id, label, unnest(string_split(lt, ' ')) AS w FROM seen)
         |  WHERE w <> ''),
         |tot AS (SELECT CAST(SUM(label) AS BIGINT) AS n_pos,
         |               CAST(SUM(1 - label) AS BIGINT) AS n_neg FROM seen),
         |dfs AS (SELECT t, CAST(SUM(label) AS BIGINT) AS df_pos,
         |               CAST(SUM(1 - label) AS BIGINT) AS df_neg
         |        FROM sterms GROUP BY t),
         |w AS (SELECT t,
         |    CAST((length(bin(df_pos + 1)) - 1) - (length(bin(n_pos + 2)) - 1)
         |      - ((length(bin(df_neg + 1)) - 1) - (length(bin(n_neg + 2)) - 1)) AS BIGINT) AS w
         |  FROM dfs CROSS JOIN tot),
         |nterms AS (
         |  SELECT DISTINCT doc_id, t FROM (
         |    SELECT doc_id, unnest(string_split(lt, ' ')) AS t FROM newb)
         |  WHERE t <> ''),
         |st AS (
         |  SELECT nterms.doc_id,
         |    COALESCE(w.w, CAST((length(bin(n_neg + 2)) - 1) - (length(bin(n_pos + 2)) - 1) AS BIGINT)) AS w,
         |    CASE WHEN w.w IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM nterms LEFT JOIN w USING (t), tot),
         |sc AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score,
         |              CAST(SUM(oov) AS BIGINT) AS n_oov
         |       FROM st GROUP BY 1)
         |SELECT newb.doc_id, label, COALESCE(score, 0) AS score,
         |  COALESCE(n_oov, 0) AS n_oov,
         |  CAST(CASE WHEN COALESCE(score, 0) >= 0 THEN 1 ELSE 0 END AS INT) AS pred
         |FROM newb LEFT JOIN sc USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    )
  )

  /** Pairwise total-variation distance between per-source unigram
    * distributions — the corpus-comparison matrix a mixture designer reads
    * before setting source weights (two sources at TV ≈ 0 are statistical
    * near-duplicates and their combined weight should be split, the
    * distribution-level analog of q_source_overlap's document-level
    * matrix; TV ≈ 1 sources contribute genuinely disjoint text). TV is
    * chosen over KL/JS precisely because it needs NO logarithm: with
    * integer term counts c(s,t) and source token totals n(s),
    *   TV(s1,s2) = Σ_t |c1(t)/n1 − c2(t)/n2| / 2
    *             = Σ_t |c1(t)·n2 − c2(t)·n1| / (2·n1·n2)
    * is an exact integer numerator over an exact integer denominator, and
    * the emitted double is ONE IEEE division — hash-exact cross-engine,
    * where a log-based divergence would drift in the last ulp.
    *
    * The term sum splits into three exact pieces so no term grid is ever
    * materialized: terms present in BOTH sources contribute
    * Σ|c1·n2 − c2·n1| over the inner join, and the one-sided tails are
    * closed forms from the same aggregate — Σ_{t∈s1 only} c1·n2
    * = n2·(n1 − Σ_both c1), symmetrically for s2. (The naive
    * vocab × sources grid computes the same number with |V|·|S| rows of
    * fan-out; the inner-join form touches only co-occurring terms.)
    *
    * Scale shape: per-source counts reaggregate the ONE cached
    * [[docTermTf]] grain (shared with q_tfidf/q_bm25 — no second corpus
    * explode) joined to a 2-column pruned (doc_id, source) scan; the
    * pair matrix is |S|²-bounded (sources are a metadata-sized dimension
    * at any corpus scale) with totals broadcast twice. A pair sharing ZERO
    * terms (TV exactly 1) is omitted by the inner-join form in both engines
    * alike; at unigram grain over natural text any shared token re-admits
    * the pair, so this arises only for disjoint-alphabet corpora — where
    * the answer is known to be 1 without computing it. Integer bound:
    * Σ|c1·n2 − c2·n1| ≤ 2·n1·n2, exact in int64 to ~3·10⁹ tokens per
    * source; past that production swaps the products to DECIMAL(38,0)
    * unchanged (Spark decimal sums are exact; the fixture keeps BIGINT so
    * the oracle compare is type-identical).
    */
  val sourceDivergence: Q = Q(
    "q_source_divergence",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val tf   = docTermTf(docs)
      graft.core.Cached.frame(tf)
      val st = tf
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source", "term")
        .agg(sum("tf").as("c"))
      val n = st.groupBy("source").agg(sum("c").as("n"))
      val both = st
        .select(col("source").as("source_a"), col("term"), col("c").as("c1"))
        .join(
          st.select(col("source").as("source_b"), col("term"), col("c").as("c2")),
          "term"
        )
        .filter(col("source_a") < col("source_b"))
        .join(broadcast(n.select(col("source").as("source_a"), col("n").as("n1"))), "source_a")
        .join(broadcast(n.select(col("source").as("source_b"), col("n").as("n2"))), "source_b")
        .groupBy("source_a", "source_b", "n1", "n2")
        .agg(
          sum(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("d_both"),
          sum("c1").as("m1"),
          sum("c2").as("m2")
        )
      both
        .select(
          col("source_a"),
          col("source_b"),
          (col("d_both") + col("n2") * (col("n1") - col("m1")) +
            col("n1") * (col("n2") - col("m2"))).as("tv_num"),
          (lit(2L) * col("n1") * col("n2")).as("tv_den")
        )
        .withColumn("tv", col("tv_num").cast("double") / col("tv_den"))
        .orderBy("source_a", "source_b")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |st AS (
        |  SELECT d.source, tf.term, CAST(SUM(tf.tf) AS BIGINT) AS c
        |  FROM tf JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY 1),
        |b AS (
        |  SELECT a.source AS source_a, bb.source AS source_b, n1.n AS n1, n2.n AS n2,
        |    CAST(SUM(ABS(a.c * n2.n - bb.c * n1.n)) AS BIGINT) AS d_both,
        |    CAST(SUM(a.c) AS BIGINT) AS m1, CAST(SUM(bb.c) AS BIGINT) AS m2
        |  FROM st a JOIN st bb ON a.term = bb.term AND a.source < bb.source
        |  JOIN n n1 ON n1.source = a.source
        |  JOIN n n2 ON n2.source = bb.source
        |  GROUP BY 1, 2, 3, 4)
        |SELECT source_a, source_b,
        |  CAST(d_both + n2 * (n1 - m1) + n1 * (n2 - m2) AS BIGINT) AS tv_num,
        |  CAST(2 * n1 * n2 AS BIGINT) AS tv_den,
        |  CAST(d_both + n2 * (n1 - m1) + n1 * (n2 - m2) AS DOUBLE)
        |    / (2 * n1 * n2) AS tv
        |FROM b ORDER BY source_a, source_b""".stripMargin
    )
  )

  /** Zipf power-law fit over the term-frequency head — the corpus-health
    * audit next to [[vocabCoverage]]: natural text obeys cnt ∝ rank^(−s)
    * with s ≈ 1; a collapsed (flat) or inflated slope marks template spam
    * or truncated/synthetic text BEFORE a tokenizer or mixture decision
    * trusts the vocabulary. OLS of ⌊log₂ cnt⌋ on ⌊log₂ rank⌋ over the
    * top-256 terms — the [[graft.queries.StatsQueries]] `q_trend`
    * integer-moment discipline with the house `length(bin(·))−1` integer
    * log, so slope and intercept (milli-units) are exact BIGINTs
    * cross-engine; a float ln() would hash-drift (neither engine's libm
    * log is correctly rounded — unlike the sqrt q_mix_temperature leans
    * on).
    *
    * Scale shape: term counts reaggregate the ONE cached [[docTermTf]]
    * grain (zero new corpus scans); the head is a distributed
    * TakeOrderedAndProject(256) under a total (cnt, term) order; rank is
    * `zipWithIndex` over the 256-row tail (never a keyless window) and
    * the moment fold is a 1-row aggregate of a 256-row frame.
    */
  val zipfFit: Q = Q(
    "q_zipf_fit",
    (s, dir) => {
      val tf = graft.core.Cached.frame(docTermTf(Tables(s, dir).documents))
      val top = tf
        .groupBy("term")
        .agg(sum("tf").as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
        .limit(256)
      attachRank(top, "rank", col("cnt").desc, col("term"))
        .select(
          (length(bin(col("rank"))) - 1).cast("long").as("x"),
          (length(bin(col("cnt"))) - 1).cast("long").as("y")
        )
        .agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"),
          sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy")
        )
        // Spark div TRUNCATES; the numerators are signed (the slope is
        // negative by Zipf's nature), so the oracle mirrors truncation
        // sign-safely rather than letting DuckDB's flooring // drift by 1
        .withColumn("slope_milli", expr("(1000L * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"))
        .withColumn("int_num", expr("1000L * sy - slope_milli * sx"))
        .select(
          col("n").as("n_terms"),
          col("slope_milli"),
          expr("int_num div n").as("intercept_milli")
        )
    },
    Some(
      """WITH t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS cnt, term
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
        |  GROUP BY term ORDER BY cnt DESC, term LIMIT 256),
        |r AS (
        |  SELECT CAST(LENGTH(bin(ROW_NUMBER() OVER (ORDER BY cnt DESC, term))) - 1 AS BIGINT) AS x,
        |         CAST(LENGTH(bin(cnt)) - 1 AS BIGINT) AS y
        |  FROM t),
        |m AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM r),
        |s AS (
        |  SELECT n, sx, sy, 1000 * (n * sxy - sx * sy) AS snum, n * sxx - sx * sx AS sden
        |  FROM m),
        |s2 AS (
        |  SELECT n, sx, sy,
        |    CASE WHEN snum < 0 THEN -((-snum) // sden) ELSE snum // sden END AS slope
        |  FROM s),
        |s3 AS (SELECT n, slope, 1000 * sy - slope * sx AS inum FROM s2)
        |SELECT n AS n_terms, slope AS slope_milli,
        |  CASE WHEN inum < 0 THEN -((-inum) // n) ELSE inum // n END AS intercept_milli
        |FROM s3""".stripMargin
    )
  )

  val all: Seq[Q] =
    Seq(wordCount, grep, textStats, langId, quality, tokenCount, fingerprint, tfidf,
      repetition, ngramNovelty, lmScore, dsirWeights, invertedIndex, hofOps, vocabCoverage, lexicalDiversity, bm25,
      rankFusion, pmiBigrams, bpePairs, bpeMerges, bpeEncode, cooccur, gopherRules, ccnetBuckets,
      lengthHist, langidConfusion, tokenFertility, blocklistGate, charEntropy, qualityClassifier,
      hardNegatives, spanMask, qualityCalibration, qualityIncremental, sourceDivergence, zipfFit)
}
