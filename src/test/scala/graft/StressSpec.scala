package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tools.StressGen

/** Scale-stress harness: the heavy query family on a 10× corpus with
  * injected pathology (one document duplicated across 20% of the corpus,
  * one user owning 30% of events, one supplier key on 30% of lineitem) vs
  * a CLEAN corpus of identical cardinality. Two kinds of assertion:
  *
  *   - structural: the advertised defense actually engages — the cluster
  *     edge set stays linear under a 1000-copy duplicate group (exact-dup
  *     pre-collapse), the df-cap excludes corpus-wide boilerplate from the
  *     shared-passage self-join, segment dedup keeps exactly one survivor,
  *     the adaptive skew join still agrees with the plain join. These are
  *     exact and deterministic.
  *   - wall-time: hot ≤ [[Factor]] × max(clean, 1 s) per query. The factor
  *     is deliberately generous (suites run serially, but local[32] timing
  *     still jitters); the point is to catch the QUADRATIC failure mode —
  *     an undefended hot key turns a 1-2 s query into minutes, not into
  *     4 s.
  *
  * The same pathologies at any larger scale reuse
  * [[graft.tools.StressGen]]'s main (`runMain graft.tools.StressGen
  * /root/testdata/sf0.1 /tmp/stress 10`).
  */
class StressSpec extends SparkSpec {
  private val base   = "/root/testdata/sf0.01"
  private val root   = new java.io.File("target/stress").getAbsolutePath
  private val clean  = s"$root/clean"
  private val hot    = s"$root/hot"
  private val Factor = 6.0

  override def beforeAll(): Unit = {
    super.beforeAll()
    StressGen.write(spark, base, clean, mult = 10, hot = false)
    StressGen.write(spark, base, hot, mult = 10, hot = true)
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(name: String, dir: String): Double = {
    System.gc()
    val t0 = System.nanoTime()
    materialize(SparkEntry.queries(name)(spark, dir))
    (System.nanoTime() - t0) / 1e9
  }

  /** clean-vs-hot wall-time gate; clean runs first so shared JVM warm-up
    * lands on the denominator (the conservative direction). A failing
    * measurement is retried ONCE before asserting: a concurrent process
    * landing inside one 32-thread run inflates it 3-8× (run-to-run noise
    * of ±20-30% is normal on a shared box), and a real quadratic blow-up
    * reproduces on the retry while scheduler noise does not.
    */
  private def assertBounded(name: String): (Double, Double) = {
    def measure(): (Double, Double) = (timed(name, clean), timed(name, hot))
    var (tc, th) = measure()
    if (th > Factor * math.max(tc, 1.0)) {
      info(f"$name: retrying after suspicious first measurement (clean=$tc%.2fs hot=$th%.2fs)")
      // assert on the retry's MATCHED pair (not extrema across runs): a
      // real quadratic blow-up reproduces in the second pair, while mixing
      // max(clean) with min(hot) would grade best-case-vs-worst-case and
      // weaken the gate this spec exists for
      val (tc2, th2) = measure()
      tc = tc2
      th = th2
    }
    info(f"$name: clean=$tc%.2fs hot=$th%.2fs (${th / math.max(tc, 1.0)}%.2fx)")
    assert(
      th <= Factor * math.max(tc, 1.0),
      f"$name blew up under pathology: clean=$tc%.2fs hot=$th%.2fs"
    )
    (tc, th)
  }

  test("stress corpora have identical cardinality and the injected pathology") {
    for (t <- Seq("documents", "events", "lineitem", "embeddings")) {
      val nc = spark.read.parquet(s"$clean/$t.parquet").count()
      val nh = spark.read.parquet(s"$hot/$t.parquet").count()
      assert(nc == nh, s"$t: clean=$nc hot=$nh")
    }
    val docs = spark.read.parquet(s"$hot/documents.parquet")
    val hotN = docs.filter(pmod(col("doc_id"), lit(StressGen.HotDocMod)) === 0).count()
    assert(hotN == 1000, s"hot doc group: $hotN")
    // the duplicated text is exactly the hot rows: 1000 copies of ONE text
    assert(
      docs.filter(pmod(col("doc_id"), lit(StressGen.HotDocMod)) === 0)
        .select("text").distinct().count() == 1
    )
    val ev     = spark.read.parquet(s"$hot/events.parquet")
    val hotEvN = ev.filter(col("user_id") === StressGen.HotUser).count()
    assert(hotEvN == 30000, s"hot user rows: $hotEvN")
    val li    = spark.read.parquet(s"$hot/lineitem.parquet")
    val total = li.count().toDouble
    val share = li.filter(col("l_suppkey") === StressGen.HotSupp).count() / total
    assert(share > 0.2 && share < 0.4, s"hot supplier share: $share")
  }

  test("exact-dup pre-collapse keeps the cluster edge set linear under a 1000-copy group") {
    val docs  = graft.core.Tables(spark, hot).documents
    val edges = graft.ext.Dedup.nearDupEdges(docs, 1, 5).count()
    // clique shape would be ≥ 1000·999/2 = 499500 intra-group pairs alone;
    // collapsed: 999 star edges + rep-level pairs over 4001 distinct texts
    assert(edges >= 999, s"star edges missing: $edges")
    assert(edges < 25000, s"edge set not linear: $edges (clique would be ≥ 499500)")
  }

  test("q_dedup_clusters puts every hot copy in one cluster, within the time bound") {
    assertBounded("q_dedup_clusters")
    val labels = SparkEntry
      .queries("q_dedup_clusters")(spark, hot)
      .filter(pmod(col("doc_id"), lit(StressGen.HotDocMod)) === 0)
      .select("cluster_id")
      .distinct()
      .collect()
      .map(_.getLong(0))
    assert(labels.toSeq == Seq(0L), s"hot copies span clusters: ${labels.mkString(",")}")
  }

  test("q_clean_corpus stays bounded under the 1000-copy hot group") {
    // the near-dup drop tier rides the family-wide exact-dup pre-collapse:
    // before it, the hot group's 499500-pair clique put this query at
    // 972 s hot vs 4.8 s clean in the 10x scale gate (201x); collapsed,
    // the hot corpus costs the same as the clean one
    assertBounded("q_clean_corpus")
    // and the verdicts stay right: every hot copy except the group minimum
    // is dropped (exact_keep false), the minimum survives the near-dup
    // tier at rep grain
    val hotRows = SparkEntry
      .queries("q_clean_corpus")(spark, hot)
      .filter(pmod(col("doc_id"), lit(StressGen.HotDocMod)) === 0)
      .select("doc_id", "exact_keep")
      .collect()
    val keepers = hotRows.filter(_.getBoolean(1)).map(_.getLong(0))
    assert(keepers.toSeq == Seq(hotRows.map(_.getLong(0)).min), s"exact_keep keepers: ${keepers.mkString(",")}")
  }

  test("simhash near-dup pairs collapse the hot duplicate group") {
    // identical text means identical simhash and chunks, so uncollapsed the
    // 1000-copy group alone is >= 499500 hamming-0 pairs (the 10x gate
    // measured 110 s hot vs 1.6 s clean); collapsed, pairs stay rep-level
    val docs  = graft.core.Tables(spark, hot).documents
    val pairs = graft.ext.SimHash.nearDupPairs(spark, docs, 3).count()
    info(s"simhash hot pairs: $pairs")
    assert(pairs < 25000, s"pair set not collapsed: $pairs (clique would be >= 499500)")
  }

  test("star-collapsed clusters equal brute-force clique components on a dup-heavy corpus") {
    // fixtures have no exact duplicates, so the oracle gate never exercises
    // the star path — build a corpus that does and compare against
    // driver-side union-find over the UNCOLLAPSED verified pairs
    val small = graft.core
      .Tables(spark, base)
      .documents
      .filter(col("doc_id") < 60)
    val dups = small
      .filter(col("doc_id") < 12)
      .select(
        (col("doc_id") + 1000).as("doc_id"),
        col("text"),
        col("lang"),
        col("source"),
        col("n_chars")
      )
    val corpus = small.unionByName(dups).unionByName(
      dups.select(col("doc_id") + 1000 as "doc_id", col("text"), col("lang"), col("source"), col("n_chars"))
    )
    val got = graft.ext.Dedup
      .nearDupClusters(corpus, 1, 5)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    // brute force: raw pairwise verified edges (quadratic on dup groups) —
    // the UNCOLLAPSED shape, which registered queries never run
    val rawPairs = graft.ext.Dedup
      .nearDuplicatesUncollapsed(corpus, 1, 5)
      .select("d1", "d2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    rawPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = rawPairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want  = nodes.map(n => n -> find(n)).toMap
    // find() roots are min-ids because unions always point max -> min
    assert(got == want, s"got=${got.toSeq.sorted} want=${want.toSeq.sorted}")
  }

  /** Corpus with exact-dup groups whose copies deterministically CROSS the
    * hash-split boundary and source labels (doc 0 → {0:train, 1000:test,
    * 2000:train}, the +2000 batch re-sourced) — written once, shared by the
    * contamination/source-overlap expansion-equivalence tests, because the
    * driver fixtures are dup-free at the gate SF and can never exercise the
    * member-expansion path those queries defend.
    */
  private lazy val dupMixDir: String = {
    val dir   = s"$root/dupmix"
    val small = graft.core.Tables(spark, base).documents.filter(col("doc_id") < 60)
    val d1 = small
      .filter(col("doc_id") < 12)
      .select((col("doc_id") + 1000).as("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val d2 = small
      .filter(col("doc_id") < 12)
      .select(
        (col("doc_id") + 2000).as("doc_id"),
        col("text"),
        col("lang"),
        lit("srcx").as("source"), // exact copies that cross SOURCES, not just splits
        col("n_chars")
      )
    small.unionByName(d1).unionByName(d2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("member-expanded contamination equals brute-force uncollapsed pairs under cross-split dups") {
    val docs = graft.core.Tables(spark, dupMixDir).documents
    val splitOf = docs
      .select(
        col("doc_id"),
        graft.queries.Pipeline.splitOfBucket(graft.queries.Pipeline.bucketOf(col("doc_id"))).as("split")
      )
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val want = graft.ext.Dedup
      .nearDuplicatesUncollapsed(docs, 1, 5)
      .select("d1", "d2", "jaccard")
      .collect()
      .flatMap { r =>
        val (d1, d2, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        val (s1, s2)    = (splitOf(d1), splitOf(d2))
        if ((s1 == "test") == (s2 == "test")) None
        else if (s1 == "test") Some((d1, d2, s2, j))
        else Some((d2, d1, s1, j))
      }
      .toSet
    val got = SparkEntry
      .queries("q_contamination")(spark, dupMixDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(want.exists(_._4 == 1.0), "corpus must contain a cross-split exact copy — pathology missing")
    assert(got == want, s"expanded=${got.size} rows, brute-force=${want.size} rows; diff=${(got diff want).take(5)} / ${(want diff got).take(5)}")

    // SALTED member-expansion spread (round 14): above the spreadAt
    // threshold the three expansion joins key on (rep, salt) so no one
    // exact group's quadratic emission lands on a single task — forcing
    // spreadAt below this corpus's 3-copy groups must reproduce the plain
    // plan's rows exactly (each pair meets at exactly one salt)
    val spread = graft.queries.Pipeline
      .contaminationReport(docs, spreadAt = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(
      spread == want,
      s"salted spread diverges: missing=${(want diff spread).take(5)} extra=${(spread diff want).take(5)}")
  }

  test("counted source-overlap matrix equals brute-force uncollapsed pair counting under cross-source dups") {
    val docs  = graft.core.Tables(spark, dupMixDir).documents
    val srcOf = docs.select("doc_id", "source").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val raw = graft.ext.Dedup
      .nearDuplicatesUncollapsed(docs, 1, 5)
      .select("d1", "d2", "jaccard")
      .collect()
    assert(
      raw.exists(r => r.getDouble(2) == 1.0 && srcOf(r.getLong(0)) != srcOf(r.getLong(1))),
      "corpus must contain a cross-source exact copy — pathology missing"
    )
    val want = raw
      .map { r =>
        val (a, b) = (srcOf(r.getLong(0)), srcOf(r.getLong(1)))
        (if (a <= b) (a, b) else (b, a), 1L)
      }
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).sum)
      .toMap
    val got = SparkEntry
      .queries("q_source_overlap")(spark, dupMixDir)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    assert(got == want, s"got=${got.toSeq.sorted} want=${want.toSeq.sorted}")
  }

  test("side-collapsed incremental gate equals the plain pipeline under boundary-crossing dups") {
    // dupMixDir's exact-dup groups span the new/seen boundary (base copies
    // < 60 are seen, +1000/+2000 copies are new) AND duplicate within the
    // new side — both shapes the side-local pre-collapse must preserve
    val docs = graft.core.Tables(spark, dupMixDir).documents
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = rows(graft.ext.Dedup.incrementalNearDupsPlain(docs, col("doc_id") >= 400, 0.2))
    val got  = rows(graft.ext.Dedup.incrementalNearDups(docs, col("doc_id") >= 400, 0.2))
    assert(want.exists(_._3 == 1.0), "corpus must contain a cross-boundary exact copy — pathology missing")
    assert(got == want, s"collapsed=${got.size} rows, plain=${want.size}; diff=${(got diff want).take(5)} / ${(want diff got).take(5)}")
  }

  test("q_dedup_incremental stays bounded under the 1000-copy hot group") {
    // uncollapsed, the hot group's copies land in ONE band bucket on both
    // sides of the gate and the new⋈seen band join goes quadratic — the
    // 10x scale gate measured clean 2.2 s vs hot 92.7 s (42.6x) before the
    // side-local pre-collapse
    assertBounded("q_dedup_incremental")
  }

  test("winnow df-cap excludes corpus-wide boilerplate from the passage self-join") {
    assertBounded("q_shared_passages")
    // positive control: the hot doc has plenty of fingerprints — it is
    // excluded BECAUSE every one of them sits in 1000 docs (df > 200),
    // not because it is too short to pair
    val nFps = graft.ext.Winnow
      .summary(spark, graft.core.Tables(spark, hot).documents)
      .filter(col("doc_id") === 0L)
      .select("n_fps")
      .head()
      .getLong(0)
    assert(nFps >= 40, s"hot doc too short for the control: $nFps fps")
    val hotHot = SparkEntry
      .queries("q_shared_passages")(spark, hot)
      .filter(
        pmod(col("d1"), lit(StressGen.HotDocMod)) === 0 &&
          pmod(col("d2"), lit(StressGen.HotDocMod)) === 0
      )
      .count()
    assert(hotHot == 0, s"df-cap failed to engage: $hotHot hot-hot passage pairs")
  }

  test("segment dedup min-struct keeps exactly one survivor of the hot group") {
    assertBounded("q_segment_dedup")
    val out = SparkEntry
      .queries("q_segment_dedup")(spark, hot)
      .filter(pmod(col("doc_id"), lit(StressGen.HotDocMod)) === 0)
      .select(col("doc_id"), col("n_kept"))
      .collect()
    val survivors = out.filter(_.getLong(1) > 0).map(_.getLong(0)).toSeq
    assert(survivors == Seq(0L), s"hot-group survivors: ${survivors.mkString(",")}")
  }

  test("sessionization holds when one user owns 30% of all events") {
    assertBounded("q_session_stats")
    val hotSessions = SparkEntry
      .queries("q_session_stats")(spark, hot)
      .filter(col("user_id") === StressGen.HotUser)
      .agg(count(lit(1)).as("n"), sum("n_events").as("ev"))
      .head()
    assert(hotSessions.getLong(0) >= 1)
    assert(hotSessions.getLong(1) == 30000L, s"hot user events: ${hotSessions.getLong(1)}")
  }

  test("adaptive skew join agrees with the plain join under 30% single-key skew") {
    assertBounded("q_join_skew_adaptive")
    val adaptive = SparkEntry
      .queries("q_join_skew_adaptive")(spark, hot)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    val t = graft.core.Tables(spark, hot)
    val plain = t.lineitem
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_returnflag")
      .agg(
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"),
        count(lit(1)).as("cnt")
      )
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    assert(adaptive.map(_._1).toSeq == plain.map(_._1).toSeq)
    adaptive.zip(plain).foreach { case ((f, ra, ca), (_, rp, cp)) =>
      assert(ca == cp, s"$f: cnt $ca vs $cp")
      assert(math.abs(ra - rp) / math.abs(rp) < 1e-9, s"$f: rev $ra vs $rp")
    }
  }

  test("LSH kNN join scales to the 10x embedding corpus") {
    assertBounded("q_knn_join")
  }

  test("sign-LSH candidate load stays ~flat when nPlanes scales with the corpus") {
    // the documented sizing rule (Similarity.knnJoin scaladoc), measured:
    // fixed 2^6 buckets make per-vector candidate load grow linearly with
    // corpus size (quadratic total); adding log2(growth) planes restores it
    val small = graft.core.Tables(spark, base).embeddings // 500 vectors
    val big   = spark.read.parquet(s"$clean/embeddings.parquet") // 5000 vectors
    def loadPerVec(df: org.apache.spark.sql.DataFrame, n: Long, planes: Int): Double =
      graft.ext.Similarity.bucketCandidates(df, directed = true, 4, planes).count().toDouble / n
    val smallLoad     = loadPerVec(small, 500, 6)
    val bigFixedLoad  = loadPerVec(big, 5000, 6)
    val bigScaledLoad = loadPerVec(big, 5000, 6 + 4) // log2(10x) ≈ 3.3 → +4 planes
    info(f"per-vector candidates: 500@6p=$smallLoad%.1f 5000@6p=$bigFixedLoad%.1f 5000@10p=$bigScaledLoad%.1f")
    assert(bigFixedLoad > 4 * smallLoad, "fixed planes should show the linear load growth")
    assert(bigScaledLoad < 3 * smallLoad, "scaled planes should restore ~constant load")
    // as of round 10 the sizing rule is APPLIED, not just documented: the
    // production entry points derive p from the corpus count (integer rule,
    // replayed in the DuckDB oracles), so the candidate load the auto path
    // actually pays on the 10x corpus must be the flat one
    assert(graft.ext.Similarity.derivedPlanes(500, 6) == 6)
    assert(graft.ext.Similarity.derivedPlanes(5000, 6) == 8)
    assert(graft.ext.Similarity.derivedPlanes(20000, 6) == 10)
    assert(graft.ext.Similarity.derivedPlanes(0, 6) == 6)
    assert(graft.ext.Similarity.derivedPlanes(Long.MaxValue / 4, 6) == graft.ext.Similarity.MaxPlanes)
    val bigAutoLoad = loadPerVec(big, 5000, graft.ext.Similarity.derivedPlanes(5000, 6))
    info(f"per-vector candidates on the AUTO path: 5000@derived=$bigAutoLoad%.1f")
    assert(bigAutoLoad < 3 * smallLoad, "auto-derived planes must keep per-vector load ~constant")
  }

  test("cooccur basket cap bounds one 50k-distinct-term glossary document") {
    // a concatenated glossary: 50k distinct rare terms in ONE doc. Capless,
    // the doc_id self-join would emit C(50000,2) ≈ 1.25e9 pairs from this
    // single row; the per-doc top-256 cap (deterministic md5 order, oracle-
    // replayed) bounds it at C(256,2) ≈ 32k.
    val dir   = s"$root/glossary"
    val base0 = graft.core.Tables(spark, base).documents
    val glossary = spark
      .createDataFrame(Seq((999999L, (0 until 50000).map(i => s"zq$i").mkString(" "), "en", "srcg", 50000L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    base0.unionByName(glossary).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // wall bound: the glossary corpus must stay within ~2x of the base
    // corpus (same retry discipline as assertBounded — scheduler noise,
    // not pathology, gets one second chance)
    def pairWalls(): (Double, Double) = {
      System.gc()
      val t0 = System.nanoTime()
      materialize(SparkEntry.queries("q_cooccur")(spark, base))
      val tc = (System.nanoTime() - t0) / 1e9
      System.gc()
      val t1 = System.nanoTime()
      materialize(SparkEntry.queries("q_cooccur")(spark, dir))
      val th = (System.nanoTime() - t1) / 1e9
      (tc, th)
    }
    var (tc, th) = pairWalls()
    if (th > 2.0 * math.max(tc, 1.0)) { val p = pairWalls(); tc = p._1; th = p._2 }
    info(f"q_cooccur: base=$tc%.2fs glossary=$th%.2fs")
    assert(th <= 2.0 * math.max(tc, 1.0), f"glossary doc blew up the basket join: base=$tc%.2fs glossary=$th%.2fs")
    // structural: the cap actually engaged — the glossary doc contributes
    // exactly CooccurDocTerms basket rows, not 50k
    val tfDir = graft.core.Tables(spark, dir).documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val keptGlossary = tfDir
      .filter(col("doc_id") === 999999L)
      .withColumn(
        "rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id")
            .orderBy(md5(col("term").cast("binary")), col("term"))
        )
      )
      .filter(col("rn") <= graft.queries.TextQueries.CooccurDocTerms)
      .count()
    assert(keptGlossary == graft.queries.TextQueries.CooccurDocTerms.toLong)
  }

  test("decontam n-gram semi-join stays bounded under corpus-wide boilerplate grams") {
    // the hazard for any gram-overlap scan is a boilerplate gram present
    // in EVERY document: a pair-generating join would fan out to n_test ×
    // n_train rows per shared gram. q_decontam_ngram's shape is immune by
    // construction — the leak side is collapsed to DISTINCT grams (the
    // universal gram is ONE row) and the test side LEFT SEMI probes it
    // (never fans out) — and this proves it: wall on a fully boilerplated
    // corpus stays within the pathology factor of the clean fixture, while
    // every test doc is correctly flagged through the shared prefix.
    val dir = s"$root/decontam"
    StressGen.boilerplateCorpus(spark, base, dir, n = 300)
    var tBase = timed("q_decontam_ngram", base)
    var tBoil = timed("q_decontam_ngram", dir)
    if (tBoil > Factor * math.max(tBase, 1.0)) {
      info(f"retrying after suspicious first measurement (base=$tBase%.2fs boiler=$tBoil%.2fs)")
      tBase = timed("q_decontam_ngram", base)
      tBoil = timed("q_decontam_ngram", dir)
    }
    info(f"q_decontam_ngram: base=$tBase%.2fs boilerplated=$tBoil%.2fs")
    assert(
      tBoil <= Factor * math.max(tBase, 1.0),
      f"boilerplate grams blew up the decontam scan: base=$tBase%.2fs boiler=$tBoil%.2fs"
    )
    val rows = SparkEntry.queries("q_decontam_ngram")(spark, dir).collect()
    assert(rows.nonEmpty, "the boilerplated corpus must have test-split docs with grams")
    assert(
      rows.forall(_.getAs[Int]("flagged") == 1),
      "every test doc shares the corpus-wide prefix and must be flagged"
    )
  }

  test("boilerplate prefix: segment dedup BEFORE MinHash collapses a quadratic candidate set") {
    // corpus-wide boilerplate is the pathology band buckets cannot defend
    // alone: a shared 64-word prefix lifts every pairwise shingle Jaccard
    // toward ~0.4, so a large fraction of ALL O(n²) pairs share a band.
    // The pipeline's defense is ORDERING — C4/CCNet run sub-document
    // exact dedup before MinHash — and this proves it quantitatively.
    val dir = s"$root/boiler"
    StressGen.boilerplateCorpus(spark, base, dir, n = 300)
    val docs = graft.core.Tables(spark, dir).documents
    val n    = docs.count()
    assert(n == 300)
    // hazard half: raw band candidates on the boilerplated corpus are a
    // large fraction of all n(n-1)/2 pairs — quadratic, not linear
    val rawCand  = graft.ext.Dedup.candidatePairs(docs).count()
    val allPairs = n * (n - 1) / 2
    assert(rawCand > allPairs / 5, s"pathology did not manifest: $rawCand of $allPairs pairs")
    // defense half: segment dedup strips the prefix (only the globally
    // first doc keeps those 8 segments), and candidates over the CLEANED
    // text collapse to a linear trickle
    val cleaned = SparkEntry
      .queries("q_segment_dedup")(spark, dir)
      .select(col("doc_id"), col("clean_text").as("text"))
    val cleanCand = graft.ext.Dedup.candidatePairs(cleaned).count()
    info(s"candidates: raw=$rawCand (of $allPairs pairs) cleaned=$cleanCand")
    assert(cleanCand < 5 * n, s"cleaned corpus still quadratic: $cleanCand candidates")
  }
}
