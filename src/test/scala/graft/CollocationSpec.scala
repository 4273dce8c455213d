package graft

import org.apache.spark.sql.functions._

/** Semantics of the text-mining statistics beyond their oracle hashes:
  * PMI's association invariants checked against a driver-side replay of
  * the corpus, and the BPE pair table cross-checked against an exact
  * in-memory recount on the fixture.
  */
class CollocationSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Driver-side token replay of the sf0.001 corpus (500 docs — small
    * enough to recount exactly in memory, which is the point of the spec).
    */
  private lazy val docTokens: Seq[Array[String]] =
    graft.core
      .Tables(spark, sf)
      .documents
      .select(lower(col("text")))
      .collect()
      .map(_.getString(0).split(" ", -1))
      .toSeq

  test("q_pmi_bigrams: counts match an exact replay and lift is the pinned integer form") {
    val rows = graft.queries.Registry.queries("q_pmi_bigrams")(spark, sf).collect()
    assert(rows.length == 50, s"expected top-50, got ${rows.length}")

    val uni = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val bi  = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    docTokens.foreach { t =>
      t.foreach(w => uni(w) += 1)
      t.sliding(2).foreach { case Array(a, b) => bi((a, b)) += 1; case _ => () }
    }
    val n = uni.values.sum

    var prev = Long.MaxValue
    rows.foreach { r =>
      val (w1, w2)             = (r.getString(0), r.getString(1))
      val (cxy, cx, cy, lift)  =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(cxy == bi((w1, w2)), s"($w1,$w2) c_xy=$cxy, replay says ${bi((w1, w2))}")
      assert(cx == uni(w1) && cy == uni(w2), s"($w1,$w2) unigram counts drifted")
      assert(cxy >= 5L, s"($w1,$w2) below min support")
      assert(cxy <= math.min(cx, cy), s"($w1,$w2) bigram count exceeds a unigram count")
      assert(lift == ((cxy * 1000000L) / cx) * n / cy, s"($w1,$w2) lift not the pinned form")
      assert(lift <= prev, "result not sorted by lift desc")
      prev = lift
    }

    // the top-50 really are the 50 best: no unreturned supported pair beats
    // the worst returned lift (ties broken by (w1, w2) order are allowed)
    val returned = rows.map(r => (r.getString(0), r.getString(1))).toSet
    val floor    = rows.last.getLong(5)
    val better = bi.collect {
      case ((a, b), c) if c >= 5L && !returned((a, b)) =>
        ((c * 1000000L) / uni(a)) * n / uni(b)
    }
    assert(better.forall(_ <= floor), "an unreturned pair beats the returned floor")
  }

  test("q_cooccur: counts match an exact doc-set replay; stopword cap and support hold") {
    val rows = graft.queries.Registry.queries("q_cooccur")(spark, sf).collect()
    assert(rows.length == 50)

    val docSets = docTokens.map(_.toSet)
    val n       = docSets.length.toLong
    val df      = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docSets.foreach(_.foreach(w => df(w) += 1))
    val dfxy = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    docSets.foreach { s =>
      val kept = s.filter(w => df(w) * 10 <= n * 8).toSeq.sorted
      for (i <- kept.indices; j <- (i + 1) until kept.length)
        dfxy((kept(i), kept(j))) += 1
    }
    rows.foreach { r =>
      val (t1, t2) = (r.getString(0), r.getString(1))
      assert(df(t1) * 10 <= n * 8 && df(t2) * 10 <= n * 8, s"($t1,$t2) breaches the stopword cap")
      assert(r.getLong(2) == dfxy((t1, t2)), s"($t1,$t2) df_xy drifted from replay")
      assert(r.getLong(2) >= 50L, s"($t1,$t2) below min support")
      assert(r.getLong(3) == df(t1) && r.getLong(4) == df(t2), s"($t1,$t2) df drifted")
      assert(
        r.getLong(5) == ((r.getLong(2) * 1000000L) / df(t1)) * n / df(t2),
        s"($t1,$t2) lift not the pinned integer form"
      )
    }
  }

  test("q_bpe_pairs: pair mass matches an exact replay and the argmax is the true first merge") {
    val rows = graft.queries.Registry.queries("q_bpe_pairs")(spark, sf).collect()
    assert(rows.length == 50)

    val pairs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docTokens.foreach(_.foreach { w =>
      var i = 0
      while (i < w.length - 1) {
        pairs(s"${w(i)} ${w(i + 1)}") += 1
        i += 1
      }
    })
    rows.foreach { r =>
      assert(
        r.getLong(1) == pairs(r.getString(0)),
        s"pair '${r.getString(0)}' n=${r.getLong(1)}, replay says ${pairs(r.getString(0))}"
      )
    }
    // the first BPE merge (max count, pair-string tie-break) heads the table
    val expectedTop = pairs.toSeq.sortBy { case (p, c) => (-c, p) }.head
    assert(
      (rows(0).getString(0), rows(0).getLong(1)) == expectedTop,
      s"argmax ${rows(0).getString(0)} != replay ${expectedTop._1}"
    )
  }

  test("q_bpe_merges: the K-merge training loop matches an exact greedy replay") {
    val rows = graft.queries.Registry.queries("q_bpe_merges")(spark, sf).collect()
    assert(rows.length == 8)

    val freq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docTokens.foreach(_.foreach(w => freq(w) += 1))
    var vocab: Seq[(Vector[String], Long)] = freq.toSeq.collect {
      case (w, f) if w.length >= 2 => (w.map(_.toString).toVector, f)
    }
    val expected = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    for (_ <- 1 to 8) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (sy, f) =>
        sy.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) += f
          case _         => ()
        }
      }
      val ((a, b), n) = counts.toSeq.sortBy { case ((x, y), c) => (-c, s"$x $y") }.head
      expected += ((s"$a $b", n))
      // greedy left-to-right non-overlapping merge — the replace() semantics
      vocab = vocab.map { case (sy, f) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i   = 0
        while (i < sy.length) {
          if (i < sy.length - 1 && sy(i) == a && sy(i + 1) == b) { out += (a + b); i += 2 }
          else { out += sy(i); i += 1 }
        }
        (out.toVector, f)
      }
    }
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i + 1L, s"rank ${r.getLong(0)} at position $i")
      assert(
        (r.getString(1), r.getLong(2)) == expected(i),
        s"merge ${i + 1}: got (${r.getString(1)}, ${r.getLong(2)}), replay says ${expected(i)}"
      )
    }
    // merge mass is non-increasing: a post-merge pair is a sub-pattern of a
    // pre-merge pair, so no later argmax can exceed an earlier one
    val ns = rows.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (x, y) => x >= y }, s"merge counts not non-increasing: ${ns.toSeq}")
  }

  test("q_dsir_weights: English target docs score above non-English, ppm form pinned") {
    val weights = graft.queries.Registry.queries("q_dsir_weights")(spark, sf).collect()
    val langs = graft.core
      .Tables(spark, sf)
      .documents
      .select("doc_id", "lang")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(weights.length == langs.size)
    weights.foreach { r =>
      val (n, d, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val expected    = if (d >= 0) d * 1000000L / n else -((-d) * 1000000L / n)
      assert(ppm == expected, s"doc ${r.getLong(0)}: ppm $ppm not the sign-safe pinned form")
    }
    // the method's whole point: target-language docs rank above the rest
    val (en, rest) = weights.partition(r => langs(r.getLong(0)) == "en")
    val enMean     = en.map(_.getLong(3)).sum / en.length
    val restMean   = rest.map(_.getLong(3)).sum / rest.length
    assert(
      enMean > restMean,
      s"en mean $enMean ppm not above non-en mean $restMean ppm — importance signal inverted"
    )
  }

  test("q_bpe_encode: per-doc token counts match applying the replayed merges") {
    val rows = graft.queries.Registry.queries("q_bpe_encode")(spark, sf).collect()
    assert(rows.length == docTokens.length)

    // replay training (same loop as the merges test), keeping the final
    // per-word segmentation
    val freq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docTokens.foreach(_.foreach(w => freq(w) += 1))
    var vocab: Map[String, Vector[String]] = freq.keysIterator.collect {
      case w if w.length >= 2 => w -> w.map(_.toString).toVector
    }.toMap
    for (_ <- 1 to 8) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (w, sy) =>
        sy.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) += freq(w)
          case _         => ()
        }
      }
      val ((a, b), _) = counts.toSeq.sortBy { case ((x, y), c) => (-c, s"$x $y") }.head
      vocab = vocab.map { case (w, sy) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i   = 0
        while (i < sy.length) {
          if (i < sy.length - 1 && sy(i) == a && sy(i + 1) == b) { out += (a + b); i += 2 }
          else { out += sy(i); i += 1 }
        }
        w -> out.toVector
      }
    }
    def nTok(w: String): Long = vocab.get(w).map(_.length.toLong).getOrElse(w.length.toLong)
    val byId = graft.core
      .Tables(spark, sf)
      .documents
      .select(col("doc_id"), lower(col("text")))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
      .toMap
    rows.foreach { r =>
      val id       = r.getLong(0)
      val expected = byId(id).map(nTok).sum
      assert(
        r.getLong(1) == expected,
        s"doc $id: got ${r.getLong(1)} tokens, replay says $expected"
      )
    }
  }

  test("BPE merge ladder K=32: wall and analysis stay ~linear in K") {
    // The ladder stacks K persist()s with a replace() chain; the 4^K
    // label-prop lesson (GraphSpec's pagerank lineage gate) says nothing
    // may assume "fine at K=8" survives a deeper ladder. Quadrupling K
    // from 8 to 32 must cost ~4x wall (generous 8x bound with a 1 s
    // floor: per-iteration ANALYSIS grows with plan depth, so strict
    // linearity is not expected — exponential blow-up is what this gate
    // exists to catch; the documented escape hatch is a per-iteration
    // localCheckpoint like the graph family's).
    def timedRun(k: Int): (Double, Int) = {
      System.gc()
      val t0 = System.nanoTime()
      val (merges, _) = graft.queries.TextQueries.bpeTrainK(spark, sf, k)
      ((System.nanoTime() - t0) / 1e9, merges.size)
    }
    val (t8, n8)   = timedRun(8)
    val (t32, n32) = timedRun(32)
    info(f"bpe ladder wall: K=8 $t8%.2fs, K=32 $t32%.2fs")
    assert(n8 == 8 && n32 == 32, "merge list must have exactly K entries")
    // retry-once discipline (StressSpec.assertBounded precedent, ADVICE
    // r11): on a loaded 32-thread box scheduler noise inflates any single
    // run 3-8x, so only a REPRODUCED breach fails — a 4^K blow-up lands
    // orders of magnitude past the bound both times, noise does not
    if (t32 > 8.0 * math.max(t8, 1.0)) {
      val (r8, _)  = timedRun(8)
      val (r32, _) = timedRun(32)
      info(f"bpe ladder retry: K=8 $r8%.2fs, K=32 $r32%.2fs")
      assert(
        r32 <= 8.0 * math.max(r8, 1.0),
        f"K=32 wall $r32%.2fs vs K=8 $r8%.2fs (reproduced; first pair $t32%.2f/$t8%.2f) — " +
          "superlinear in K; check the ladder's per-iteration localCheckpoint"
      )
    }
  }

  test("q_repetition drops null-text docs and leaves every other doc's row unchanged") {
    // the DuckDB oracle unnests string_split(NULL, ' ') to no rows, so a
    // null-text doc has no output row there
    val dir = java.nio.file.Files.createTempDirectory("graft-repetition-null")
    try {
      graft.core.Tables(spark, sf).documents
        .withColumn("text", when(col("doc_id") % 7 =!= 0, col("text")))
        .write.parquet(dir.resolve("documents.parquet").toString)
      val withNulls = graft.queries.Registry.queries("q_repetition")(spark, dir.toString).collect()
      val expected  = graft.queries.Registry.queries("q_repetition")(spark, sf).collect()
        .filter(_.getLong(0) % 7 != 0)
      assert(expected.length < 500 && expected.nonEmpty)
      assert(withNulls.toSeq == expected.toSeq)
    } finally graft.ops.Sinks.deleteRecursively(dir)
  }
}
