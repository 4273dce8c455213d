package graft

import graft.ext.SetJoin

/** Exact set-similarity join (prefix filter): completeness and exactness
  * against a driver-side brute-force reference, on a corpus engineered to
  * stress the filter — near-dup pairs, partial overlaps straddling the
  * threshold, sub-3-token (setless) docs, and exact-duplicate texts that
  * exercise the rep pre-collapse path.
  */
class SetJoinSpec extends SparkSpec {

  private def shingleSet(text: String): Set[String] = {
    val toks = text.toLowerCase.split(" ", -1)
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  test("similarityJoin equals brute-force exact Jaccard >= 1/2 over reps") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def sentence(n: Int): String = Seq.fill(n)(pool(rnd.nextInt(pool.size))).mkString(" ")
    val bases = (0 until 40).map { i =>
      // lengths 0..24 words: includes setless docs (< 3 tokens)
      (i.toLong, sentence(i % 25))
    }
    // near-dups: append one word to an existing text (high but < 1 jaccard)
    val nears = (0 until 10).map { i =>
      (100L + i, bases(4 + i)._2 + " omega")
    }
    // exact duplicates of a handful of texts, new ids — the pre-collapse path
    val dups = (0 until 6).map(i => (200L + i, bases(10 + i)._2))
    val docs = (bases ++ nears ++ dups).toDF("doc_id", "text")

    // brute force over representatives (min doc_id per distinct text)
    val all = (bases ++ nears ++ dups)
    val reps = all.groupBy(_._2).map { case (_, g) => g.minBy(_._1) }.toSeq
    val sets = reps.map { case (id, t) => (id, shingleSet(t)) }.filter(_._2.nonEmpty)
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      uni = sa.size + sb.size - inter
      if 2L * inter >= uni
    } yield (a, b, inter.toLong, uni.toLong)).toSet
    assert(expected.nonEmpty, "test corpus produced no qualifying pairs")
    assert(expected.exists(p => p._3 < p._4), "want at least one non-identical pair")

    val got = SetJoin
      .similarityJoin(docs)
      .select("d1", "d2", "inter", "uni")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")

    val plan = SetJoin.similarityJoin(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)

    // the rep collapse filters the family's shingle cache: the only cached
    // (doc_id, sset) relation under the join is Dedup.shingleSets(docs)
    // itself, never a second cache over docs joined with the reps
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    def caches(p: SparkPlan): Seq[InMemoryRelation] =
      adaptiveNodes(p)
        .collect { case s: InMemoryTableScanExec => s.relation }
        .flatMap(r => r +: caches(r.cacheBuilder.cachedPlan))
    val family = graft.ext.Dedup.shingleSets(docs).queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r.cacheBuilder }
      .getOrElse(fail("the family shingle sets are not cached"))
    val ssetCaches = caches(SetJoin.similarityJoin(docs).queryExecution.executedPlan)
      .filter(_.output.map(_.name) == Seq("doc_id", "sset"))
    assert(ssetCaches.nonEmpty && ssetCaches.forall(_.cacheBuilder eq family),
      s"${ssetCaches.map(_.cacheBuilder.cachedPlan.treeString).distinct.mkString("\n")}")

    // salted enumeration at fan-outs beyond the session-derived one (the
    // first assertion above already covers it via similarityJoin): every
    // pair must meet exactly once regardless of saltB, so a non-dividing
    // fan-out (3) and the derivation's cap (64, larger than the corpus's
    // per-token groups) pin the meet-exactly-once invariant, not one
    // lucky modulus
    for (b <- Seq(3, 64)) {
      val salted = SetJoin
        .similarityJoinWith(docs, saltB = b)
        .select("d1", "d2", "inter", "uni")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(
        salted == expected,
        s"salted path diverges at saltB=$b: missing=${expected -- salted} extra=${salted -- expected}"
      )
    }
  }

  test("prefix filter prunes: candidate tokens per doc stay under the set size") {
    import spark.implicits._
    // a 9-shingle doc at t=1/2 keeps a 5-token prefix: the equi-join feeds
    // on strictly fewer tokens than the verify pass reads
    val docs = Seq((1L, "a b c d e f g h i j k")).toDF("doc_id", "text")
    val out = SetJoin.similarityJoin(docs)
    assert(out.count() == 0) // single doc: no pairs, but the plan builds
  }

  test("unbroadcast verify chain reshuffles the candidate stream by d1, d2, d1 only") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.ext.Dedup
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.getOption(key)
    // single-key hash exchanges: (key, whether the exchanged rows are the
    // candidate stream, i.e. carry both d1 and d2)
    def exchanges(df: DataFrame): Seq[(String, Boolean)] =
      adaptiveNodes(df.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec =>
          e.outputPartitioning match {
            case HashPartitioning(Seq(a: AttributeReference), _) =>
              (a.name, Seq("d1", "d2").forall(c => e.child.output.exists(_.name == c)))
            case _ => ("", false)
          }
      }
    // at scale every verify join is a sort-merge join; the fixtures are
    // small enough that each one broadcasts, so switch broadcast off
    spark.conf.set(key, "-1")
    val plans =
      try
        Seq(
          "similarityJoin"     -> SetJoin.similarityJoin(docs),
          "nearDuplicates"     -> Dedup.nearDuplicates(docs, 1, 5),
          "ngramVerifiedPairs" -> Dedup.ngramVerifiedPairs(docs)
        ).map { case (name, df) => name -> exchanges(df) }
      finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    for ((name, ex) <- plans) {
      val stream = ex.collect { case (k, true) if k.nonEmpty => k }
      // the Width spread and the string tier's last join on d1; ONE d2
      // reshuffle, which the hash tier's h2 join and the string tier's s2
      // join share
      assert(stream.count(_ == "d1") == 2, s"$name: $ex")
      assert(stream.count(_ == "d2") == 1, s"$name: $ex")
    }
    // similarityJoin in full — d1: the Width spread, the h1 and s1 sides,
    // one stream reshuffle; d2: the h2 and s2 sides and the one stream
    // reshuffle
    val setJoinKeys = plans.head._2.map(_._1)
    assert(setJoinKeys.count(_ == "d1") == 4, setJoinKeys)
    assert(setJoinKeys.count(_ == "d2") == 3, setJoinKeys)
  }
}
