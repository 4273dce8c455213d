package graft

import org.scalacheck.{Gen, Prop, Test => ScTest}

import graft.ops.{GroupStage, MapStage, ReduceStage}

/** Property tests over random corpora (FIXTURES.md §2): invariants that must
  * hold for ANY input, not just the goldens. Runs scalacheck directly (the
  * scalatestplus bridge isn't on the offline classpath).
  */
class PropertySpec extends SparkSpec {

  private def check(p: Prop, minSuccessful: Int = 50): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(minSuccessful), p)
    assert(res.passed, res.status.toString)
  }

  private val lineGen: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaLowerStr.map(_.take(6)), Gen.const(""))).map(_.mkString(" "))
  private val corpusGen: Gen[List[String]] = Gen.listOfN(30, lineGen)

  test("word_count counts sum to the total token count of the corpus") {
    check(Prop.forAll(corpusGen) { corpus =>
      val mapped  = corpus.flatMap(MapStage.wcMap)
      val grouped = mapped.sorted
      val reduced = ReduceStage.wcReduce(grouped.iterator.map((_, 1L))).toList
      val totalFromCounts = reduced.map(_.split("\t")(1).toLong).sum
      totalFromCounts == mapped.size.toLong
    })
  }

  test("grep output lines are a subset of (stripped) input lines") {
    check(Prop.forAll(corpusGen) { corpus =>
      val mapped  = corpus.flatMap(MapStage.grepMap("a"))
      val reduced = ReduceStage.grepReduce(mapped.iterator.map((_, 1L))).toList
      reduced.forall(l => corpus.map(_.trim).contains(l))
    })
  }

  test("router (both modes) partitions the multiset exactly, one bucket per line") {
    check(Prop.forAll(corpusGen, Gen.choose(1, 5)) { (corpus, n) =>
      val data = corpus.flatMap(MapStage.wcMap)
      Prop.all(Seq(true, false).map { parity =>
        val lines = spark.sparkContext.parallelize(if (data.isEmpty) List("\t1") else data, 3)
        val parts = GroupStage(lines, n, parity)
          .mapPartitionsWithIndex { case (i, it) => it.map(l => (l, i)) }
          .collect()
        val multisetOk = parts.map(_._1).sorted.toSeq ==
          (if (data.isEmpty) List("\t1") else data).sorted
        val oneBucket = parts.groupBy(_._1).values.forall(_.map(_._2).distinct.length == 1)
        Prop(multisetOk && oneBucket)
      }: _*)
    }, minSuccessful = 10)
  }

  test("wcReduce output keys are the distinct input keys in order") {
    check(Prop.forAll(corpusGen) { corpus =>
      val grouped = corpus.flatMap(MapStage.wcMap).sorted
      val keys    = ReduceStage.wcReduce(grouped.iterator.map((_, 1L))).map(_.split("\t")(0)).toList
      val expect  = grouped.map(l => l.substring(0, l.indexOf('\t'))).distinct
      keys == expect
    })
  }

  /** A sorted reduce input — wc and grep mapper lines, lines with no tab
    * and with two, always one duplicated line — cut into a counted stream
    * at random: each run of equal lines becomes one or more adjacent
    * `(line, count)` entries, and the first run of several copies is
    * always split.
    */
  private val countedGen: Gen[List[(String, Long)]] = for {
    corpus <- corpusGen
    extra  <- Gen.listOf(Gen.oneOf("a\tb\tc", "notab", " 1\tpad ", "a\t", "\t"))
    seed   <- Gen.long
  } yield {
    val lines = (corpus.flatMap(MapStage.wcMap) ++ corpus.flatMap(MapStage.grepMap("a")) ++ extra ++
      Seq("dup\t1", "dup\t1")).sortWith(GroupStage.compareLines(_, _) < 0)
    val rnd   = new scala.util.Random(seed)
    var split = false
    runs(lines).flatMap { case (line, n) =>
      val pieces = if (n > 1 && !split) { split = true; 2 + rnd.nextInt(n.toInt - 1) } else 1 + rnd.nextInt(n.toInt)
      val cuts   = (rnd.shuffle((1L until n).toList).take(pieces - 1) :+ 0L :+ n).sorted
      cuts.lazyZip(cuts.drop(1)).map((a, b) => (line, b - a))
    }
  }

  /** Runs of adjacent equal elements, with their lengths. */
  private def runs(xs: List[String]): List[(String, Long)] =
    xs.foldLeft(List.empty[(String, Long)]) {
      case ((x, n) :: rest, y) if x == y => (x, n + 1) :: rest
      case (acc, y)                      => (y, 1L) :: acc
    }.reverse

  test("wcReduce and grepReduce over the counted stream equal their line-by-line models") {
    def wcModel(lines: List[String]): List[String] =
      runs(lines.map(l => l.takeWhile(_ != '\t'))).map { case (k, n) => s"$k\t$n" }
    def grepModel(lines: List[String]): List[String] =
      lines.map(_.trim.split("\t", -1)).collect { case Array(_, v) => v }
    check(Prop.forAll(countedGen) { counted =>
      val lines = counted.flatMap { case (l, n) => List.fill(n.toInt)(l) }
      val split = counted.lazyZip(counted.drop(1)).exists((a, b) => a._1 == b._1)
      split &&
      ReduceStage.wcReduce(counted.iterator).toList == wcModel(lines) &&
      ReduceStage.grepReduce(counted.iterator).toList == grepModel(lines)
    }, minSuccessful = 200)
  }

  /** Summed counts per line: equal for two count streams that flushed their
    * tables at different points.
    */
  private def totals(counts: Iterator[(String, Long)]): Map[String, Long] =
    counts.toList.groupMapReduce(_._1)(_._2)(_ + _)

  test("fused wcCounts equals combine over wcMap's lines") {
    // mixed-case ASCII, runs of the four separators (at line ends too),
    // empty lines, and non-ASCII lines: İ lowercases to two chars, Σ to ς
    // at a word's end and σ inside one, ß stays, and a surrogate pair
    val piece = Gen.frequency(
      6 -> Gen.alphaStr.map(_.take(5)),
      3 -> Gen.oneOf(" ", "\t", "[", "]", "  ", " \t[", "]]", "[ ]\t"),
      1 -> Gen.oneOf("\u0130", "\u039f\u0394\u039f\u03a3", "\u03a3A", "stra\u00dfe", "\ud83d\ude00", "x\u00c9")
    )
    val lines = Gen.listOf(Gen.oneOf(Gen.const(""), Gen.listOf(piece).map(_.mkString)))
    check(Prop.forAll(lines) { ls =>
      totals(MapStage.wcCounts(ls.iterator)) == totals(GroupStage.combine(ls.iterator.flatMap(MapStage.wcMap)))
    }, minSuccessful = 300)
    // more distinct tokens than the table bound: it flushes, and "The" /
    // "the" come out in several partial counts that still sum right
    val wide = (0 until GroupStage.CombineBound + 5000 by 8)
      .map(i => (i until i + 8).map(j => s"T$j").mkString("The ", " ", "\tthe"))
    val flushed = MapStage.wcCounts(wide.iterator).toList
    assert(flushed.count(_._1 == "the\t1") > 1)
    assert(totals(flushed.iterator) == totals(GroupStage.combine(wide.iterator.flatMap(MapStage.wcMap))))
  }

  test("compareLines equals comparing the lines with a trailing newline appended") {
    // chars straddling '\n' (0x0A): '\u0001' and '\t' sort below it
    val charGen = Gen.oneOf('\u0001', '\t', '\n', '\u000b', ' ', 'a', 'b', '\u00e9')
    val strGen  = Gen.oneOf(Gen.const(""), Gen.listOf(charGen).map(_.mkString))
    val pairGen = for {
      a      <- strGen
      suffix <- strGen
      other  <- strGen
      b      <- Gen.oneOf(a, a + suffix, other)
      swap   <- Gen.oneOf(true, false)
    } yield if (swap) (b, a) else (a, b)
    check(Prop.forAll(pairGen) { case (a, b) =>
      GroupStage.compareLines(a, b) == (a + "\n").compareTo(b + "\n")
    }, minSuccessful = 500)
  }

  // ---- binary header parsers: total functions over arbitrary bytes ------

  private val bytesGen: Gen[Array[Byte]] =
    Gen.chooseNum(0, 256).flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))

  /** Adversarial payloads: valid magic prefixes followed by random bytes —
    * the inputs most likely to walk a parser off a cliff.
    */
  private val magicBytesGen: Gen[Array[Byte]] = for {
    magic <- Gen.oneOf(
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte),
      "GIF89a".getBytes,
      Array(0xff, 0xd8, 0xff).map(_.toByte),
      "RIFF0000WAVE".getBytes,
      Array[Byte](0, 0, 0, 16) ++ "ftyp".getBytes,
      Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes ++ Array[Byte](0, 0, 0, 0, 0, 0, 0, 1) ++ "moov".getBytes
    )
    tail <- Gen.listOfN(64, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield magic ++ tail.toArray

  test("zaddrOf interleaves losslessly: deinterleave recovers both masked keys") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val xs  = List.fill(500)((rnd.nextLong().abs % 1000000L, rnd.nextLong().abs % 1000000L))
    val got = xs
      .toDF("a", "b")
      .select(col("a"), col("b"), graft.queries.Relational.zaddrOf(col("a"), col("b")).as("z"))
      .collect()
    def deinterleave(z: Long): (Long, Long) = {
      var (a, b) = (0L, 0L)
      for (i <- 0 until 16) {
        a |= ((z >> (2 * i)) & 1L) << i
        b |= ((z >> (2 * i + 1)) & 1L) << i
      }
      (a, b)
    }
    got.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(deinterleave(z) == (a & 0xffffL, b & 0xffffL), s"round-trip failed for ($a, $b) -> $z")
    }
  }

  test("imageDims, wavMeta, and mp4Meta never throw and terminate on arbitrary bytes") {
    check(Prop.forAll(Gen.oneOf(bytesGen, magicBytesGen)) { b =>
      // totality is the property: any exception fails the prop; a hang
      // fails the suite timeout. Returned values are checked by the
      // golden/oracle tests — here only "parses or declines cleanly".
      graft.ext.Multimodal.imageDims(b)
      graft.ext.Multimodal.wavMeta(b)
      graft.ext.Multimodal.mp4Meta(b)
      Prop.passed
    }, minSuccessful = 200)
  }

  test("ImageCodec.decode never throws on arbitrary PNG bytes; encodePng∘decode is the identity") {
    // totality on garbage (incl. PNG-signature-prefixed garbage, and the
    // same with a valid IEND trailer so it reaches the JDK reader)
    val sig  = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val iend = Array(0, 0, 0, 0, 0x49, 0x45, 0x4e, 0x44, 0xae, 0x42, 0x60, 0x82).map(_.toByte)
    check(Prop.forAll(Gen.oneOf(bytesGen, bytesGen.map(sig ++ _), bytesGen.map(sig ++ _ ++ iend))) { b =>
      graft.ext.ImageCodec.decode(b)
      Prop.passed
    }, minSuccessful = 200)
    // round-trip: any raster of any supported geometry/channel count comes
    // back bit-exact
    val rasterGen = for {
      w  <- Gen.choose(1, 40)
      h  <- Gen.choose(1, 24)
      ch <- Gen.oneOf(1, 2, 3, 4)
      px <- Gen.containerOfN[Array, Byte](w * h * ch, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (w, h, ch, px)
    check(Prop.forAll(rasterGen) { case (w, h, ch, px) =>
      val img = graft.ext.ImageCodec.decode(graft.ext.ImageCodec.encodePng(w, h, ch, px))
      img.exists(i => i.width == w && i.height == h && i.channels == ch && i.pixels.sameElements(px))
    }, minSuccessful = 100)
  }

  test("Gif.decode and ImageCodec.decode never throw and terminate on arbitrary bytes") {
    // same totality contract as the PNG/MP4 walks: untrusted media bytes
    // may decline (None) but never throw, hang, or index out of bounds —
    // including signature-prefixed garbage that reaches the LZW decoder
    // and the JDK readers, and bit-flipped mutations of VALID files whose
    // tables and length fields are then internally inconsistent
    val gifSig  = "GIF89a".getBytes.toSeq
    val jpegSig = Seq(0xff, 0xd8, 0xff, 0xe0).map(_.toByte)
    val validGif = graft.ext.ImageCodec.encodeGif(
      9, 7, Array.tabulate(48)(i => (i * 11).toByte), Array.tabulate(63)(i => (i % 16).toByte))
    val gray = Array.tabulate[Byte](9 * 7)(i => ((i % 9 * 29 + i / 9 * 17) % 256).toByte)
    val validJpeg = graft.ext.ImageCodec.encodeJpeg(9, 7, 1, gray, 0.75f)
    val validPng  = graft.ext.ImageCodec.encodePng(9, 7, 1, gray)
    def mutGen(valid: Array[Byte]): Gen[Array[Byte]] =
      for {
        n    <- Gen.choose(1, 8)
        idxs <- Gen.listOfN(n, Gen.choose(2, valid.length - 1))
        vals <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
      } yield {
        val m = valid.clone()
        idxs.zip(vals).foreach { case (i, v) => m(i) = v }
        m
      }
    check(Prop.forAll(Gen.oneOf(
      bytesGen,
      bytesGen.map(gifSig.toArray ++ _),
      bytesGen.map(jpegSig.toArray ++ _),
      mutGen(validGif),
      mutGen(validJpeg),
      mutGen(validPng)
    )) { b =>
      graft.ext.Gif.decode(b)
      graft.ext.ImageCodec.decode(b)
      Prop.passed
    }, minSuccessful = 400)
  }

  test("q_skyline equals the brute-force Pareto frontier of the fixture grid") {
    val sf  = "/root/testdata/sf0.001"
    val got = graft.queries.Relational.qSkyline
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val pts = graft.core.Tables(spark, sf).lineitem
      .selectExpr(
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS LONG) AS p",
        "CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS LONG) AS d"
      )
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    def dominated(a: (Long, Long)): Boolean = pts.exists { b =>
      b._1 <= a._1 && b._2 >= a._2 && (b._1 < a._1 || b._2 > a._2)
    }
    val brute = pts.filterNot(dominated)
    assert(got == brute, s"frontier mismatch: got ${got.size}, brute ${brute.size}")
    assert(got.nonEmpty)
  }
}
