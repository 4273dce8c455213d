package graft

import graft.ext.{Dedup, Multimodal, SemDedup, SimHash, Similarity}
import graft.core.Tables

/** Behavioral specs for the LLM-pipeline extension operators. */
class ExtSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("simhash64 is deterministic and near-dup-sensitive") {
    val a = SimHash.simhash64(SimHash.tokenize("the quick brown fox jumps over the lazy dog"))
    val b = SimHash.simhash64(SimHash.tokenize("the quick brown fox jumps over the lazy dog"))
    val c = SimHash.simhash64(SimHash.tokenize("the quick brown fox jumped over the lazy dog"))
    val d = SimHash.simhash64(SimHash.tokenize("completely different words entirely unrelated text"))
    assert(a == b)
    assert(java.lang.Long.bitCount(a ^ c) < java.lang.Long.bitCount(a ^ d))
  }

  test("simhash near-dup pairs are symmetric-free (d1 < d2) and within distance") {
    val pairs = SimHash
      .nearDupPairs(spark, Tables(spark, sf).documents, 3)
      .collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= 3 || r.getLong(2) <= 3)
    }
  }

  test("exact dedup groups sum to the corpus size") {
    val total = Dedup.dedupExact
      .fn(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("copies"))
      .collect()(0)
      .getLong(0)
    assert(total == Tables(spark, sf).documents.count())
  }

  test("jaccard histogram partitions the candidate set and brackets the 0.2 verify tier") {
    val hist = graft.queries.Registry
      .queries("q_jaccard_histogram")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(hist.forall { case (b, n) => b >= 0L && b <= 20L && n > 0L })
    // every candidate pair lands in exactly one bucket
    val nCand = Dedup.candidatePairs(Tables(spark, sf).documents).count()
    assert(hist.map(_._2).sum == nCand, s"histogram mass ${hist.map(_._2).sum} != candidates $nCand")
    // bucket >= 4 ⟺ 20·inter >= 4·uni ⟺ jaccard >= 1/5 exactly, which is
    // the same pair set the 0.2-threshold verify tier admits
    val nVerified = Dedup.nearDuplicates(Tables(spark, sf).documents, 1, 5).count()
    assert(
      hist.collect { case (b, n) if b >= 4L => n }.sum == nVerified,
      "buckets >= 4 disagree with the 0.2 verify tier"
    )
  }

  test("exact duplicates pre-collapse: injected copies vanish from candidates, structure survives") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf).documents.select("doc_id", "text")
    // inject exact duplicates: copies of docs 0..4 under ids 10000..10004 —
    // identical text ⇒ identical signature ⇒ the UNCOLLAPSED shape puts
    // every copy in every band its original occupies
    val dups = docs.filter(col("doc_id") < 5).select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val corpus = docs.union(dups)
    val candidates = Dedup
      .candidatePairs(corpus)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // the collapse routes each copy to its representative (the original,
    // which has the smaller id): no candidate pair may touch a copy id...
    assert(candidates.forall { case (a, b) => a < 10000L && b < 10000L },
      s"member ids leaked into candidates: ${candidates.filter(p => p._1 >= 10000L || p._2 >= 10000L)}")
    // ...and the rep-level candidate structure is EXACTLY the original
    // corpus's (reps of the dup-injected corpus are the original docs), so
    // no cross-text candidate was lost to the collapse
    val original = Dedup
      .candidatePairs(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(candidates == original, "collapse changed the cross-text candidate structure")
    // precondition for the equality above: the base fixture is dup-free
    // (otherwise the originals would collapse among themselves too)
    val dupGroups = Dedup.dedupExact.fn(spark, sf).filter(col("copies") > 1).count()
    assert(dupGroups == 0L, "base fixture must be dup-free for this equality to hold")
  }

  test("brute-force top-k cosine ranks the query vector itself first") {
    val top = Similarity.topKCosine(Tables(spark, sf).embeddings, 0L, 10).collect()
    assert(top.head.getLong(1) == 0L, "query vector must be its own nearest neighbor")
    assert(top.length == 10)
  }

  test("LSH ANN results are a subset of the vector universe with rank 1 = query") {
    val ann = Similarity.annTopKLsh(Tables(spark, sf).embeddings, 0L, 10).collect()
    assert(ann.nonEmpty)
    assert(ann.head.getLong(1) == 0L)
  }

  test("LSH ANN recall vs brute force is reasonable on the fixture") {
    val exact = Similarity
      .topKCosine(Tables(spark, sf).embeddings, 0L, 10)
      .collect()
      .map(_.getLong(1))
      .toSet
    val ann = Similarity
      .annTopKLsh(Tables(spark, sf).embeddings, 0L, 10)
      .collect()
      .map(_.getLong(1))
      .toSet
    // 8-plane sign-LSH on 64-dim random vectors: the bucket is a coarse
    // filter; require the query itself plus >= 20% overlap
    assert(ann.contains(0L))
    assert((exact intersect ann).size >= 2, s"recall too low: ${(exact intersect ann).size}/10")
  }

  test("SQ8 ANN: codes are bounded int8, rank 1 = query, high recall vs brute force") {
    val emb = Tables(spark, sf).embeddings
    val qz  = Similarity.sq8Quantized(emb).collect()
    qz.foreach { r =>
      val codes = r.getSeq[Float](r.fieldIndex("qv"))
      assert(codes.forall(c => c >= -127f && c <= 127f && c == math.rint(c).toFloat))
      assert(codes.exists(c => math.abs(c) == 127f), "scale must map max|x| to ±127")
    }
    val sq8 = Similarity
      .annTopKSq8(emb, 0L, 10, 30)
      .collect()
    assert(sq8.head.getLong(1) == 0L, "query vector must be its own nearest neighbor")
    val exact = Similarity.topKCosine(emb, 0L, 10).collect().map(_.getLong(1)).toSet
    val got   = sq8.map(_.getLong(1)).toSet
    // int8 quantization of 64-dim vectors keeps relative dot-product error
    // ~1/127 — with a 3x re-rank pool the top-10 should be nearly exact
    assert((exact intersect got).size >= 8, s"recall too low: ${(exact intersect got).size}/10")
  }

  test("embedding near-dup pairs: non-vacuous, sound, and exact-dup complete") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf).embeddings
    val pairs = Similarity.nearDupPairs(emb, Similarity.NearDupTau).collect()
    // non-vacuous: the fixture has 66 pairs with cos >= 0.4 at sf0.001 and
    // 4x6-plane LSH catches each with p ~ 0.23 — P(zero rows) ~ 1e-7
    assert(pairs.nonEmpty, "near-dup query returned 0 rows — vacuous check")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= Similarity.NearDupTau)
    }
    // soundness: every reported pair must be a true >= tau pair under
    // brute-force exact cosine (independent of the LSH bucketing)
    val reported = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = emb.alias("a")
      .join(emb.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("v1"),
        col("b.vec_id").as("v2"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos")
      )
      .filter(col("cos") >= Similarity.NearDupTau)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(reported.subsetOf(truth), s"false positives: ${reported.diff(truth)}")
    // completeness on exact duplicates: an identical vector lands in the
    // same bucket in EVERY table, so the pair MUST be reported
    val dup = emb.filter(col("vec_id") === 0L).select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val withDup = emb.select("vec_id", "embedding").union(dup)
    val dupPairs = Similarity.nearDupPairs(withDup, Similarity.NearDupTau)
      .filter(col("v1") === 0L && col("v2") === 10000L)
      .collect()
    assert(dupPairs.length == 1, "injected exact duplicate pair not reported")
    assert(math.abs(dupPairs(0).getDouble(2) - 1.0) < 1e-12)
  }

  test("kNN join: ranks contiguous per vector, no self-pairs, verified against brute force") {
    import org.apache.spark.sql.functions._
    val emb  = Tables(spark, sf).embeddings
    val knn  = Similarity.knnJoin(emb, 3).collect()
    assert(knn.nonEmpty, "kNN join returned 0 rows — vacuous")
    val byVec = knn.groupBy(_.getLong(0))
    byVec.foreach { case (vid, rows) =>
      val ranks = rows.map(_.getLong(1)).sorted
      assert(ranks.sameElements(1L to ranks.length), s"ranks for $vid not contiguous: ${ranks.mkString(",")}")
      assert(rows.forall(_.getLong(2) != vid), "self-pair in kNN output")
    }
    // soundness of ordering: each vector's rank-1 neighbor must beat (or
    // tie) its other reported neighbors under exact brute-force cosine
    val cosOf = emb.alias("a")
      .join(emb.alias("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(
        col("a.vec_id").as("v1"),
        col("b.vec_id").as("v2"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos")
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    byVec.foreach { case (vid, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(
            cosOf((vid, hi.getLong(2))) >= cosOf((vid, lo.getLong(2))),
            s"rank order for $vid disagrees with exact cosine"
          )
        case _ => ()
      }
    }
    // recall floor: the fixture is RANDOM 64-dim gaussians, so each
    // vector's "nearest" neighbor is barely off-orthogonal (cos ~0.3-0.5,
    // θ ~60-70°) — the worst case for sign-LSH by construction (p_agree
    // per plane ~0.65, so a 6-plane bucket collides with p ~0.08 per
    // table; ~27% union over 4 tables). Real embedding corpora cluster
    // far tighter and recall rises steeply with cos; what the join
    // GUARANTEES is exact-dup completeness (same bucket in every table —
    // asserted in the near-dup test above), and argmax recall is the
    // measured trade, floored at the analytic expectation minus noise.
    val argmax = cosOf.groupBy(_._1._1).map { case (v, m) => v -> m.maxBy(p => (p._2, -p._1._2))._1._2 }
    val hits = byVec.count { case (vid, rows) =>
      rows.exists(r => r.getLong(2) == argmax(vid))
    }
    info(s"argmax recall: $hits/${byVec.size}")
    assert(hits >= byVec.size * 3 / 20, s"argmax recall too low: $hits/${byVec.size}")
  }

  test("k-means fit converges: within-cluster L2 does not increase over iterations") {
    import org.apache.spark.sql.functions._
    val q = graft.ext.Ivf.quantized(Tables(spark, sf).embeddings)
    // Lloyd's guarantees non-increase of total SQUARED distance (the mean
    // minimizes sum-of-squares); rounding means back to the integer grid
    // perturbs that by a relative ~1e-10, absorbed by the 1.0001 slack
    def cost(centroids: Array[(Int, Array[Long])]): Double =
      graft.ext.Ivf
        .assignScored(q, centroids)
        .agg(sum(col("d2").cast("double")))
        .collect()(0)
        .getDouble(0)
    val init   = graft.ext.Ivf.sampleCentroids(q, 8)
    val fitted = graft.ext.Ivf.kmeansFit(q, 8, iters = 3)
    assert(cost(fitted) <= cost(init) * 1.0001, "k-means must not increase total distance")
  }

  test("IVF ANN: rank-1 self-hit and reasonable recall vs brute force") {
    val emb = Tables(spark, sf).embeddings
    val exact = graft.ext.Similarity
      .topKCosine(emb, 0L, 10)
      .collect()
      .map(_.getLong(1))
      .toSet
    val ivf = graft.ext.Ivf.ivfTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    assert(ivf.contains(0L), "query vector must be in its own probed cells")
    // 4/16 cells probed on random vectors: require >= 30% overlap
    assert((exact intersect ivf).size >= 3, s"recall too low: ${(exact intersect ivf).size}/10")
  }

  test("containment reports the inclusion direction Jaccard cannot express") {
    // measure semantics, computed directly over the shingle sets (no band
    // layer): a 12-word passage quoted verbatim inside 20x surrounding
    // text has Jaccard ≈ |small|/|large| ≈ 0.04 — far below every
    // resemblance threshold in the engine — while containment on the
    // small side is exactly 1.0. (Whether such an extreme pair becomes an
    // LSH CANDIDATE is the separate, documented banding-recall trade —
    // q_shared_passages covers guaranteed passage recall.)
    val small  = (0 until 48).map(i => s"w$i").mkString(" ")
    val filler = (0 until 960).map(i => s"f$i").mkString(" ")
    def corpus(rows: Seq[(Long, String)]) =
      spark
        .createDataFrame(rows.map { case (id, t) => (id, t, "en", "src", t.length.toLong) })
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sets = Dedup
      .shingleSets(corpus(Seq((1L, small), (2L, s"$filler $small"))))
      .orderBy("doc_id")
      .collect()
      .map(_.getSeq[String](1).toSet)
    val inter = (sets(0) intersect sets(1)).size.toDouble
    val jac   = inter / (sets(0) union sets(1)).size
    val c12   = inter / sets(0).size
    assert(jac < 0.1, s"Jaccard must be diluted by the 20x filler: $jac")
    assert(c12 >= 0.8, s"small-side containment must expose the inclusion: $c12")
    // pipeline semantics through the real candidate layer: extending a doc
    // by one word keeps the pair a band candidate, and q_containment's
    // output orders the directions correctly (c12 from the smaller set is
    // strictly larger)
    val extended = corpus(Seq((1L, small), (2L, s"$small extraword")))
    val got      = Dedup.containmentPairs(extended, 0.6).collect()
    assert(got.length == 1, s"extended-by-one-word pair must be caught: ${got.length}")
    val r = got.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(3) == 1.0, s"subset side must be fully contained: ${r.getDouble(3)}")
    assert(r.getDouble(4) < 1.0, s"superset side must stay below 1: ${r.getDouble(4)}")
  }

  test("PQ ANN: self-hit at rank 1 and reasonable recall vs brute force") {
    val emb = Tables(spark, sf).embeddings
    val exact = graft.ext.Similarity
      .topKCosine(emb, 0L, 10)
      .collect()
      .map(_.getLong(1))
      .toSet
    val pq = graft.queries.Registry.queries("q_ann_pq")(spark, sf).collect()
    assert(pq.head.getLong(0) == 0L, "query vector must re-rank to the top (cos = 1)")
    val got = pq.map(_.getLong(0)).toSet
    // ADC is an L2 surrogate for the cosine ranking (same trade as IVF's
    // cells); a 50-row shortlist over the fixture then exact re-rank keeps
    // comfortable overlap with brute force
    assert((exact intersect got).size >= 3, s"recall too low: ${(exact intersect got).size}/10")
  }

  test("semdedup: dominance rule keeps exactly the far-from-centroid survivors") {
    val verdict = graft.queries.Registry.queries("q_semdedup")(spark, sf).collect()
    val byId    = verdict.map(r => r.getLong(0) -> r).toMap
    // every vector with no same-cluster tau-neighbor survives trivially
    verdict.foreach(r => if (r.getLong(3) == 0L) assert(r.getInt(4) == 1))
    // a same-cluster tau-pair can never BOTH survive (one dominates)
    val pairs = Similarity
      .nearDupPairs(Tables(spark, sf).embeddings, SemDedup.SemTau)
      .select("v1", "v2")
      .collect()
    var sameCluster = 0
    pairs.foreach { p =>
      val a = byId(p.getLong(0)); val b = byId(p.getLong(1))
      if (a.getInt(1) == b.getInt(1)) {
        sameCluster += 1
        assert(a.getInt(4) == 0 || b.getInt(4) == 0, s"pair ${p} fully survived")
      }
    }
    // the farthest-from-centroid member of each cluster's dup graph has no
    // dominator by construction and MUST survive (the SemDeDup keep-rule)
    verdict.groupBy(_.getInt(1)).foreach { case (_, vs) =>
      val withN = vs.filter(_.getLong(3) > 0L)
      if (withN.nonEmpty) {
        val far = withN.maxBy(r => (r.getLong(2), -r.getLong(0)))
        assert(far.getInt(4) == 1, s"farthest dup member ${far.getLong(0)} was dropped")
      }
    }
    val dropped = verdict.count(_.getInt(4) == 0)
    info(s"same-cluster pairs: $sameCluster; dropped: $dropped/${verdict.length}")
    assert(dropped >= 1, "fixture must exercise at least one semantic drop")
  }

  test("mp4Meta parses canonical and v1-mvhd ISO-BMFF headers, rejects non-MP4") {
    // v0 round-trip through the synthesizer
    val b = Multimodal.mp4HeaderBytes("isom", timescale = 600, duration = 3000, nTracks = 2)
    assert(b.length == 132 + 16)
    assert(Multimodal.mp4Meta(b).contains(("isom", 600L, 5000L, 2)))
    // hand-built v1 mvhd (64-bit times): timescale 1000, duration 2500 -> 2500 ms
    val mvhdV1 = java.nio.ByteBuffer.allocate(120)
    mvhdV1.putInt(120).put("mvhd".getBytes)
    mvhdV1.put(1.toByte).put(new Array[Byte](3)) // version 1 + flags
    mvhdV1.putLong(0L).putLong(0L)               // 64-bit creation/modification
    mvhdV1.putInt(1000).putLong(2500L)
    mvhdV1.put(new Array[Byte](80))
    val moov = java.nio.ByteBuffer.allocate(8 + 120 + 8)
    moov.putInt(8 + 120 + 8).put("moov".getBytes).put(mvhdV1.array()).putInt(8).put("trak".getBytes)
    val ftyp = java.nio.ByteBuffer.allocate(16)
    ftyp.putInt(16).put("ftyp".getBytes).put("mp42".getBytes).putInt(0)
    assert(Multimodal.mp4Meta(ftyp.array() ++ moov.array()).contains(("mp42", 1000L, 2500L, 1)))
    // not MP4: no ftyp leader
    assert(Multimodal.mp4Meta("RIFF....WAVE".getBytes ++ new Array[Byte](32)).isEmpty)
    // ftyp but no moov/mvhd anywhere
    assert(Multimodal.mp4Meta(Multimodal.mp4HeaderBytes("isom", 600, 100, 1).take(16)).isEmpty)
  }

  test("ImageCodec.decode returns the raster samples of ImageIO-written PNGs") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    // gray must come from the raster (getRGB converts linear CS_GRAY), and
    // RGB/RGBA must come out in R, G, B(, A) order whatever the image type
    def deterministicImage(w: Int, h: Int, imgType: Int): BufferedImage = {
      val img = new BufferedImage(w, h, imgType)
      for (y <- 0 until h; x <- 0 until w) {
        val r = (x * 7 + y * 31) % 256
        val g = (x * 13 + y * 3 + 40) % 256
        val b = (x + y * y) % 256
        img.setRGB(x, y, (0xff << 24) | (r << 16) | (g << 8) | b)
      }
      img
    }
    for {
      (w, h)  <- Seq((1, 1), (7, 3), (64, 64), (33, 5))
      imgType <- Seq(BufferedImage.TYPE_INT_RGB, BufferedImage.TYPE_BYTE_GRAY, BufferedImage.TYPE_4BYTE_ABGR)
    } {
      val img  = deterministicImage(w, h, imgType)
      val baos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, "png", baos))
      val decoded = graft.ext.ImageCodec.decode(baos.toByteArray)
      assert(decoded.isDefined, s"decode failed for type=$imgType ${w}x$h")
      val d = decoded.get
      assert((d.width, d.height) == (w, h))
      for (y <- 0 until h; x <- 0 until w) {
        val argb = img.getRGB(x, y)
        val off  = (y * w + x) * d.channels
        val (er, eg, eb) = ((argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff)
        d.channels match {
          case 1 =>
            // TYPE_BYTE_GRAY's setRGB/getRGB round-trips through a
            // colorspace conversion; the PNG carries the RASTER byte
            assert((d.pixels(off) & 0xff) == img.getRaster.getSample(x, y, 0), s"gray ($x,$y)")
          case 3 | 4 =>
            assert((d.pixels(off) & 0xff) == er, s"R ($x,$y) type=$imgType")
            assert((d.pixels(off + 1) & 0xff) == eg, s"G ($x,$y) type=$imgType")
            assert((d.pixels(off + 2) & 0xff) == eb, s"B ($x,$y) type=$imgType")
            if (d.channels == 4)
              assert((d.pixels(off + 3) & 0xff) == ((argb >> 24) & 0xff), s"A ($x,$y)")
          case c => fail(s"unexpected channel count $c")
        }
      }
    }
  }

  test("ImageCodec.decode resolves palette (color type 3) PNGs to RGB") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    import javax.imageio.ImageIO
    // a 256-entry IndexColorModel forces ImageIO's writer to 8-bit palette depth
    val rnd = new scala.util.Random(5)
    val pal = Array.tabulate(256 * 3)(_ => rnd.nextInt(256).toByte)
    val icm = new IndexColorModel(
      8, 256,
      Array.tabulate(256)(i => pal(3 * i)),
      Array.tabulate(256)(i => pal(3 * i + 1)),
      Array.tabulate(256)(i => pal(3 * i + 2))
    )
    val (w, h) = (21, 13)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, (x * 11 + y * 29) % 256)
    val baos = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(img, "png", baos))
    val bytes = baos.toByteArray
    // assert the file really is color type 3 (IHDR byte at offset 25) so
    // this test cannot silently degrade to the RGB path
    assert((bytes(25) & 0xff) == 3, s"writer did not emit a palette PNG (colorType=${bytes(25)})")
    val d = graft.ext.ImageCodec.decode(bytes).getOrElse(fail("palette decode failed"))
    assert(d.width == w && d.height == h && d.channels == 3)
    for (y <- 0 until h; x <- 0 until w) {
      val argb = img.getRGB(x, y)
      val off  = (y * w + x) * 3
      assert((d.pixels(off) & 0xff) == ((argb >> 16) & 0xff), s"R ($x,$y)")
      assert((d.pixels(off + 1) & 0xff) == ((argb >> 8) & 0xff), s"G ($x,$y)")
      assert((d.pixels(off + 2) & 0xff) == (argb & 0xff), s"B ($x,$y)")
    }
  }

  test("ImageCodec.encodePng round-trips through ImageCodec.decode; malformed PNGs yield None") {
    import graft.ext.ImageCodec
    val w = 9; val h = 4
    val px = Array.tabulate(w * h * 3)(i => ((i * 17 + 5) % 256).toByte)
    val bytes = ImageCodec.encodePng(w, h, 3, px)
    val own = ImageCodec.decode(bytes).get
    assert(own.width == w && own.height == h && own.channels == 3)
    assert(own.pixels.sameElements(px))
    // malformed inputs: truncated file (the JDK reader alone accepts a PNG
    // cut inside IEND), forged chunk length, header only, junk
    assert(ImageCodec.decode(bytes.take(bytes.length - 9)).isEmpty, "missing IEND accepted")
    assert(ImageCodec.decode(bytes.take(bytes.length - 1)).isEmpty, "IEND without its CRC accepted")
    val forged = bytes.clone()
    forged(8) = 0x7f.toByte // IHDR length forged huge
    assert(ImageCodec.decode(forged).isEmpty)
    assert(ImageCodec.decode(Multimodal.pngHeaderBytes(5, 5)).isEmpty, "header-only PNG has no IDAT/IEND")
    assert(ImageCodec.decode("not a png at all".getBytes).isEmpty)
    // samples wider than 8 bits do not fit the byte raster
    val deep = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    val deepPng = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(deep, "png", deepPng))
    assert(deepPng.toByteArray()(24) == 16, "expected a 16-bit PNG")
    assert(ImageCodec.decode(deepPng.toByteArray).isEmpty, "16-bit PNG accepted")
    // forged IHDR claiming a ~256 MiB raster over an empty IDAT must be
    // rejected BEFORE the raster allocation (the zlib 1032:1 expansion
    // bound): the JDK reader allocates the declared raster before it reads
    // any pixel data. The second IEND CRC is the real one, so that input
    // gets past the trailer check to the header guard
    for (iendCrc <- Seq(0, 0xae426082)) {
      val forged2 = java.nio.ByteBuffer.allocate(8 + 25 + 12 + 12)
      forged2.put(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      forged2.putInt(13).put("IHDR".getBytes)
      forged2.putInt(1).putInt(1 << 28) // 1 x 268435456 gray
      forged2.put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      forged2.putInt(0) // crc
      forged2.putInt(0).put("IDAT".getBytes).putInt(0)
      forged2.putInt(0).put("IEND".getBytes).putInt(iendCrc)
      val t0 = System.nanoTime()
      assert(ImageCodec.decode(forged2.array()).isEmpty)
      assert((System.nanoTime() - t0) / 1e9 < 1.0, "forged-IHDR rejection allocated/inflated")
    }
  }

  test("Gif.decode matches javax.imageio pixel-for-pixel on ImageIO-written GIFs") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    import javax.imageio.ImageIO
    // explicit IndexColorModel so the writer carries OUR palette instead of
    // quantizing; covers palette sizes that exercise 2-, 4- and 8-bit LZW
    // minimum code sizes
    for (nColors <- Seq(4, 16, 256); (w, h) <- Seq((1, 1), (9, 5), (40, 27), (64, 64))) {
      val r = new scala.util.Random(nColors * 1000 + w)
      val pal = Array.tabulate(nColors * 3)(_ => r.nextInt(256).toByte)
      val icm = new IndexColorModel(
        8, nColors,
        Array.tabulate(nColors)(i => pal(3 * i)),
        Array.tabulate(nColors)(i => pal(3 * i + 1)),
        Array.tabulate(nColors)(i => pal(3 * i + 2))
      )
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, (x * 7 + y * 13 + x * y) % nColors)
      val baos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, "gif", baos))
      val d = graft.ext.Gif.decode(baos.toByteArray)
        .getOrElse(fail(s"decode failed nColors=$nColors ${w}x$h"))
      assert((d.width, d.height) == (w, h))
      for (y <- 0 until h; x <- 0 until w) {
        val argb = img.getRGB(x, y)
        val off  = (y * w + x) * 3
        assert((d.pixels(off) & 0xff) == ((argb >> 16) & 0xff), s"R ($x,$y) n=$nColors")
        assert((d.pixels(off + 1) & 0xff) == ((argb >> 8) & 0xff), s"G ($x,$y) n=$nColors")
        assert((d.pixels(off + 2) & 0xff) == (argb & 0xff), s"B ($x,$y) n=$nColors")
      }
    }
  }

  test("Gif.decode handles the interlaced row order") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    import javax.imageio.ImageIO
    val nColors = 16
    val icm = new IndexColorModel(
      8, nColors,
      Array.tabulate(nColors)(i => (i * 16).toByte),
      Array.tabulate(nColors)(i => (255 - i * 16).toByte),
      Array.tabulate(nColors)(i => (i * 5 + 3).toByte)
    )
    // 13x23: odd dims so all four interlace passes carry rows. Heights 2-4
    // are the shapes JDK 17's own GIF reader decodes wrong, the reason
    // Gif.decode is kept; they are checked against the source raster only
    for ((w, h) <- Seq((13, 23), (1, 2), (5, 2), (12, 2), (3, 3), (9, 3), (1, 4), (7, 4), (12, 4))) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
      for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, (x + 3 * y) % nColors)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val param  = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT) // GIF: interlace
      val baos = new java.io.ByteArrayOutputStream()
      val ios  = ImageIO.createImageOutputStream(baos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      ios.close()
      val bytes = baos.toByteArray
      // locate the image descriptor and assert the writer really interlaced —
      // otherwise this test would silently degrade to the sequential path
      var p = 13 + 3 * (2 << (bytes(10) & 0x07))
      while ((bytes(p) & 0xff) == 0x21) {
        p += 2
        while ((bytes(p) & 0xff) != 0) p += 1 + (bytes(p) & 0xff)
        p += 1
      }
      assert((bytes(p) & 0xff) == 0x2c, "expected image descriptor")
      assert((bytes(p + 9) & 0x40) != 0, s"ImageIO did not write an interlaced GIF (${w}x$h)")
      val d = graft.ext.Gif.decode(bytes).getOrElse(fail(s"interlaced decode failed (${w}x$h)"))
      assert((d.width, d.height) == ((w, h)))
      for (y <- 0 until h; x <- 0 until w) {
        val c   = img.getRaster.getSample(x, y, 0)
        val off = (y * w + x) * 3
        assert((d.pixels(off) & 0xff) == icm.getRed(c), s"R ($x,$y) ${w}x$h")
        assert((d.pixels(off + 1) & 0xff) == icm.getGreen(c), s"G ($x,$y) ${w}x$h")
        assert((d.pixels(off + 2) & 0xff) == icm.getBlue(c), s"B ($x,$y) ${w}x$h")
      }
    }
  }

  test("ImageCodec.encodeGif round-trips through Gif.decode; malformed inputs yield None") {
    import graft.ext.{Gif, ImageCodec}
    val rnd = new scala.util.Random(42)
    def assertPalette(d: ImageCodec.Image, pal: Array[Byte], idx: Array[Byte], what: String): Unit = {
      assert(d.pixels.length == 3 * idx.length, what)
      for (p <- idx.indices) {
        val c = idx(p) & 0xff
        assert(d.pixels(3 * p) == pal(3 * c) && d.pixels(3 * p + 1) == pal(3 * c + 1) &&
          d.pixels(3 * p + 2) == pal(3 * c + 2), s"px $p $what")
      }
    }
    for (trial <- 0 until 12) {
      val nColors = Seq(4, 16, 64, 256)(trial % 4)
      val w       = 1 + rnd.nextInt(40)
      val h       = 1 + rnd.nextInt(30)
      val pal     = Array.tabulate(nColors * 3)(_ => rnd.nextInt(256).toByte)
      // runs + noise: exercises real LZW matches, not just literals
      val idx = new Array[Byte](w * h)
      var i   = 0
      while (i < idx.length) {
        val run = 1 + rnd.nextInt(9)
        val v   = rnd.nextInt(nColors).toByte
        var j   = 0
        while (j < run && i < idx.length) { idx(i) = v; i += 1; j += 1 }
      }
      val d = Gif.decode(ImageCodec.encodeGif(w, h, pal, idx))
        .getOrElse(fail(s"decode failed trial=$trial"))
      assert(d.width == w && d.height == h && d.channels == 3)
      assertPalette(d, pal, idx, s"trial=$trial")
    }
    // a large low-entropy image forces the 12-bit table to fill: the
    // Clear-and-reset path must survive the decoder
    val w2  = 200; val h2 = 150
    val pal = Array.tabulate(256 * 3)(i => (i * 37 % 256).toByte)
    val idx = Array.tabulate(w2 * h2)(i => ((i / 3 + i % 7) % 256).toByte)
    val big = ImageCodec.encodeGif(w2, h2, pal, idx)
    assertPalette(Gif.decode(big).getOrElse(fail("table-fill decode failed")), pal, idx, "after table fill")
    // malformed: truncation, bad signature, oversize dims, missing data
    val ok = ImageCodec.encodeGif(3, 3, Array.tabulate(12)(_.toByte), Array.fill(9)(1.toByte))
    assert(Gif.decode(ok).isDefined)
    assert(Gif.decode(ok.take(ok.length - 2)).isEmpty, "missing terminator accepted")
    assert(Gif.decode("GIF90a garbage".getBytes).isEmpty)
    assert(Gif.decode(Array[Byte]()).isEmpty)
    // forge the IMAGE DESCRIPTOR width (the decode authority; the logical
    // screen dims are display metadata): after header 13 + GCT 12 and any
    // extension blocks, width at descriptor offset +5
    var p = 13 + 12
    while ((ok(p) & 0xff) == 0x21) {
      p += 2
      while ((ok(p) & 0xff) != 0) p += 1 + (ok(p) & 0xff)
      p += 1
    }
    assert((ok(p) & 0xff) == 0x2c, "expected image descriptor")
    val forged = ok.clone()
    forged(p + 5) = 0xff.toByte; forged(p + 6) = 0x7f.toByte
    assert(Gif.decode(forged).isEmpty, "dims/stream mismatch accepted")
  }

  test("ImageCodec.decode rejects truncated, junk and SOF2-patched JPEGs; 2x2-declared gray decodes unchanged") {
    import graft.ext.ImageCodec
    val (w, h) = (37, 23)
    val px = Array.tabulate[Byte](w * h)(i => ((i % w * 5 + i / w * 9 + (i % w * (i / w)) % 31) % 256).toByte)
    val ok = ImageCodec.encodeJpeg(w, h, 1, px, 0.75f)
    val base = ImageCodec.decode(ok).getOrElse(fail("baseline gray decode failed"))
    assert(base.width == w && base.height == h && base.channels == 1)
    // the JDK reader decodes a stream cut short and reports it only as a
    // read warning ("Missing EOI marker", "premature end of data segment")
    for (cut <- Seq(2, 9, ok.length / 2))
      assert(ImageCodec.decode(ok.take(ok.length - cut)).isEmpty, s"stream cut by $cut bytes accepted")
    assert(ImageCodec.decode("not a jpeg".getBytes).isEmpty)
    assert(ImageCodec.decode(Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte)).isEmpty, "SOI alone accepted")
    // flip the SOF0 marker to SOF2 (progressive) over baseline scan
    // parameters: must be rejected, not misparsed
    var sp = 2
    while (!((ok(sp) & 0xff) == 0xff && (ok(sp + 1) & 0xff) == 0xc0)) sp += 1
    val sof2 = ok.clone()
    sof2(sp + 1) = 0xc2.toByte
    assert(ImageCodec.decode(sof2).isEmpty, "baseline scan accepted under a progressive SOF2")
    // T.81 §A.2.2: a single-component scan is NON-interleaved, so declared
    // sampling factors in SOF0 are irrelevant — a grayscale file patched to
    // claim 2x2 sampling must decode to the SAME pixels
    // SOF0 segment: marker(2) len(2) prec(1) h(2) w(2) nc(1) [cid hv tq]
    assert((ok(sp + 9) & 0xff) == 1, "expected a single-component SOF0")
    assert((ok(sp + 11) & 0xff) == 0x11, "expected declared 1x1 sampling")
    val hv22 = ok.clone()
    hv22(sp + 11) = 0x22.toByte
    val patched = ImageCodec.decode(hv22).getOrElse(fail("2x2-sampled gray rejected"))
    assert(patched.width == base.width && patched.height == base.height)
    assert(patched.pixels.sameElements(base.pixels),
      "grayscale pixels changed when SOF0 declared 2x2 sampling")
  }

  test("featurePixels: identical features through the PNG and GIF routes; JPEG within tolerance") {
    // the feature path q_multimodal_features runs: ImageCodec.decode, then
    // lumaHistogram over the decoded raster. One underlying image, three container encodings: the lossless codecs
    // must produce the SAME histogram, and ImageCodec.decode must route
    // each payload to the right decoder by signature
    val nColors = 16
    val (w, h)  = (24, 18)
    val pal     = Array.tabulate(nColors * 3)(i => ((i / 3) * 16 + 8).toByte) // 16 gray levels
    val idx     = Array.tabulate(w * h)(p => ((p % w) / 2 % nColors).toByte)
    val rgb = new Array[Byte](w * h * 3)
    for (p <- 0 until w * h; c <- 0 until 3) rgb(3 * p + c) = pal(3 * (idx(p) & 0xff) + c)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      img.setRGB(x, y,
        ((rgb(o) & 0xff) << 16) | ((rgb(o + 1) & 0xff) << 8) | (rgb(o + 2) & 0xff))
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpeg", baos))
    val hist = Seq(
      graft.ext.ImageCodec.encodePng(w, h, 3, rgb),
      graft.ext.ImageCodec.encodeGif(w, h, pal, idx),
      baos.toByteArray
    ).map { bytes =>
      val d = graft.ext.ImageCodec.decode(bytes).getOrElse(fail("a codec failed to decode its own payload"))
      assert((d.width, d.height) == ((w, h)))
      Multimodal.lumaHistogram(d.width, d.height, d.channels, d.pixels, 8)
    }
    assert(hist(0)._1.sameElements(hist(1)._1) && hist(0)._2 == hist(1)._2,
      "PNG and GIF routes disagree on a lossless image")
    // JPEG is lossy: histogram mass may shift one bin at quant boundaries,
    // but the mean luma must stay within a few levels
    val n = (w * h).toDouble
    assert(math.abs(hist(0)._2 / n - hist(2)._2 / n) < 0.02 * 255,
      s"JPEG mean luma drifted: ${hist(0)._2 / n} vs ${hist(2)._2 / n}")
  }

  test("ImageCodec.encodeJpeg at quality 0.95 round-trips within 8 levels, gray and RGB") {
    import graft.ext.ImageCodec
    val rnd = new scala.util.Random(11)
    for ((w, h, ch) <- Seq((16, 16, 1), (37, 23, 1), (24, 17, 3), (64, 48, 3), (8, 8, 3), (9, 1, 1))) {
      // smooth base + mild noise: representative yet not adversarial
      val px = new Array[Byte](w * h * ch)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
        px((y * w + x) * ch + c) =
          (40 + x * 140 / math.max(w - 1, 1) + y * 50 / math.max(h - 1, 1) + rnd.nextInt(7)).toByte
      val d = ImageCodec.decode(ImageCodec.encodeJpeg(w, h, ch, px, 0.95f))
        .getOrElse(fail(s"decode rejected ${w}x$h ch=$ch"))
      assert(d.width == w && d.height == h && d.channels == ch)
      val worst = px.indices.map(i => math.abs((d.pixels(i) & 0xff) - (px(i) & 0xff))).max
      assert(worst <= 8, s"round-trip deviation $worst > 8 (${w}x$h ch=$ch)")
    }
    // a full-amplitude checkerboard maximizes the highest-frequency
    // coefficient; it must still encode and decode
    val checker = Array.tabulate[Byte](16 * 16)(i =>
      if (((i % 16) + (i / 16)) % 2 == 0) 0.toByte else 255.toByte)
    assert(ImageCodec.decode(ImageCodec.encodeJpeg(16, 16, 1, checker, 0.95f)).isDefined,
      "checkerboard stream rejected")
    // the writer takes no alpha: 2 and 4 channels are a caller error
    intercept[IllegalArgumentException](ImageCodec.encodeJpeg(2, 2, 4, new Array[Byte](16), 0.95f))
  }

  test("featurePixels handles gray+alpha (2-channel) PNGs; luma is the gray sample") {
    // ImageCodec.decode then lumaHistogram, as q_multimodal_features runs
    // them. PNG color type 4 decodes to 2 channels — the luma must be the gray
    // sample (alpha ignored), not an RGB read past the row end
    val (w, h) = (6, 4)
    val px = Array.tabulate[Byte](w * h * 2)(i => if (i % 2 == 0) (i * 5).toByte else 200.toByte)
    val d = graft.ext.ImageCodec.decode(graft.ext.ImageCodec.encodePng(w, h, 2, px))
      .getOrElse(fail("gray+alpha PNG rejected"))
    assert(d.channels == 2)
    val (counts, lumaSum) = Multimodal.lumaHistogram(d.width, d.height, d.channels, d.pixels, 8)
    val grays = (0 until w * h).map(p => px(2 * p) & 0xff)
    assert(lumaSum == grays.sum.toLong, "luma must come from the gray channel")
    assert(counts.toSeq == (0 until 8).map(b => grays.count(_ * 8 / 256 == b).toLong))
  }

  test("nearDupClusters returns empty (not NPE) on an empty corpus") {
    import spark.implicits._
    import graft.ext.{Dedup, SetJoin}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.nearDupClusters(empty, 1, 5).count() == 0L)
    // the pair-family entry points on the degenerate corpora: no corpus
    // has two distinct texts, so no entry point may emit a pair
    val text = "the quick brown fox jumps over the lazy dog"
    val corpora = Seq(
      "empty"     -> empty,
      "one doc"   -> Seq((1L, text)).toDF("doc_id", "text"),
      "identical" -> (1L to 6L).map(i => (i, text)).toDF("doc_id", "text")
    )
    for ((corpus, docs) <- corpora) {
      val entries = Seq(
        "similarityJoin"            -> (() => SetJoin.similarityJoin(docs)),
        "nearDuplicates"            -> (() => Dedup.nearDuplicates(docs, 1, 5)),
        "ngramVerifiedPairs"        -> (() => Dedup.ngramVerifiedPairs(docs)),
        "ngramVerifiedPairs(sat=1)" -> (() => Dedup.ngramVerifiedPairs(docs, sat = 1)),
        "containmentPairs"          -> (() => Dedup.containmentPairs(docs, 0.6))
      )
      for ((name, run) <- entries)
        assert(run().count() == 0L, s"$name on the $corpus corpus")
    }
  }

  test("wavPcmBytes parses in javax.sound.sampled with bit-identical samples") {
    // the JDK's independent RIFF/WAVE reader (no audio device needed for
    // stream parsing) — the audio analog of the ImageIO codec cross-checks
    val samples = Array.tabulate[Short](500)(i => (((i * 77) % 3001) - 1500).toShort)
    val bytes   = Multimodal.wavPcmBytes(16000, 1, samples)
    val ais = javax.sound.sampled.AudioSystem
      .getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate == 16000f && fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16)
    assert(!fmt.isBigEndian)
    val raw = ais.readAllBytes()
    assert(raw.length == 1000, s"payload length ${raw.length}")
    for (i <- 0 until 500) {
      val v = ((raw(2 * i) & 0xff) | ((raw(2 * i + 1) & 0xff) << 8)).toShort
      assert(v == samples(i), s"sample $i differs")
    }
  }

  test("mp4Meta terminates on adversarial 64-bit largesize near Long.MaxValue") {
    // top-level box: size==1 with largesize that would wrap `i + step`
    // negative — must clamp to EOF and return, not loop or index OOB
    val evilTop = java.nio.ByteBuffer.allocate(16 + 16)
    evilTop.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    evilTop.putInt(1).put("free".getBytes).putLong(Long.MaxValue - 4)
    assert(Multimodal.mp4Meta(evilTop.array()).isEmpty)
    // child walk: moov leads with a size==1 child whose largesize wraps
    // `j + cstep`; the walk must clamp to the container end (skipping the
    // rest of moov) rather than stall — so the trailing mvhd is never
    // reached and the parse yields None
    val moov = java.nio.ByteBuffer.allocate(8 + 16 + 108)
    moov.putInt(8 + 16 + 108).put("moov".getBytes)
    moov.putInt(1).put("free".getBytes).putLong(Long.MaxValue - 4)
    moov.putInt(108).put("mvhd".getBytes).putInt(0).putLong(0L).putInt(600).putInt(3000).put(new Array[Byte](80))
    val ftyp = java.nio.ByteBuffer.allocate(16)
    ftyp.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    assert(Multimodal.mp4Meta(ftyp.array() ++ moov.array()).isEmpty)
  }

  test("wavMeta parses a canonical RIFF/WAVE header and rejects non-WAV payloads") {
    // 88200 data bytes at 44100 Hz × 2 ch × 16 bit = 176400 B/s → 500 ms
    val b = Multimodal.wavHeaderBytes(44100, 2, 16, 88200)
    assert(Multimodal.wavMeta(b).contains((44100, 2, 16, 500L)))
    // RIFF signature but not WAVE → None (the documented contract)
    val notWave = "RIFF".getBytes ++ Array.fill[Byte](4)(0) ++ "NOPE".getBytes ++ Array.fill[Byte](32)(0)
    assert(Multimodal.wavMeta(notWave).isEmpty)
    assert(Multimodal.wavMeta(Array.emptyByteArray).isEmpty)
    // truncated header → None, no exception
    assert(Multimodal.wavMeta(b.take(20)).isEmpty)
    // malformed chunk size (0xFFFFFFF8 → Int-truncates to -8): must
    // terminate (no stalled cursor) and return None, not spin or throw
    val evil = "RIFF".getBytes ++ Array[Byte](36, 0, 0, 0) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ Array[Byte](-8, -1, -1, -1) ++ Array.fill[Byte](24)(0)
    assert(Multimodal.wavMeta(evil).isEmpty)
    // fmt chunk DECLARING fewer than 16 bytes: the PCM field reads would
    // land in the next chunk — must reject, not fabricate metadata
    val shortFmt = java.nio.ByteBuffer
      .allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    shortFmt.put("RIFF".getBytes).putInt(40).put("WAVE".getBytes)
    shortFmt.put("fmt ".getBytes).putInt(4).putInt(0)
    shortFmt.put("data".getBytes).putInt(0)
    assert(Multimodal.wavMeta(shortFmt.array()).isEmpty)
  }

  test("IVF persisted-index probe returns exactly the inline fit+probe result") {
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sf).embeddings
    val inline = graft.ext.Ivf.ivfTopK(emb, 0L, 10).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val index  = graft.ext.Ivf.indexFor(spark, sf)
    val qRow = graft.ext.Ivf
      .quantized(emb)
      .filter(col("vec_id") === 0L)
      .select("embedding", "qv")
      .collect()(0)
    val probed = graft.ext.Ivf
      .probe(spark, index, qRow.getSeq[Float](0).toArray, qRow.getSeq[Long](1).toArray, 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .toSeq
    assert(probed == inline, "parquet round-trip of the index must not change the top-k")
  }

  test("multimodal stub pipeline: deterministic dims, resize bounds respected") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val recs = Tables(spark, sf).documents
      .select(col("doc_id").as("id"), lit("image").as("kind"), col("text").cast("binary").as("media"))
      .as[Multimodal.MediaRecord]
    val meta = Multimodal.resizeStub(Multimodal.decodeStub(recs), 64).collect()
    assert(meta.length == 500)
    meta.foreach { m =>
      assert(m.width <= 64 && m.height <= 64 && m.width >= 1 && m.height >= 1)
      assert(m.sha.length == 64)
      assert(m.nFrames == 1)
    }
    // determinism: run twice, same result
    val meta2 = Multimodal.resizeStub(Multimodal.decodeStub(recs), 64).collect()
    assert(meta.map(_.sha).toSeq == meta2.map(_.sha).toSeq)
  }

  test("embedPixels: decoded media flows into the ANN family; stub only for undecodable payloads") {
    // the embedding path q_multimodal_embed runs: ImageCodec.decode, then
    // lumaBlockSums over the decoded raster. One underlying image in three container encodings plus a brighter
    // variant — the block-luma sums must be IDENTICAL through the lossless
    // routes, near-identical through JPEG, and different for the variant
    val nColors = 16
    val (w, h)  = (32, 24)
    val pal     = Array.tabulate(nColors * 3)(i => ((i / 3) * 16 + 8).toByte)
    val idx     = Array.tabulate(w * h)(p => (((p % w) / 2 + (p / w) / 3) % nColors).toByte)
    val rgb = new Array[Byte](w * h * 3)
    for (p <- 0 until w * h; c <- 0 until 3) rgb(3 * p + c) = pal(3 * (idx(p) & 0xff) + c)
    val rgb2 = rgb.map(b => math.min(255, (b & 0xff) + 90).toByte)
    val blocks = Seq(
      graft.ext.ImageCodec.encodePng(w, h, 3, rgb),
      graft.ext.ImageCodec.encodeGif(w, h, pal, idx),
      graft.ext.ImageCodec.encodeJpeg(w, h, 3, rgb, 0.95f),
      graft.ext.ImageCodec.encodePng(w, h, 3, rgb2)
    ).map { bytes =>
      val d = graft.ext.ImageCodec.decode(bytes).getOrElse(fail("a codec failed to decode its own payload"))
      Multimodal.lumaBlockSums(d.width, d.height, d.channels, d.pixels, 4)
    }
    val (png, counts) = blocks(0)
    assert(counts.forall(_ == (w / 4) * (h / 4)), "every block of the 4x4 lattice holds an equal share")
    assert(png.sameElements(blocks(1)._1), "PNG and GIF routes disagree on a lossless image")
    // JPEG is lossy but quality 0.95 keeps block means within a few luma levels
    for (i <- 0 until 16)
      assert(math.abs(png(i) - blocks(2)._1(i)).toDouble / counts(i) < 0.03 * 255, s"JPEG block $i drifted")
    assert((0 until 16).forall(i => blocks(3)._1(i) > png(i)), "the brighter variant must read brighter")
    // an undecodable payload yields no raster (the query's flatMap drops
    // it); only the metadata decode falls back to the stub dimensions
    import spark.implicits._
    val junk = "definitely not an image payload".getBytes("UTF-8")
    assert(graft.ext.ImageCodec.decode(junk).isEmpty, "a non-image payload decoded to pixels")
    val meta = Multimodal
      .decode(Seq(
        Multimodal.MediaRecord(1L, "image", graft.ext.ImageCodec.encodePng(w, h, 3, rgb)),
        Multimodal.MediaRecord(2L, "other", junk)).toDS())
      .collect()
      .sortBy(_.id)
    assert((meta(0).width, meta(0).height) == ((w, h)), "a decodable payload took the stub")
    assert((meta(1).width, meta(1).height) == ((16 + ('d' % 16) * 16, 16 + ('e' % 16) * 16)))
  }

  test("imageDims parses real PNG/GIF/JPEG headers produced by javax.imageio") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    // real encoders from the JDK (headless-safe) — no external codec needed
    for ((fmt, w, h) <- Seq(("png", 37, 23), ("gif", 640, 480), ("jpg", 129, 301), ("bmp", 55, 17))) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val bos = new ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos), s"JDK cannot encode $fmt")
      val dims = Multimodal.imageDims(bos.toByteArray)
      assert(dims.contains((w, h)), s"$fmt: expected ($w,$h), got $dims")
    }
    // non-image payloads must not parse
    assert(Multimodal.imageDims("plain text payload".getBytes).isEmpty)
    assert(Multimodal.imageDims(Array.empty[Byte]).isEmpty)
    // "BM" prefix alone (no plausible info header) must not parse
    assert(Multimodal.imageDims("BMnot actually a bitmap file....".getBytes).isEmpty)
  }

  test("JPEG walk tolerates ITU T.81 fill bytes before a marker") {
    // FF D8 (SOI), then FF FF FF C0 (two fill bytes before SOF0),
    // len=0x0011, precision 8, height 0x0102, width 0x0304
    val b = Array(
      0xff, 0xd8, 0xff, 0xff, 0xff, 0xc0, 0x00, 0x11, 0x08,
      0x01, 0x02, 0x03, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00
    ).map(_.toByte)
    assert(Multimodal.imageDims(b).contains((0x0304, 0x0102)))
  }

  test("pngHeaderBytes round-trips through the real IHDR parse and the JDK reader") {
    import javax.imageio.ImageIO
    val b = Multimodal.pngHeaderBytes(1024, 768)
    assert(b.length == 33)
    assert(Multimodal.imageDims(b).contains((1024, 768)))
    // cross-check the synthesized header against the JDK's own PNG reader:
    // dims live in IHDR, which is complete in the 33-byte prefix
    val rdr = ImageIO.getImageReadersByFormatName("png").next()
    rdr.setInput(ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(b)))
    assert((rdr.getWidth(0), rdr.getHeight(0)) == ((1024, 768)))
  }

  test("decode uses real header dims for images and stub arithmetic otherwise") {
    import spark.implicits._
    val recs = Seq(
      Multimodal.MediaRecord(1L, "image", Multimodal.pngHeaderBytes(300, 200)),
      Multimodal.MediaRecord(2L, "image", "not an image".getBytes)
    ).toDS()
    val out = Multimodal.decode(recs).collect().sortBy(_.id)
    assert((out(0).width, out(0).height) == ((300, 200)))
    // 'n' = 0x6e=110, 'o' = 0x6f=111 → stub dims 16+(110%16)*16, 16+(111%16)*16
    assert((out(1).width, out(1).height) == ((16 + (110 % 16) * 16, 16 + (111 % 16) * 16)))
  }

  test("incremental dedup flags exactly the cross-boundary near-dup docs") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf).documents
    val flagged = Dedup
      .incrementalNearDups(docs, col("doc_id") >= 400, 0.2)
      .collect()
      .map(_.getLong(0))
      .toSet
    // same bands, same threshold: a new doc is flagged iff nearDuplicates
    // finds a pair linking it to a seen doc (pairs are d1 < d2, so the new
    // side of a cross-boundary pair is always d2)
    val expected = Dedup
      .nearDuplicates(docs, 1, 5)
      .filter(col("d1") < 400 && col("d2") >= 400)
      .collect()
      .map(_.getLong(1))
      .toSet
    assert(flagged == expected, s"flagged $flagged vs expected $expected")
    assert(flagged.nonEmpty, "fixture must produce at least one cross-boundary near-dup")
  }

  test("q_ann_recall: panel-sized output, self-hit floor, recall consistent with the single-query paths") {
    val rows = graft.queries.Registry.queries("q_ann_recall")(spark, sf).collect()
    assert(rows.length == 20, s"expected a 20-query panel, got ${rows.length}")
    rows.foreach { r =>
      val (qid, nExact, nHit, ppm) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nExact == 10L, s"q$qid exact top-k has $nExact rows")
      assert(nHit >= 1L, s"q$qid: the query vector itself must always be recalled")
      assert(nHit <= nExact, s"q$qid: hits exceed exact set")
      assert(ppm == nHit * 1000000L / nExact, s"q$qid: recall_ppm not the pinned integer form")
    }
    // recall for qid=0 must agree with the independently-computed
    // single-query exact/LSH paths the earlier tests exercise
    val exact0 = Similarity
      .topKCosine(Tables(spark, sf).embeddings, 0L, 10)
      .collect()
      .map(_.getLong(1))
      .toSet
    val lsh0 = Similarity
      .annTopKLsh(Tables(spark, sf).embeddings, 0L, 10)
      .collect()
      .map(_.getLong(1))
      .toSet
    val row0 = rows.find(_.getLong(0) == 0L).get
    assert(
      row0.getLong(2) == (exact0 intersect lsh0).size.toLong,
      s"panel n_hit ${row0.getLong(2)} != single-query overlap ${(exact0 intersect lsh0).size}"
    )
  }

  test("frame sampling keeps every stride-th frame") {
    import spark.implicits._
    val df = Seq((1L, "video", 10), (2L, "image", 1))
      .toDF("id", "kind", "nFrames")
    val sampled = Multimodal.sampleFrames(df, 3).collect()
    assert(sampled.length == 1)
    assert(sampled(0).getSeq[Int](2) == Seq(0, 3, 6, 9))
  }

  test("q_ngram_jaccard tiered prune is output-identical to the naive verify (collision-rich corpus + fixture)") {
    import spark.implicits._
    // Collision-rich synthetic corpus: six text families sharing a base so
    // the LSH bands collide freely, spanning exact copies (pre-collapse),
    // near-copies at several edit depths (hash tier must ADMIT), grossly
    // length-mismatched variants (length-ratio prune must only drop pairs
    // the exact tier would also drop), sub-4-char texts (empty gram sets,
    // null-jaccard path), and unrelated texts (hash tier must REJECT).
    val base = "the quick brown fox jumps over the lazy dog while counting distinct tokens"
    val rows = (0L until 72L).map { i =>
      val v = i / 6
      val t = (i % 6) match {
        case 0 => base
        case 1 => base + s" tail marker $v"
        case 2 => base.replace("quick", s"swift$v")
        case 3 => "abc" // < 4 chars: empty gram set
        case 4 => base + " " + Seq.tabulate(40)(j => s"pad${v}x$j").mkString(" ")
        case _ => s"entirely unrelated content number $v with its own distinct grams and words"
      }
      (i, t)
    }
    val docs = rows.toDF("doc_id", "text")
    def rows3(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // the naive reference: plain band candidates, string intersect on
    // every candidate, the same double >= 0.3 filter
    def naive(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions._
      val sets = Dedup.gramSets(d)
      def side(i: Int) =
        sets.select(col("doc_id").as(s"d$i"), col("gset").as(s"g$i"), col("sz").as(s"sz$i"))
      Dedup.candidatePairs(d)
        .join(side(1), "d1")
        .join(side(2), "d2")
        .withColumn("inter", size(array_intersect(col("g1"), col("g2"))).cast("long"))
        .withColumn("jaccard", col("inter").cast("double") / (col("sz1").cast("long") + col("sz2") - col("inter")))
        .filter(col("jaccard") >= 0.3)
        .select("d1", "d2", "jaccard")
        .orderBy("d1", "d2")
    }
    val pruned   = rows3(Dedup.ngramVerifiedPairs(docs))
    val unpruned = rows3(naive(docs))
    assert(pruned.nonEmpty, "corpus produced no verified pairs — test corpus too weak")
    assert(pruned == unpruned, s"tiered prune changed the output:\n pruned=$pruned\n naive =$unpruned")
    // and on the real fixture, against live candidate structure
    val fixDocs = Tables(spark, sf).documents
    val fp = Dedup.ngramVerifiedPairs(fixDocs).collect().map(_.toSeq).toSeq
    val fu = naive(fixDocs).collect().map(_.toSeq).toSeq
    assert(fp == fu, "tiered prune changed the fixture output")

    // band-saturation re-route (round 13): with the threshold forced BELOW
    // this corpus's bucket occupancy, over-occupied buckets enumerate via
    // the exact prefix filter instead of the |B|² band join — the output
    // must be identical (every within-bucket pair is a candidate; the
    // prefix bound only drops pairs the 3/10 verify drops anyway). The
    // occupancy is counted at the family's collapsed grain (one row per
    // distinct text), the grain the re-route sees.
    val maxOcc = Dedup
      .bands(Dedup.signatures(docs).join(Dedup.repIds(docs), "doc_id"))
      .groupBy("band_id", "band_val")
      .count()
      .agg(org.apache.spark.sql.functions.max("count"))
      .collect()(0)
      .getLong(0)
    assert(maxOcc > 4, s"corpus not saturated enough to exercise the re-route (max occupancy $maxOcc)")
    val rerouted = rows3(Dedup.ngramVerifiedPairs(docs, sat = 4))
    assert(
      rerouted == pruned,
      s"saturation re-route changed the output:\n rerouted=$rerouted\n band-join=$pruned"
    )
  }
}
