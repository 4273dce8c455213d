package graft.ext

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Q

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus decode / feature-extract /
  * resize / frame-sample stages as per-partition batch transforms.
  *
  * Image DIMENSION extraction is REAL: [[Multimodal.imageDims]] byte-parses
  * PNG/GIF/JPEG container headers (pure JVM, no codec library — production
  * metadata extraction works the same way to avoid decompressing pixels).
  * Pixel work is real too. [[ImageCodec]] encodes PNG, JPEG and GIF and
  * decodes PNG and JPEG through `javax.imageio`; GIF decode is
  * [[Gif.decode]]'s LZW decoder. `q_multimodal_pixels`, `_resize`, `_gif`,
  * `_features` and `_embed` round-trip formula pixels and hash-check them
  * against an independent oracle; `q_multimodal_jpeg` and `_jpeg_rt` check
  * the lossy codec within per-row bounds. Interlaced PNG and progressive
  * JPEG decode. The only remaining DETERMINISTIC STUB is [[decodeStub]],
  * kept as the registered pipeline's engine-replayable path. Everything
  * around it — the schema,
  * the Dataset encoders, the mapPartitions batch shape (one reusable
  * MessageDigest per partition, streaming iterator, no materialization) —
  * is the real 100 TB-shaped plumbing a production pipeline would drop
  * into.
  */
object Multimodal {

  /** Narrow spread scan of `documents` — every synthetic-media query maps
    * per-row codec work over these rows, and the single-row-group fixture
    * scan plans ONE task, serializing that codec work onto one core
    * (StageProbe r16: q_multimodal_jpeg spent ~2.1 s in two single-task
    * stages on the 32-core box), so [[graft.core.Width.compute]] spreads
    * it (guide §2.5).
    */
  private def docRows(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      cols: org.apache.spark.sql.Column*): DataFrame =
    graft.core.Width.compute(Tables(s, dir).documents.select(cols: _*))

  /** An opaque media payload: `media` is the raw bytes (image/audio/video). */
  final case class MediaRecord(id: Long, kind: String, media: Array[Byte])

  /** Typed metadata extracted by the decode stage. */
  final case class MediaMeta(
      id: Long,
      kind: String,
      nBytes: Long,
      width: Int,
      height: Int,
      nFrames: Int,
      sha: String
  )

  /** REAL image-dimension extraction from container headers — pure-JVM byte
    * peeks, no codec library, no pixel decode (exactly how production
    * metadata extraction avoids decompressing 100 TB of pixels):
    *   - PNG: 8-byte signature, then the IHDR chunk's big-endian width at
    *     offset 16 and height at offset 20 (ISO/IEC 15948 §5.2, §11.2.2);
    *   - GIF: "GIF87a"/"GIF89a" signature, little-endian u16 logical screen
    *     width/height at offsets 6/8 (GIF89a spec §17-18);
    *   - JPEG: walk the marker stream from SOI to the first frame header
    *     (SOFn, n ∉ {4,8,12}); big-endian u16 height/width at +5/+7
    *     (ITU T.81 §B.2.2);
    *   - BMP: "BM" signature, BITMAPINFOHEADER (declared size >= 40) with
    *     little-endian i32 width/height at offsets 18/22 — height may be
    *     negative for top-down rows, so |height| is the pixel height
    *     (Windows BMP v3+ header layout).
    * Returns None for payloads that are not a recognized image container.
    */
  def imageDims(b: Array[Byte]): Option[(Int, Int)] = {
    @inline def u8(i: Int): Int  = b(i) & 0xff
    @inline def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    @inline def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    @inline def be32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    @inline def le32s(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24) // signed i32

    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    // the first chunk MUST be IHDR with a 13-byte payload (ISO/IEC 15948
    // §11.2.2) — verify the tag and length rather than trusting the fixed
    // offsets, so a payload that merely starts with the 8-byte signature
    // yields None instead of garbage dimensions
    if (
      b.length >= 24 && pngSig.indices.forall(i => u8(i) == pngSig(i)) &&
      be32(8) == 13 && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'
    )
      Some((be32(16), be32(20)))
    else if (b.length >= 10 && b.startsWith("GIF87a".getBytes) || b.length >= 10 && b.startsWith("GIF89a".getBytes))
      Some((le16(6), le16(8)))
    else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // JPEG marker walk: segments are FF <marker> <be16 length incl. itself>
      var i = 2
      while (i + 9 < b.length && u8(i) == 0xff) {
        // ITU T.81 §B.1.1.2 allows any number of 0xFF fill bytes before the
        // marker byte — consume them so a fill byte is never read as a marker
        var j = i + 1
        while (j + 8 < b.length && u8(j) == 0xff) j += 1
        val m = u8(j)
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          return Some((be16(j + 6), be16(j + 4)))
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i = j + 1 // TEM/RSTn/SOI/EOI: standalone
        else i = j + 1 + be16(j + 1)
      }
      None
    } else if (
      // signature alone is two ASCII letters — also require the invariants
      // the format makes mandatory, so "BM…" text never false-positives:
      // reserved words at 6..9 are zero, the info-header size is one of the
      // published layouts (the ancient 12-byte BITMAPCOREHEADER with 16-bit
      // dims is not produced by modern encoders and stays unrecognized),
      // and the plane count is exactly 1.
      b.length >= 28 && b(0) == 'B' && b(1) == 'M' &&
      le32s(6) == 0 &&
      Set(40, 52, 56, 108, 124).contains(le32s(14)) &&
      le16(26) == 1
    ) {
      val w = le32s(18)
      val h = le32s(22) // negative = top-down row order; |h| is pixel height
      if (w > 0 && h != 0) Some((w, math.abs(h))) else None
    } else None
  }

  /** Typed audio metadata extracted from a WAV container header. */
  final case class AudioMeta(
      id: Long,
      nBytes: Long,
      sampleRate: Int,
      channels: Int,
      bitsPerSample: Int,
      durationMs: Long
  )

  /** REAL audio-metadata extraction from RIFF/WAVE headers — the audio
    * analog of [[imageDims]]: pure-JVM chunk walk, no codec. Verifies the
    * "RIFF"/"WAVE" signatures, then walks chunks (4CC + LE32 size) to the
    * "fmt " chunk and reads channels (LE16 at +2), sample rate (LE32 at
    * +4), and bits/sample (LE16 at +14); duration derives from the "data"
    * chunk size (RIFF spec / MS WAVE format). Returns None for anything
    * that is not a well-formed WAV header.
    */
  def wavMeta(b: Array[Byte]): Option[(Int, Int, Int, Long)] =
    wavParse(b).map { case (rate, ch, bits, data, _) =>
      val bytesPerMs = rate.toLong * ch * (bits / 8)
      (rate, ch, bits, if (bytesPerMs == 0) 0L else data * 1000L / bytesPerMs)
    }

  /** The ONE RIFF chunk walk behind [[wavMeta]] and [[decodePcm]]:
    * (rate, channels, bits, declared data size, data payload offset).
    * The declared size may overrun the buffer — header metadata is still a
    * parse ([[wavMeta]] reports the declared duration); sample readers
    * must bounds-check the payload themselves.
    */
  private[graft] def wavParse(b: Array[Byte]): Option[(Int, Int, Int, Long, Int)] = {
    @inline def u8(i: Int): Int   = b(i) & 0xff
    @inline def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    @inline def le32(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3).toLong << 24)) & 0xffffffffL
    def tag(i: Int, t: String): Boolean =
      i + 4 <= b.length && t.indices.forall(j => b(i + j) == t.charAt(j).toByte)
    if (b.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    // Long cursor: a chunk's LE32 size is unsigned (0..4 GiB) and a
    // malformed/huge size truncated to Int can go negative — which would
    // stall the walk (step 0) or index out of bounds. With an unsigned
    // Long size the step is always >= 8, so progress (and termination) is
    // guaranteed and the cursor never goes backwards.
    var i: Long                           = 12L
    var fmt: Option[(Int, Int, Int)]      = None
    var data: Option[(Long, Int)]         = None
    while (i + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
      val at   = i.toInt
      val size = le32(at + 4)
      // the fmt chunk must DECLARE at least the 16 PCM bytes — a shorter
      // declared size means the reads at +10..+23 would be the next
      // chunk's bytes, i.e. fabricated metadata, not a parse
      if (tag(at, "fmt ") && size >= 16 && i + 8 + 16 <= b.length)
        fmt = Some((le32(at + 12).toInt, le16(at + 10), le16(at + 22)))
      if (tag(at, "data") && data.isEmpty) data = Some((size, at + 8))
      // chunks are word-aligned: odd sizes carry a pad byte (RIFF spec)
      i += 8L + size + (size & 1L)
    }
    for ((rate, ch, bits) <- fmt; (sz, off) <- data if rate > 0 && ch > 0 && bits > 0)
      yield (rate, ch, bits, sz, off)
  }

  /** A minimal canonical 44-byte WAV header (PCM fmt chunk + empty-bodied
    * data chunk declaring `dataBytes`) — the audio analog of
    * [[pngHeaderBytes]] for fixtures.
    */
  def wavHeaderBytes(sampleRate: Int, channels: Int, bitsPerSample: Int, dataBytes: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16)
    bb.putShort(1.toShort)                       // PCM
    bb.putShort(channels.toShort)
    bb.putInt(sampleRate)
    bb.putInt(sampleRate * channels * (bitsPerSample / 8)) // byte rate
    bb.putShort((channels * (bitsPerSample / 8)).toShort)  // block align
    bb.putShort(bitsPerSample.toShort)
    bb.put("data".getBytes).putInt(dataBytes)
    bb.array()
  }

  /** A complete PCM WAV file: canonical header + little-endian 16-bit
    * sample payload ([[wavHeaderBytes]] writes the header-only fixture;
    * this is the audio analog of [[ImageCodec.encodePng]] — a real, playable file).
    */
  def wavPcmBytes(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    val data = samples.length * 2
    val bb = java.nio.ByteBuffer
      .allocate(44 + data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(wavHeaderBytes(sampleRate, channels, 16, data))
    var i = 0
    while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
    bb.array()
  }

  /** Sample-level stats from a REAL PCM decode. */
  final case class PcmMeta(
      id: Long,
      sampleRate: Int,
      nSamples: Long,
      sumAmp: Long,
      peakAbs: Int,
      durationMs: Long
  )

  /** REAL PCM sample decode (the audio analog of [[decodePixels]]):
    * chunk-walk to the data chunk, read signed 16-bit LE samples, emit the
    * exact integer amplitude sum and peak — the loudness/clipping audit a
    * speech-data pipeline runs before feature extraction. Same unsigned
    * Long-cursor totality discipline as [[wavMeta]]; non-PCM-16 or
    * truncated payloads are dropped.
    */
  def decodePcm(records: Dataset[MediaRecord]): Dataset[PcmMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        val b = r.media
        wavParse(b) match {
          // strict payload check (unlike the header-metadata path): the
          // declared data size must actually fit the buffer to read samples
          case Some((rate, ch, 16, declared, off)) if off + declared <= b.length =>
            val n    = (declared / 2).toInt
            var sum  = 0L
            var peak = 0
            var k = 0
            while (k < n) {
              val lo = b(off + 2 * k) & 0xff
              val hi = b(off + 2 * k + 1) & 0xff
              val v  = ((lo | (hi << 8)) << 16) >> 16 // sign-extend
              sum += v
              val a = math.abs(v)
              if (a > peak) peak = a
              k += 1
            }
            Some(PcmMeta(r.id, rate, n.toLong, sum, peak,
              n.toLong * 1000 / math.max(rate.toLong * ch, 1L)))
          case _ => None
        }
      }
    }
  }

  /** STUB dims: fake-but-deterministic dimensions from the payload bytes —
    * the path for payloads with no recognized container (audio/video codecs
    * are not in this container).
    */
  private def stubDims(media: Array[Byte]): (Int, Int) = {
    val b0 = if (media.nonEmpty) media(0) & 0xff else 0
    val b1 = if (media.length > 1) media(1) & 0xff else 0
    (16 + (b0 % 16) * 16, 16 + (b1 % 16) * 16)
  }

  private def decodeWith(records: Dataset[MediaRecord])(dims: Array[Byte] => (Int, Int)): Dataset[MediaMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      val md = MessageDigest.getInstance("SHA-256") // one per partition, reused
      it.map { r =>
        md.reset()
        val sha    = md.digest(r.media).map("%02x".format(_)).mkString
        val (w, h) = dims(r.media)
        MediaMeta(
          id = r.id,
          kind = r.kind,
          nBytes = r.media.length.toLong,
          width = w,
          height = h,
          nFrames = if (r.kind == "video") 1 + (r.media.length % 120) else 1,
          sha = sha
        )
      }
    }
  }

  /** Decode stage: REAL header-derived dimensions where the payload is a
    * recognized image container, [[stubDims]] for everything else. Same
    * partition-batched shape either way.
    */
  def decode(records: Dataset[MediaRecord]): Dataset[MediaMeta] =
    decodeWith(records)(m => imageDims(m).getOrElse(stubDims(m)))

  /** Pure-stub decode (never header-parses): the registered
    * `q_multimodal_pipeline` runs THIS path because its DuckDB oracle
    * replicates the stub byte arithmetic — routing its text payloads through
    * the container sniff would silently diverge from the oracle if a future
    * fixture's text happened to start with an image signature.
    */
  def decodeStub(records: Dataset[MediaRecord]): Dataset[MediaMeta] =
    decodeWith(records)(stubDims)

  /** A minimal syntactically-valid PNG prefix (signature + IHDR) carrying
    * the given dimensions — 33 deterministic bytes; CRC left zeroed (header
    * readers, ours included, do not verify it).
    */
  def pngHeaderBytes(width: Int, height: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(33) // 8 sig + 4 len + 4 type + 13 IHDR + 4 crc
    out.put(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    out.putInt(13).put("IHDR".getBytes)
    out.putInt(width).putInt(height)
    out.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte) // depth 8, truecolor
    out.putInt(0) // crc (unchecked)
    out.array()
  }

  /** STUB resize: in a real pipeline this re-encodes pixels; the stub keeps
    * the batch shape (binary in → binary out, bounded memory per row).
    */
  def resizeStub(meta: Dataset[MediaMeta], maxDim: Int): Dataset[MediaMeta] = {
    import meta.sparkSession.implicits._
    meta.map { m =>
      val scale = math.min(1.0, maxDim.toDouble / math.max(m.width, m.height))
      m.copy(
        width = math.max(1, (m.width * scale).toInt),
        height = math.max(1, (m.height * scale).toInt)
      )
    }
  }

  /** Exact integer luma histogram of a raster: (per-bin counts, luma
    * sum). Luma = (299·R + 587·G + 114·B) div 1000 (ITU BT.601 weights in
    * exact integer form) over `bins` equal bins — the classical CBIR
    * histogram feature, pure integer so `q_multimodal_features`
    * hash-checks the counts exactly.
    */
  private[graft] def lumaHistogram(
      w: Int, h: Int, ch: Int, px: Array[Byte], bins: Int): (Array[Long], Long) = {
    val counts  = new Array[Long](bins)
    var lumaSum = 0L
    var p = 0
    val n = w * h
    while (p < n) {
      // ch 1 = gray, 2 = gray+alpha (PNG color type 4 — luma IS the gray
      // sample, alpha ignored), 3/4 = RGB(+alpha ignored)
      val luma =
        if (ch <= 2) px(p * ch) & 0xff
        else {
          val o = p * ch
          (299 * (px(o) & 0xff) + 587 * (px(o + 1) & 0xff) + 114 * (px(o + 2) & 0xff)) / 1000
        }
      counts(luma * bins / 256) += 1
      lumaSum += luma
      p += 1
    }
    (counts, lumaSum)
  }

  /** Exact integer block-luma sums of a raster: the image is cut into a
    * `grid`×`grid` lattice (pixel (x, y) lands in block
    * (y·grid div h, x·grid div w) — pure integer arithmetic, every block
    * non-empty once w, h ≥ grid) and each block accumulates its BT.601
    * luma sum and pixel count. These integer sums are the exact quantity
    * `q_multimodal_embed`'s DuckDB oracle replays.
    */
  private[graft] def lumaBlockSums(
      w: Int, h: Int, ch: Int, px: Array[Byte], grid: Int): (Array[Long], Array[Long]) = {
    val sums   = new Array[Long](grid * grid)
    val counts = new Array[Long](grid * grid)
    var p = 0
    val n = w * h
    while (p < n) {
      val x = p % w
      val y = p / w
      val luma =
        if (ch <= 2) px(p * ch) & 0xff
        else {
          val o = p * ch
          (299 * (px(o) & 0xff) + 587 * (px(o + 1) & 0xff) + 114 * (px(o + 2) & 0xff)) / 1000
        }
      sums((y * grid / h) * grid + (x * grid / w)) += luma
      counts((y * grid / h) * grid + (x * grid / w)) += 1
      p += 1
    }
    (sums, counts)
  }

  /** Frame sampling for video: every `stride`-th frame index. Declarative —
    * a sequence + filter, no UDF.
    */
  def sampleFrames(meta: DataFrame, stride: Int): DataFrame =
    meta
      .filter(col("kind") === "video")
      .withColumn(
        "sampled_frames",
        filter(
          sequence(lit(0), col("nFrames") - 1),
          i => i % stride === 0
        )
      )
      .select(col("id"), col("nFrames"), col("sampled_frames"))

  /** Registered query: treat `documents.text` bytes as an opaque binary
    * payload and extract byte-level metadata — exercises the binary-column
    * path end-to-end and is SQL-checkable (octet_length / md5 exist in both
    * engines).
    */
  val multimodalMeta: Q = Q(
    "q_multimodal_meta",
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          length(col("text").cast("binary")).cast("long").as("n_bytes"),
          md5(col("text").cast("binary")).as("fp")
        )
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin
    )
  )

  /** Registered query: full stub pipeline (encode text bytes → decode →
    * resize) over documents. The stub's byte arithmetic is deterministic,
    * so the DuckDB oracle replicates it exactly (fixture text is ASCII:
    * `ord(substr(text,i,1))` == byte i; identical IEEE double ops give
    * identical truncations).
    */
  val multimodalPipeline: Q = Q(
    "q_multimodal_pipeline",
    (s, dir) => {
      import s.implicits._
      val recs = docRows(s, dir, col("doc_id").as("id"), lit("image").as("kind"), col("text").cast("binary").as("media"))
        .as[MediaRecord]
      resizeStub(decodeStub(recs), 64).toDF().orderBy("id")
    },
    Some(
      """SELECT id, kind, "nBytes", "width", "height", "nFrames", sha FROM (
        |  SELECT doc_id AS id, 'image' AS kind,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS "nBytes",
        |    GREATEST(1, CAST(trunc(w0 * LEAST(1.0, 64.0 / GREATEST(w0, h0))) AS INT)) AS "width",
        |    GREATEST(1, CAST(trunc(h0 * LEAST(1.0, 64.0 / GREATEST(w0, h0))) AS INT)) AS "height",
        |    1 AS "nFrames",
        |    sha256(text) AS sha
        |  FROM (
        |    SELECT *,
        |      16 + (CASE WHEN length(text) >= 1 THEN ord(substr(text, 1, 1)) ELSE 0 END % 16) * 16 AS w0,
        |      16 + (CASE WHEN length(text) >= 2 THEN ord(substr(text, 2, 1)) ELSE 0 END % 16) * 16 AS h0
        |    FROM documents))
        |ORDER BY id""".stripMargin
    )
  )

  /** Registered query: REAL container decode end-to-end. Each document
    * yields a synthesized PNG header whose dimensions derive from its
    * columns; the Spark side then actually byte-parses those headers back
    * via [[imageDims]], while the DuckDB oracle computes the expected
    * dimensions independently from the same columns — so a bug in either
    * the byte construction or the IHDR parse breaks the hash compare.
    */
  val multimodalDecode: Q = Q(
    "q_multimodal_decode",
    (s, dir) => {
      import s.implicits._
      val recs = docRows(s, dir, col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nChars) =>
          MediaRecord(id, "image", pngHeaderBytes(
            width = (1 + nChars % 1024).toInt,
            height = (1 + (id * 7) % 768).toInt
          ))
        }
      decode(recs)
        .toDF()
        .select(col("id"), col("nBytes"), col("width"), col("height"))
        .orderBy("id")
    },
    Some(
      """SELECT doc_id AS id, CAST(33 AS BIGINT) AS "nBytes",
        |  CAST(1 + n_chars % 1024 AS INT) AS "width",
        |  CAST(1 + (doc_id * 7) % 768 AS INT) AS "height"
        |FROM documents ORDER BY id""".stripMargin
    )
  )

  /** Pixel-level stats from a REAL full decode. */
  final case class PixelMeta(
      id: Long,
      width: Int,
      height: Int,
      n_px: Long,
      px_sum: Long
  )

  /** REAL pixel-decode stage: [[ImageCodec.decode]] per payload,
    * emitting raster dimensions and the unsigned pixel-byte sum. Same
    * mapPartitions batch shape as [[decode]]; rows that are not a
    * decodable image are dropped (a production pipeline would route them
    * to a dead-letter sink).
    */
  def decodePixels(records: Dataset[MediaRecord]): Dataset[PixelMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        ImageCodec.decode(r.media).map { img =>
          var sum = 0L
          var i   = 0
          while (i < img.pixels.length) { sum += img.pixels(i) & 0xff; i += 1 }
          PixelMeta(r.id, img.width, img.height, img.pixels.length.toLong, sum)
        }
      }
    }
  }

  /** The closed-form RGB raster the PNG queries synthesize per document:
    * byte (x, y, c) = (x + 31·y + 7·c + id) mod 251. Their oracles replay
    * the same formula in SQL.
    */
  private def formulaRgb(w: Int, h: Int, id: Long): Array[Byte] = {
    val px = new Array[Byte](w * h * 3)
    var p  = 0
    while (p < px.length) {
      val xy = p / 3
      px(p) = ((xy % w + 31L * (xy / w) + 7L * (p % 3) + id) % 251).toByte
      p += 1
    }
    px
  }

  /** Registered query: REAL pixel round-trip end-to-end. Each document
    * synthesizes a small RGB image whose pixel bytes follow a closed-form
    * rule of (x, y, channel, doc_id) ([[formulaRgb]]),
    * [[ImageCodec.encodePng]] writes a PNG, [[ImageCodec.decode]] reads
    * it back, and the query emits the decoded dimensions and pixel sum.
    * The DuckDB oracle computes the expected sum INDEPENDENTLY from the
    * same closed form — a bug anywhere in the codec path (channel order,
    * row stride, sample conversion) breaks the hash compare. Images
    * are ≤ 8×6 so the oracle's per-row expansion stays trivial; the Spark
    * side's cost model is the real one (bounded per-row decode inside one
    * scan-stage mapPartitions, no shuffle before the final sort).
    */
  val multimodalPixels: Q = Q(
    "q_multimodal_pixels",
    (s, dir) => {
      import s.implicits._
      val recs = docRows(s, dir, col("doc_id"))
        .as[Long]
        .map { id =>
          val w  = (1 + id % 8).toInt
          val h  = (1 + (id * 3) % 6).toInt
          MediaRecord(id, "image", ImageCodec.encodePng(w, h, 3, formulaRgb(w, h, id)))
        }
      decodePixels(recs).toDF().orderBy("id")
    },
    Some(
      """SELECT doc_id AS id,
        |  CAST(1 + doc_id % 8 AS INT) AS width,
        |  CAST(1 + (doc_id * 3) % 6 AS INT) AS height,
        |  CAST((1 + doc_id % 8) * (1 + (doc_id * 3) % 6) * 3 AS BIGINT) AS n_px,
        |  CAST(list_sum(flatten(list_transform(range(1 + (doc_id * 3) % 6), y ->
        |    list_transform(range((1 + doc_id % 8) * 3), i ->
        |      (i // 3 + 31 * y + 7 * (i % 3) + doc_id) % 251)))) AS BIGINT) AS px_sum
        |FROM documents ORDER BY id""".stripMargin
    )
  )

  /** Audio decode stage: same partition-batched shape as [[decode]],
    * REAL RIFF/WAVE header parsing via [[wavMeta]]; unparseable payloads
    * yield zeroed metadata rather than dropping the row (a pipeline wants
    * the audit row either way).
    */
  def decodeAudio(records: Dataset[MediaRecord]): Dataset[AudioMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.map { r =>
      val (rate, ch, bits, dur) = wavMeta(r.media).getOrElse((0, 0, 0, 0L))
      AudioMeta(r.id, r.media.length.toLong, rate, ch, bits, dur)
    })
  }

  /** Registered query: REAL audio-container decode end-to-end, the audio
    * analog of [[multimodalDecode]] — each document yields a synthesized
    * WAV header whose parameters derive from its columns, the Spark side
    * byte-parses them back, and the oracle recomputes the expected values
    * (including the integer-division duration) independently.
    */
  val multimodalAudio: Q = Q(
    "q_multimodal_audio",
    (s, dir) => {
      import s.implicits._
      val recs = docRows(s, dir, col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nChars) =>
          MediaRecord(
            id,
            "audio",
            wavHeaderBytes(
              sampleRate = (8000 * (1 + id % 6)).toInt,
              channels = (1 + id % 2).toInt,
              bitsPerSample = if (id % 3 == 0) 8 else 16,
              dataBytes = (nChars * 100).toInt
            )
          )
        }
      decodeAudio(recs).toDF().orderBy("id")
    },
    Some(
      """SELECT doc_id AS id, CAST(44 AS BIGINT) AS "nBytes",
        |  CAST(8000 * (1 + doc_id % 6) AS INT) AS "sampleRate",
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INT) AS "bitsPerSample",
        |  CAST((n_chars * 100 * 1000)
        |       // (8000 * (1 + doc_id % 6) * (1 + doc_id % 2)
        |          * (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END)) AS BIGINT) AS "durationMs"
        |FROM documents ORDER BY id""".stripMargin
    )
  )

  /** Registered query: video-kind decode + declarative frame sampling.
    * Text bytes stand in for video payloads (no video codec in the
    * container), so nFrames is the stub's deterministic 1 + nBytes % 120;
    * the sampled-frame arithmetic (`sequence` + `filter`, every 5th index)
    * is fully real and the oracle derives the expected count independently
    * from the byte length.
    */
  val multimodalFrames: Q = Q(
    "q_multimodal_frames",
    (s, dir) => {
      import s.implicits._
      val recs = docRows(s, dir, col("doc_id").as("id"), lit("video").as("kind"), col("text").cast("binary").as("media"))
        .as[MediaRecord]
      sampleFrames(decodeStub(recs).toDF(), stride = 5)
        .select(col("id"), col("nFrames"), size(col("sampled_frames")).cast("long").as("n_sampled"))
        .orderBy("id")
    },
    Some(
      """SELECT doc_id AS id,
        |  CAST(1 + octet_length(CAST(text AS BLOB)) % 120 AS INT) AS "nFrames",
        |  CAST((1 + octet_length(CAST(text AS BLOB)) % 120 - 1) // 5 + 1 AS BIGINT) AS n_sampled
        |FROM documents ORDER BY id""".stripMargin
    )
  )

  /** Typed video metadata extracted from an ISO-BMFF (MP4) header. */
  final case class VideoMeta(
      id: Long,
      nBytes: Long,
      majorBrand: String,
      timescale: Long,
      durationMs: Long,
      nTracks: Int
  )

  /** REAL video-container metadata from ISO-BMFF (MP4) headers — the video
    * analog of [[imageDims]]/[[wavMeta]]: a pure-JVM box walk, no codec.
    * Boxes are `be32 size + 4CC type` (ISO/IEC 14496-12 §4.2); the file
    * must open with `ftyp` (§4.3, carrying the major brand), then the
    * top-level walk finds `moov`, whose children yield `mvhd` (version 0:
    * be32 timescale at +20, be32 duration at +24; version 1: 64-bit times,
    * timescale at +28, be64 duration at +32 — §8.2.2) and one `trak` per
    * track. Size 0 (box-to-EOF) and size 1 (64-bit largesize) are honored
    * for SKIPPING in the top-level walk; cursors are Longs so a malformed
    * unsigned size can never stall or reverse the walk (same totality
    * discipline as [[wavMeta]], fuzz-asserted in PropertySpec). Returns
    * None for anything that is not a well-formed MP4 header.
    */
  def mp4Meta(b: Array[Byte]): Option[(String, Long, Long, Int)] = {
    @inline def u8(i: Int): Int = b(i) & 0xff
    def be32(i: Int): Long =
      ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)) & 0xffffffffL
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int, t: String): Boolean =
      i + 4 <= b.length && t.indices.forall(j => b(i + j) == t.charAt(j).toByte)
    if (b.length < 16 || !tag(4, "ftyp")) return None
    val brand                          = new String(b, 8, 4, java.nio.charset.StandardCharsets.US_ASCII)
    var i: Long                        = 0L
    var out: Option[(Long, Long, Int)] = None
    while (i + 8 <= b.length && out.isEmpty) {
      val at   = i.toInt
      val size = be32(at)
      if (tag(at + 4, "moov")) {
        val end                        = math.min(if (size < 8) b.length.toLong else i + size, b.length.toLong)
        var j: Long                    = i + 8
        var ts                         = 0L
        var durMs                      = -1L
        var tracks                     = 0
        while (j + 8 <= end) {
          val ja    = j.toInt
          val csize = be32(ja)
          if (tag(ja + 4, "mvhd")) {
            val v = if (j + 9 <= end) u8(ja + 8) else -1
            if (v == 0 && j + 28 <= end) {
              ts = be32(ja + 20)
              if (ts > 0) durMs = be32(ja + 24) * 1000L / ts
            } else if (v == 1 && j + 40 <= end) {
              ts = be32(ja + 28)
              if (ts > 0) durMs = be64(ja + 32) * 1000L / ts
            }
          }
          if (tag(ja + 4, "trak")) tracks += 1
          // children honor the same size-0 (to container end) and size-1
          // (64-bit largesize) encodings as the top-level walk — a legal
          // largesize child must be SKIPPED, not treated as terminal
          val cstep =
            if (csize == 0) end - j
            else if (csize == 1 && j + 16 <= end) be64(ja + 8)
            else csize
          // clamp to the container end: a 64-bit largesize near
          // Long.MaxValue would wrap `j + cstep` negative and re-enter
          // the loop at a truncated offset
          j = if (cstep < 8 || cstep > end - j) end else j + cstep
        }
        if (durMs >= 0) out = Some((ts, durMs, tracks))
        i = end
      } else {
        val step =
          if (size == 0) b.length - i // box extends to EOF (§4.2)
          else if (size == 1 && i + 16 <= b.length) be64(at + 8) // 64-bit largesize
          else size
        if (step < 8) return None // malformed: a box cannot be smaller than its header
        // clamp oversize steps to EOF so an adversarial largesize can
        // neither overflow `i + step` nor truncate through `.toInt`
        i = if (step > b.length - i) b.length else i + step
      }
    }
    out.map { case (ts, d, t) => (brand, ts, d, t) }
  }

  /** A minimal canonical MP4 header (`ftyp` + `moov[mvhd v0 + nTracks
    * empty trak]`) — the video analog of [[pngHeaderBytes]]/
    * [[wavHeaderBytes]] for fixtures. 132 + 8·nTracks deterministic bytes.
    */
  def mp4HeaderBytes(majorBrand: String, timescale: Int, duration: Int, nTracks: Int): Array[Byte] = {
    require(majorBrand.length == 4, "major brand is a 4CC")
    val mvhdSize = 108 // fixed v0 layout (ISO 14496-12 §8.2.2)
    val moovSize = 8 + mvhdSize + nTracks * 8
    val bb       = java.nio.ByteBuffer.allocate(16 + moovSize) // big-endian by default
    bb.putInt(16).put("ftyp".getBytes).put(majorBrand.getBytes).putInt(0)
    bb.putInt(moovSize).put("moov".getBytes)
    bb.putInt(mvhdSize).put("mvhd".getBytes)
    bb.putInt(0)                           // version 0 + flags
    bb.putInt(0).putInt(0)                 // creation/modification time
    bb.putInt(timescale).putInt(duration)
    bb.put(new Array[Byte](80))            // rate/volume/reserved/matrix/pre_defined/next_track_ID
    (0 until nTracks).foreach(_ => bb.putInt(8).put("trak".getBytes))
    bb.array()
  }

  /** Video decode stage: same partition-batched shape as [[decodeAudio]],
    * REAL ISO-BMFF parsing via [[mp4Meta]]; unparseable payloads yield
    * zeroed metadata rather than dropping the row.
    */
  def decodeVideo(records: Dataset[MediaRecord]): Dataset[VideoMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.map { r =>
      val (brand, ts, dur, tracks) = mp4Meta(r.media).getOrElse(("", 0L, 0L, 0))
      VideoMeta(r.id, r.media.length.toLong, brand, ts, dur, tracks)
    })
  }

  /** Registered query: REAL video-container decode end-to-end, completing
    * the image ([[multimodalDecode]]) / audio ([[multimodalAudio]]) /
    * video header-parse family — each document yields a synthesized MP4
    * header whose parameters derive from its columns, the Spark side
    * box-walks them back, and the oracle recomputes every value (including
    * the integer-division duration) independently.
    */
  val multimodalVideo: Q = Q(
    "q_multimodal_video",
    (s, dir) => {
      import s.implicits._
      val recs = docRows(s, dir, col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nChars) =>
          MediaRecord(
            id,
            "video",
            mp4HeaderBytes(
              majorBrand = if (id % 2 == 0) "isom" else "mp42",
              timescale = (600 * (1 + id % 4)).toInt,
              // toIntExact: a silent .toInt wrap on a future huge-doc
              // fixture would diverge from the oracle's full-precision
              // arithmetic — fail loudly at the 2^31 bound instead
              duration = math.toIntExact(nChars * 50),
              nTracks = (1 + id % 3).toInt
            )
          )
        }
      decodeVideo(recs).toDF().orderBy("id")
    },
    Some(
      """SELECT doc_id AS id,
        |  CAST(132 + 8 * (1 + doc_id % 3) AS BIGINT) AS "nBytes",
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS "majorBrand",
        |  CAST(600 * (1 + doc_id % 4) AS BIGINT) AS timescale,
        |  CAST((n_chars * 50 * 1000) // (600 * (1 + doc_id % 4)) AS BIGINT) AS "durationMs",
        |  CAST(1 + doc_id % 3 AS INT) AS "nTracks"
        |FROM documents ORDER BY id""".stripMargin
    )
  )

  /** Stats of a REAL resize: input dims, output dims, and pixel stats of
    * the re-encoded output artifact.
    */
  final case class ResizeMeta(
      id: Long,
      in_w: Int,
      in_h: Int,
      out_w: Int,
      out_h: Int,
      n_px: Long,
      px_sum: Long
  )

  /** REAL pixel-resize stage (replaces [[resizeStub]] for decodable payloads):
    * decode → nearest-neighbor downscale to fit `maxDim` → [[ImageCodec.encodePng]]
    * the result → re-decode the emitted artifact for the output stats, so
    * the reported numbers can only be right if the produced PNG is. The
    * resample is the pure-integer index map `src = out_idx * in_dim /
    * out_dim` (floor), chosen over float kernels deliberately: it is
    * engine-replayable (the q_multimodal_resize oracle recomputes it in
    * SQL) and allocation-bounded per row — the 100 TB thumbnailing shape.
    * Images already within `maxDim` pass through (still re-encoded).
    */
  def resizePixels(records: Dataset[MediaRecord], maxDim: Int): Dataset[ResizeMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        ImageCodec.decode(r.media).flatMap { img =>
          val m = math.max(img.width, img.height)
          val (ow, oh) =
            if (m <= maxDim) (img.width, img.height)
            else (math.max(1, img.width * maxDim / m), math.max(1, img.height * maxDim / m))
          val ch  = img.channels
          val out = new Array[Byte](ow * oh * ch)
          var y = 0
          while (y < oh) {
            val sy = y * img.height / oh
            var x  = 0
            while (x < ow) {
              val sx = x * img.width / ow
              var c  = 0
              while (c < ch) {
                out((y * ow + x) * ch + c) = img.pixels((sy * img.width + sx) * ch + c)
                c += 1
              }
              x += 1
            }
            y += 1
          }
          ImageCodec.decode(ImageCodec.encodePng(ow, oh, ch, out)).map { rimg =>
            var sum = 0L
            var i   = 0
            while (i < rimg.pixels.length) { sum += rimg.pixels(i) & 0xff; i += 1 }
            ResizeMeta(r.id, img.width, img.height, rimg.width, rimg.height,
              rimg.pixels.length.toLong, sum)
          }
        }
      }
    }
  }

  /** Registered query: the REAL resize pipeline end-to-end — synthetic
    * formula pixels → [[ImageCodec.encodePng]] → [[resizePixels]] (decode,
    * integer nearest-neighbor, re-encode, re-decode) — against an oracle
    * that replays generation AND resample arithmetic in SQL. Dims span
    * both sides of `maxDim` = 5 so the pass-through and downscale branches
    * are each exercised (and hash-checked) on every run.
    */
  val multimodalResize: Q = Q(
    "q_multimodal_resize",
    (s, dir) => {
      import s.implicits._
      val recs = docRows(s, dir, col("doc_id"))
        .as[Long]
        .map { id =>
          val w  = (2 + id % 9).toInt
          val h  = (2 + (id * 3) % 7).toInt
          MediaRecord(id, "image", ImageCodec.encodePng(w, h, 3, formulaRgb(w, h, id)))
        }
      resizePixels(recs, maxDim = 5).toDF().orderBy("id")
    },
    Some(
      """WITH d AS (
        |  SELECT doc_id, 2 + doc_id % 9 AS w, 2 + (doc_id * 3) % 7 AS h FROM documents),
        |r AS (
        |  SELECT doc_id, w, h,
        |    CASE WHEN greatest(w, h) <= 5 THEN w
        |         ELSE greatest(1, w * 5 // greatest(w, h)) END AS ow,
        |    CASE WHEN greatest(w, h) <= 5 THEN h
        |         ELSE greatest(1, h * 5 // greatest(w, h)) END AS oh
        |  FROM d)
        |SELECT doc_id AS id,
        |  CAST(w AS INT) AS in_w, CAST(h AS INT) AS in_h,
        |  CAST(ow AS INT) AS out_w, CAST(oh AS INT) AS out_h,
        |  CAST(ow * oh * 3 AS BIGINT) AS n_px,
        |  CAST(list_sum(flatten(list_transform(range(oh), y ->
        |    list_transform(range(ow * 3), i ->
        |      ((i // 3) * w // ow + 31 * (y * h // oh) + 7 * (i % 3) + doc_id) % 251)))) AS BIGINT) AS px_sum
        |FROM r ORDER BY id""".stripMargin
    )
  )

  /** Registered query: GIF encode→LZW-decode round-trip end-to-end against
    * an independent oracle — the [[multimodalPixels]] trick applied to
    * GIF: per-doc synthetic 16-color palette + index raster from integer
    * formulas, [[ImageCodec.encodeGif]] (the JDK's LZW compressor) to
    * bytes, [[decodePixels]] ([[Gif.decode]]'s LZW decompressor) back, and
    * the oracle replays the formulas directly — so the hash check passes
    * only if compressor and decompressor agree on GIF's variable-width
    * code scheme.
    */
  val multimodalGif: Q = Q(
    "q_multimodal_gif",
    (s, dir) => {
      import s.implicits._
      val recs = docRows(s, dir, col("doc_id"))
        .as[Long]
        .map { id =>
          val w   = (1 + id % 11).toInt
          val h   = (1 + (id * 7) % 9).toInt
          val pal = new Array[Byte](16 * 3)
          var c = 0
          while (c < 16) {
            var k = 0
            while (k < 3) { pal(3 * c + k) = ((5 * c + 11 * k + id) % 256).toByte; k += 1 }
            c += 1
          }
          val idx = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { idx(y * w + x) = ((x + 3L * y + id) % 16).toByte; x += 1 }
            y += 1
          }
          MediaRecord(id, "image", ImageCodec.encodeGif(w, h, pal, idx))
        }
      decodePixels(recs).toDF().orderBy("id")
    },
    Some(
      """SELECT doc_id AS id,
        |  CAST(1 + doc_id % 11 AS INT) AS width,
        |  CAST(1 + (doc_id * 7) % 9 AS INT) AS height,
        |  CAST((1 + doc_id % 11) * (1 + (doc_id * 7) % 9) * 3 AS BIGINT) AS n_px,
        |  CAST(list_sum(flatten(list_transform(range(1 + (doc_id * 7) % 9), y ->
        |    list_transform(range((1 + doc_id % 11) * 3), i ->
        |      (5 * ((i // 3 + 3 * y + doc_id) % 16) + 11 * (i % 3) + doc_id) % 256)))) AS BIGINT) AS px_sum
        |FROM documents ORDER BY id""".stripMargin
    )
  )

  /** A smooth gradient through a quality-0.95 JPEG and back: the decoded
    * image, its worst per-sample error and its mean error ×100. Sample
    * (x, y, c) = 30 + 150·x/(w−1) + rise·y/(h−1) + 5·c, with no mod wraps,
    * so quantization loss stays small and the bounds mean something. A
    * decode that fails or changes the raster size is None.
    */
  private def jpegGradient(w: Int, h: Int, ch: Int, rise: Int): Option[(ImageCodec.Image, Int, Long)] = {
    val px = Array.tabulate[Byte](w * h * ch) { i =>
      val x = i / ch % w
      val y = i / ch / w
      (30 + x * 150 / math.max(w - 1, 1) + y * rise / math.max(h - 1, 1) + 5 * (i % ch)).toByte
    }
    ImageCodec.decode(ImageCodec.encodeJpeg(w, h, ch, px, 0.95f)).filter(_.pixels.length == px.length).map { d =>
      var worst = 0
      var sum   = 0L
      var i     = 0
      while (i < px.length) {
        val e = math.abs((d.pixels(i) & 0xff) - (px(i) & 0xff))
        if (e > worst) worst = e
        sum += e
        i += 1
      }
      (d, worst, sum * 100 / px.length)
    }
  }

  /** Registered query: JPEG decode through the Spark batch stage. JPEG is
    * LOSSY, so unlike the PNG/GIF round-trips the pixels cannot replay
    * exactly in any oracle; the result reduces to exactly-checkable
    * dimensions plus bounded-deviation booleans against the known source
    * pixels — the same reduce-to-bound pattern as the HLL/KLL sketch
    * queries (`q_approx_distinct`/`q_approx_quantiles`). Per doc a gray
    * [[jpegGradient]] must hold max |err| ≤ 8 and mean×100 ≤ 200. A
    * decode failure drops the row and fails the row-count gate loudly.
    */
  val multimodalJpeg: Q = Q(
    "q_multimodal_jpeg",
    (s, dir) => {
      import s.implicits._
      val recs = docRows(s, dir, col("doc_id"))
        .as[Long]
        .flatMap { id =>
          val w = (16 + id % 17).toInt
          val h = (16 + (id * 5) % 13).toInt
          jpegGradient(w, h, 1, rise = 60).map { case (d, worst, mean100) =>
            (id, d.width, d.height, worst <= 8, mean100 <= 200)
          }
        }
        .toDF("id", "width", "height", "ok_max", "ok_mean")
      recs.orderBy("id")
    },
    Some(
      """SELECT doc_id AS id,
        |  CAST(16 + doc_id % 17 AS INT) AS width,
        |  CAST(16 + (doc_id * 5) % 13 AS INT) AS height,
        |  TRUE AS ok_max, TRUE AS ok_mean
        |FROM documents ORDER BY id""".stripMargin
    )
  )

  /** Registered query: REAL feature extraction end-to-end — formula
    * pixels → [[ImageCodec.encodePng]] → [[ImageCodec.decode]] → [[lumaHistogram]] —
    * hash-checked EXACTLY: the luma weights and binning are pure integer
    * arithmetic, so the oracle replays pixel generation, BT.601 luma and
    * the 8-bin histogram in SQL.
    */
  val multimodalFeatures: Q = Q(
    "q_multimodal_features",
    (s, dir) => {
      import s.implicits._
      docRows(s, dir, col("doc_id"))
        .as[Long]
        .flatMap { id =>
          val w  = (1 + id % 8).toInt
          val h  = (1 + (id * 3) % 6).toInt
          ImageCodec.decode(ImageCodec.encodePng(w, h, 3, formulaRgb(w, h, id))).map { d =>
            val (counts, lumaSum) = lumaHistogram(d.width, d.height, d.channels, d.pixels, 8)
            (id, d.width, d.height, counts(0), counts(1), counts(2), counts(3), counts(4), counts(5),
              counts(6), counts(7), lumaSum)
          }
        }
        .toDF("id", "width", "height", "h0", "h1", "h2", "h3", "h4", "h5", "h6", "h7", "luma_sum")
        .orderBy("id")
    },
    Some(
      """WITH px AS (
        |  SELECT doc_id, 1 + doc_id % 8 AS w, 1 + (doc_id * 3) % 6 AS h,
        |    list_transform(range((1 + doc_id % 8) * (1 + (doc_id * 3) % 6)), p ->
        |      (299 * (((p % (1 + doc_id % 8)) + 31 * (p // (1 + doc_id % 8)) + doc_id) % 251)
        |       + 587 * (((p % (1 + doc_id % 8)) + 31 * (p // (1 + doc_id % 8)) + 7 + doc_id) % 251)
        |       + 114 * (((p % (1 + doc_id % 8)) + 31 * (p // (1 + doc_id % 8)) + 14 + doc_id) % 251)) // 1000
        |    ) AS lumas
        |  FROM documents)
        |SELECT doc_id AS id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(len(list_filter(lumas, L -> L * 8 // 256 = 0)) AS BIGINT) AS h0,
        |  CAST(len(list_filter(lumas, L -> L * 8 // 256 = 1)) AS BIGINT) AS h1,
        |  CAST(len(list_filter(lumas, L -> L * 8 // 256 = 2)) AS BIGINT) AS h2,
        |  CAST(len(list_filter(lumas, L -> L * 8 // 256 = 3)) AS BIGINT) AS h3,
        |  CAST(len(list_filter(lumas, L -> L * 8 // 256 = 4)) AS BIGINT) AS h4,
        |  CAST(len(list_filter(lumas, L -> L * 8 // 256 = 5)) AS BIGINT) AS h5,
        |  CAST(len(list_filter(lumas, L -> L * 8 // 256 = 6)) AS BIGINT) AS h6,
        |  CAST(len(list_filter(lumas, L -> L * 8 // 256 = 7)) AS BIGINT) AS h7,
        |  CAST(list_sum(lumas) AS BIGINT) AS luma_sum
        |FROM px ORDER BY id""".stripMargin
    )
  )

  /** Registered query: REAL PCM sample decode end-to-end — formula-
    * generated signed 16-bit samples → [[wavPcmBytes]] (a complete
    * playable WAV) → [[decodePcm]] (chunk walk + LE sample read) — with
    * the oracle replaying the waveform formula exactly. Together with
    * [[multimodalAudio]] (header metadata) this covers the full audio
    * ingest path a speech-data pipeline runs: container audit + sample
    * loudness/clipping stats.
    */
  val multimodalPcm: Q = Q(
    "q_multimodal_pcm",
    (s, dir) => {
      import s.implicits._
      docRows(s, dir, col("doc_id"))
        .as[Long]
        .map { id =>
          val n = (200 + id % 300).toInt
          val samples = new Array[Short](n)
          var i = 0
          while (i < n) {
            samples(i) = (((i * 37L + id * 11) % 2003) - 1001).toShort
            i += 1
          }
          MediaRecord(id, "audio", wavPcmBytes(8000, 1, samples))
        }
        .transform(decodePcm)
        .toDF()
        .orderBy("id")
    },
    Some(
      """WITH w AS (
        |  SELECT doc_id,
        |    list_transform(range(200 + doc_id % 300),
        |                   i -> (i * 37 + doc_id * 11) % 2003 - 1001) AS s
        |  FROM documents)
        |SELECT doc_id AS id,
        |  CAST(8000 AS INT) AS "sampleRate",
        |  CAST(200 + doc_id % 300 AS BIGINT) AS "nSamples",
        |  CAST(list_sum(s) AS BIGINT) AS "sumAmp",
        |  CAST(list_max(list_transform(s, x -> abs(x))) AS INT) AS "peakAbs",
        |  CAST((200 + doc_id % 300) * 1000 // 8000 AS BIGINT) AS "durationMs"
        |FROM w ORDER BY id""".stripMargin
    )
  )

  /** Registered query: the JPEG loop on gray AND RGB images (odd/even
    * doc split; [[multimodalJpeg]] is gray only), reduced to exact dims
    * and channels plus bounded-deviation booleans: a [[jpegGradient]]
    * must hold max |err| ≤ 8 and mean×100 ≤ 300 for every document.
    */
  val multimodalJpegRt: Q = Q(
    "q_multimodal_jpeg_rt",
    (s, dir) => {
      import s.implicits._
      docRows(s, dir, col("doc_id"))
        .as[Long]
        .flatMap { id =>
          val w  = (16 + id % 13).toInt
          val h  = (16 + (id * 3) % 11).toInt
          val ch = if (id % 2 == 0) 1 else 3
          jpegGradient(w, h, ch, rise = 50).map { case (d, worst, mean100) =>
            (id, d.width, d.height, d.channels, worst <= 8, mean100 <= 300)
          }
        }
        .toDF("id", "width", "height", "channels", "ok_max", "ok_mean")
        .orderBy("id")
    },
    Some(
      """SELECT doc_id AS id,
        |  CAST(16 + doc_id % 13 AS INT) AS width,
        |  CAST(16 + (doc_id * 3) % 11 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
        |  TRUE AS ok_max, TRUE AS ok_mean
        |FROM documents ORDER BY id""".stripMargin
    )
  )

  /** Registered query: REAL classical embedding end-to-end — formula
    * pixels → [[ImageCodec.encodePng]] → [[ImageCodec.decode]] → [[lumaBlockSums]] —
    * hash-checked EXACTLY. Emits the 4×4 block-luma SUMS (pure integers)
    * rather than normalized floats (a block-mean embedding is
    * sum/count/255 of precisely these values, and counts are fully
    * determined by width/height). Dimensions start at 4 so every block
    * of the 4×4 lattice is non-empty. The oracle replays pixel
    * generation, BT.601 integer luma, and the block assignment
    * (y·4 div h, x·4 div w) independently in SQL.
    */
  val multimodalEmbed: Q = Q(
    "q_multimodal_embed",
    (s, dir) => {
      import s.implicits._
      docRows(s, dir, col("doc_id"))
        .as[Long]
        .flatMap { id =>
          val w  = (4 + id % 13).toInt
          val h  = (4 + (id * 7) % 11).toInt
          ImageCodec.decode(ImageCodec.encodePng(w, h, 3, formulaRgb(w, h, id))).map { d =>
            val (b, _) = lumaBlockSums(d.width, d.height, d.channels, d.pixels, 4)
            (id, d.width, d.height, b(0), b(1), b(2), b(3), b(4), b(5), b(6), b(7), b(8), b(9), b(10),
              b(11), b(12), b(13), b(14), b(15))
          }
        }
        .toDF("id", "width", "height", "b00", "b01", "b02", "b03", "b10", "b11", "b12", "b13",
          "b20", "b21", "b22", "b23", "b30", "b31", "b32", "b33")
        .orderBy("id")
    },
    Some {
      // per-pixel (block, luma) struct list, then one filtered sum per block
      val blockSums = (0 until 16)
        .map { b =>
          val r = b / 4; val c = b % 4
          s"""  CAST(coalesce(list_sum(list_transform(list_filter(bl, s -> s.b = $b), s -> s.l)), 0) AS BIGINT) AS b$r$c"""
        }
        .mkString(",\n")
      s"""WITH px AS (
         |  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + (doc_id * 7) % 11 AS h,
         |    list_transform(range((4 + doc_id % 13) * (4 + (doc_id * 7) % 11)), p ->
         |      struct_pack(
         |        b := ((p // (4 + doc_id % 13)) * 4 // (4 + (doc_id * 7) % 11)) * 4
         |             + ((p % (4 + doc_id % 13)) * 4 // (4 + doc_id % 13)),
         |        l := (299 * (((p % (4 + doc_id % 13)) + 31 * (p // (4 + doc_id % 13)) + doc_id) % 251)
         |            + 587 * (((p % (4 + doc_id % 13)) + 31 * (p // (4 + doc_id % 13)) + 7 + doc_id) % 251)
         |            + 114 * (((p % (4 + doc_id % 13)) + 31 * (p // (4 + doc_id % 13)) + 14 + doc_id) % 251)) // 1000
         |      )) AS bl
         |  FROM documents)
         |SELECT doc_id AS id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         |$blockSums
         |FROM px ORDER BY id""".stripMargin
    }
  )

  val all: Seq[Q] =
    Seq(multimodalMeta, multimodalPipeline, multimodalDecode, multimodalPixels, multimodalGif,
      multimodalResize, multimodalJpeg, multimodalJpegRt, multimodalFeatures, multimodalEmbed,
      multimodalAudio, multimodalPcm, multimodalFrames, multimodalVideo)
}
