package graft.ext

import java.awt.Transparency
import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer, DataBufferByte, IndexColorModel, Raster}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageReader, ImageWriteParam}
import javax.imageio.event.IIOReadWarningListener
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

import scala.util.control.NonFatal

/** Every image encode, and every PNG and JPEG decode, goes through the
  * JDK's `javax.imageio` codecs here. GIF decode goes to [[Gif.decode]]:
  * JDK 17's GIF reader returns wrong pixels for interlaced GIFs 2–4 rows
  * tall (ExtSpec pins the shapes).
  *
  * [[decode]] is total on untrusted bytes: anything that is not a
  * complete, supported image is None, never a throw. Four guards make the
  * JDK readers fit that contract:
  *   - the raster cap runs on the header dims BEFORE `read`, which
  *     allocates the declared raster before it reads any pixel data;
  *   - a PNG must end with the 12-byte IEND chunk, and any read warning
  *     (JPEG reports truncation only as a warning) is None;
  *   - samples come from the `Raster`, never `getRGB` (which converts
  *     linear CS_GRAY), palettes resolve to RGB through the
  *     `IndexColorModel`, and samples wider than 8 bits are None;
  *   - streams are `MemoryCache*Stream`s: `ImageIO.read`/`write`/
  *     `createImage*Stream` back each stream with a temp file, which
  *     contends across concurrent tasks.
  * Interlaced PNG and progressive JPEG decode.
  */
object ImageCodec {

  /** Row-major raster: `height` rows × `width` × `channels` bytes.
    * Channels: 1 gray, 2 gray+alpha, 3 RGB, 4 RGBA; palettes resolve to 3.
    */
  final case class Image(width: Int, height: Int, channels: Int, pixels: Array[Byte])

  /** Hard cap on a decoded raster (256 MiB), checked on the header. */
  private val MaxRaster = 1 << 28

  private val PngSignature = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
  private val PngIend = Array(0, 0, 0, 0, 0x49, 0x45, 0x4e, 0x44, 0xae, 0x42, 0x60, 0x82).map(_.toByte)
  private val JpegSoi = Array(0xff, 0xd8).map(_.toByte)

  private def matchesAt(b: Array[Byte], at: Int, want: Array[Byte]): Boolean =
    at >= 0 && b.length - at >= want.length && want.indices.forall(i => b(at + i) == want(i))

  /** PNG, JPEG or GIF bytes to a raster, by signature; None if the
    * payload is not a complete, supported image.
    */
  def decode(b: Array[Byte]): Option[Image] =
    if (matchesAt(b, 0, PngSignature))
      if (matchesAt(b, b.length - PngIend.length, PngIend)) read("png", b) else None
    else if (matchesAt(b, 0, JpegSoi)) read("jpeg", b)
    else Gif.decode(b)

  private def read(format: String, b: Array[Byte]): Option[Image] = {
    val reader = ImageIO.getImageReadersByFormatName(format).next()
    try {
      var warned = false
      reader.addIIOReadWarningListener(new IIOReadWarningListener {
        def warningOccurred(source: ImageReader, warning: String): Unit = warned = true
      })
      reader.setInput(new MemoryCacheImageInputStream(new ByteArrayInputStream(b)), true, true)
      val (w, h)   = (reader.getWidth(0), reader.getHeight(0))
      val raw      = Option(reader.getRawImageType(0))
      val paletted = raw.exists(_.getColorModel.isInstanceOf[IndexColorModel])
      val bits     = raw.fold(Array.emptyIntArray)(_.getSampleModel.getSampleSize)
      val rowBytes = (w.toLong * bits.sum + 7) / 8
      // zlib expands at most ~1032:1, so a PNG header claiming a raster
      // its bytes cannot hold is forged
      if (bits.isEmpty || !bits.forall(d => d == 8 || paletted && d < 8) || w <= 0 || h <= 0 ||
          w.toLong * h * (if (paletted) 3 else bits.length) > MaxRaster ||
          (format == "png" && b.length.toLong * 1032 + 64 < (rowBytes + 1) * h)) None
      else {
        val img    = reader.read(0)
        val raster = img.getRaster
        if (warned) None
        else img.getColorModel match {
          case icm: IndexColorModel =>
            Some(Image(w, h, 3, resolve(icm, raster.getSamples(0, 0, w, h, 0, null: Array[Int]))))
          case _ =>
            Some(Image(w, h, raster.getNumBands, raster.getPixels(0, 0, w, h, null: Array[Int]).map(_.toByte)))
        }
      }
    } catch { case NonFatal(_) => None } finally reader.dispose()
  }

  private def resolve(icm: IndexColorModel, indices: Array[Int]): Array[Byte] = {
    val rgb = new Array[Byte](indices.length * 3)
    var p = 0
    while (p < indices.length) {
      val i = indices(p)
      rgb(3 * p) = icm.getRed(i).toByte
      rgb(3 * p + 1) = icm.getGreen(i).toByte
      rgb(3 * p + 2) = icm.getBlue(i).toByte
      p += 1
    }
    rgb
  }

  /** `pixels` wrapped, not copied, as an interleaved 8-bit image. */
  private def interleaved(width: Int, height: Int, channels: Int, pixels: Array[Byte]): BufferedImage = {
    require(width > 0 && height > 0, "empty image")
    require(channels >= 1 && channels <= 4, s"unsupported channel count $channels")
    require(pixels.length == width * height * channels, "pixel buffer size mismatch")
    val alpha = channels % 2 == 0
    val cm = new ComponentColorModel(
      ColorSpace.getInstance(if (channels <= 2) ColorSpace.CS_GRAY else ColorSpace.CS_sRGB),
      Array.fill(channels)(8), alpha, false,
      if (alpha) Transparency.TRANSLUCENT else Transparency.OPAQUE, DataBuffer.TYPE_BYTE)
    val raster = Raster.createInterleavedRaster(new DataBufferByte(pixels, pixels.length),
      width, height, width * channels, channels, Array.tabulate(channels)(identity), null)
    new BufferedImage(cm, raster, false, null)
  }

  private def write(format: String, img: BufferedImage, quality: Option[Float]): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName(format).next()
    try {
      val param = writer.getDefaultWriteParam
      if (param.canWriteProgressive) param.setProgressiveMode(ImageWriteParam.MODE_DISABLED)
      quality.foreach { q =>
        param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionQuality(q)
      }
      val out = new ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(out)
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, null), param)
      ios.close()
      out.toByteArray
    } finally writer.dispose()
  }

  /** Lossless PNG; channels 1–4 are color types 0, 4, 2 and 6. */
  def encodePng(width: Int, height: Int, channels: Int, pixels: Array[Byte]): Array[Byte] =
    write("png", interleaved(width, height, channels, pixels), None)

  /** Baseline JPEG at `quality` ∈ [0, 1]; channels 1 (gray) or 3 (RGB). */
  def encodeJpeg(width: Int, height: Int, channels: Int, pixels: Array[Byte], quality: Float): Array[Byte] = {
    require(channels == 1 || channels == 3, s"JPEG takes 1 or 3 channels, got $channels")
    write("jpeg", interleaved(width, height, channels, pixels), Some(quality))
  }

  /** Non-interlaced GIF with `palette` (RGB triplets, a power-of-two
    * count in [2, 256]) as its global color table and one index byte per
    * pixel.
    */
  def encodeGif(width: Int, height: Int, palette: Array[Byte], indices: Array[Byte]): Array[Byte] = {
    val n = palette.length / 3
    require(n >= 2 && n <= 256 && Integer.bitCount(n) == 1 && palette.length == 3 * n,
      s"palette must hold a power-of-two color count in [2,256], got ${palette.length} bytes")
    require(width > 0 && height > 0 && indices.length == width * height, "one index byte per pixel")
    val icm = new IndexColorModel(8, n,
      Array.tabulate(n)(i => palette(3 * i)),
      Array.tabulate(n)(i => palette(3 * i + 1)),
      Array.tabulate(n)(i => palette(3 * i + 2)))
    val raster = Raster.createInterleavedRaster(new DataBufferByte(indices, indices.length),
      width, height, width, 1, Array(0), null)
    write("gif", new BufferedImage(icm, raster, false, null), None)
  }
}
