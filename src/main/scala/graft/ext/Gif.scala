package graft.ext

/** Pure-JVM GIF87a/89a decoder, `java.io` alone. Every other image
  * codec path is [[ImageCodec]]'s `javax.imageio` call; this one stays
  * because JDK 17's GIF reader returns wrong pixels for interlaced GIFs
  * 2–4 rows tall (ExtSpec pins those shapes against the source raster).
  *
  * The full GIF LZW scheme (variable code width 3..12 bits, LSB-first bit
  * packing, sub-block framing, Clear/EOI codes, the KwKwK self-reference
  * case, deferred clear) plus the 4-pass row interlace. Reference: GIF89a
  * specification §§15-22. One image per stream is decoded (the first
  * image descriptor); global and local color tables and all extension
  * blocks (skipped) are handled. Transparency is ignored: palette RGB is
  * returned as stored, so the decode is a pure function of the bytes.
  */
object Gif {

  /** Strict structural decode; None on anything malformed or truncated
    * (never throws on arbitrary bytes — the walk is totality-checked the
    * same way as [[Multimodal.mp4Meta]]).
    */
  def decode(b: Array[Byte]): Option[ImageCodec.Image] = {
    if (b.length < 13) return None
    if (!(b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return None
    @inline def u8(i: Int): Int  = b(i) & 0xff
    @inline def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)

    val packed  = u8(10)
    val hasGct  = (packed & 0x80) != 0
    val gctSize = 2 << (packed & 0x07)
    var pos     = 13
    val gct: Array[Byte] =
      if (hasGct) {
        if (pos + 3 * gctSize > b.length) return None
        val t = java.util.Arrays.copyOfRange(b, pos, pos + 3 * gctSize)
        pos += 3 * gctSize
        t
      } else null

    // walk blocks to the first image descriptor
    while (pos < b.length && u8(pos) != 0x2c) {
      u8(pos) match {
        case 0x21 => // extension: label + sub-blocks
          pos += 2
          while (pos < b.length && u8(pos) != 0) pos += 1 + u8(pos)
          if (pos >= b.length) return None
          pos += 1 // block terminator
        case 0x3b => return None // trailer before any image
        case _    => return None
      }
    }
    if (pos + 10 > b.length) return None
    val w          = u16(pos + 5)
    val h          = u16(pos + 7)
    val ipacked    = u8(pos + 9)
    val interlaced = (ipacked & 0x40) != 0
    val hasLct     = (ipacked & 0x80) != 0
    val lctSize    = 2 << (ipacked & 0x07)
    pos += 10
    val palette: Array[Byte] =
      if (hasLct) {
        if (pos + 3 * lctSize > b.length) return None
        val t = java.util.Arrays.copyOfRange(b, pos, pos + 3 * lctSize)
        pos += 3 * lctSize
        t
      } else gct
    if (palette == null) return None
    if (w <= 0 || h <= 0 || w.toLong * h > (1 << 26)) return None
    if (pos >= b.length) return None

    val minCodeSize = u8(pos)
    pos += 1
    if (minCodeSize < 2 || minCodeSize > 8) return None

    // concatenate sub-blocks into the LZW byte stream
    val data = new java.io.ByteArrayOutputStream()
    while (pos < b.length && u8(pos) != 0) {
      val len = u8(pos)
      if (pos + 1 + len > b.length) return None
      data.write(b, pos + 1, len)
      pos += 1 + len
    }
    if (pos >= b.length) return None // missing terminator

    val indicesOpt = lzwDecode(data.toByteArray, minCodeSize, w * h)
    if (indicesOpt.isEmpty) return None
    val indices = indicesOpt.get

    // map through the palette, un-interlacing row placement if needed
    val out     = new Array[Byte](w * h * 3)
    val nColors = palette.length / 3
    var src     = 0
    var pass    = 0
    val starts  = Array(0, 4, 2, 1)
    val steps   = Array(8, 8, 4, 2)
    def writeRow(y: Int): Unit = {
      var x = 0
      while (x < w) {
        val idx = indices(src) & 0xff
        if (idx >= nColors) return // malformed index: leave zeros (caught below)
        out((y * w + x) * 3) = palette(idx * 3)
        out((y * w + x) * 3 + 1) = palette(idx * 3 + 1)
        out((y * w + x) * 3 + 2) = palette(idx * 3 + 2)
        src += 1
        x += 1
      }
    }
    if (interlaced) {
      while (pass < 4) {
        var y = starts(pass)
        while (y < h) { writeRow(y); y += steps(pass) }
        pass += 1
      }
    } else {
      var y = 0
      while (y < h) { writeRow(y); y += 1 }
    }
    if (src != w * h) None else Some(ImageCodec.Image(w, h, 3, out))
  }

  /** GIF-flavor LZW decompression: returns exactly `expected` index bytes
    * or None. Codes are LSB-first; width starts at minCodeSize+1 and grows
    * when the table reaches 2^width (capped at 12); Clear resets.
    */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int, expected: Int): Option[Array[Byte]] = {
    val clear = 1 << minCodeSize
    val eoi   = clear + 1
    // table as (prefix code, appended byte); roots are -1-prefixed
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var free   = eoi + 1
    var width  = minCodeSize + 1
    val out    = new Array[Byte](expected)
    var outLen = 0
    var bitPos = 0
    val nBits  = data.length * 8
    var prev   = -1
    val stack  = new Array[Byte](4096)

    @inline def readCode(): Int = {
      if (bitPos + width > nBits) return -1
      var v = 0
      var i = 0
      while (i < width) {
        val bit = (data((bitPos + i) >> 3) >> ((bitPos + i) & 7)) & 1
        v |= bit << i
        i += 1
      }
      bitPos += width
      v
    }
    @inline def emitSeq(code: Int, extra: Int): Boolean = {
      // expand code (plus optional KwKwK first-byte) onto out via the stack
      var top = 0
      var c   = code
      if (extra >= 0) { stack(top) = extra.toByte; top += 1 }
      while (c >= clear + 2) {
        if (c >= free) return false
        stack(top) = suffix(c); top += 1; c = prefix(c)
      }
      if (c >= clear) return false
      stack(top) = c.toByte; top += 1
      if (outLen + top > expected) return false
      while (top > 0) { top -= 1; out(outLen) = stack(top); outLen += 1 }
      true
    }
    @inline def firstByte(code: Int): Int = {
      var c = code
      while (c >= clear + 2) c = prefix(c)
      c
    }

    var done = false
    while (!done) {
      val code = readCode()
      if (code < 0) return None // ran off the bitstream before EOI
      if (code == clear) {
        free = eoi + 1
        width = minCodeSize + 1
        prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev == -1) {
        if (code >= clear) return None
        if (!emitSeq(code, -1)) return None
        prev = code
      } else {
        if (code > free || (code == free && free >= 4096)) return None
        if (code == free) {
          // KwKwK: sequence = prev's expansion + its own first byte
          if (!emitSeq(prev, firstByte(prev))) return None
        } else {
          if (!emitSeq(code, -1)) return None
        }
        if (free < 4096) {
          prefix(free) = prev
          suffix(free) = firstByte(if (code == free) prev else code).toByte
          free += 1
          if (free == (1 << width) && width < 12) width += 1
        }
        prev = code
      }
      if (outLen == expected && !done) {
        // all pixels produced; accept a stream whose EOI/terminator follows
        done = true
      }
    }
    if (outLen == expected) Some(out) else None
  }
}
