package graft.ops

/** REAL PNG codec (ISO/IEC 15948 / RFC 2083), pure JVM — the image
  * slot beside [[Jpeg]]: JPEG+PNG together cover the overwhelming
  * majority of crawl images, and PNG is the lossless half (screenshots,
  * diagrams, UI captures), so decode must reproduce the encoded raster
  * BIT-EXACTLY — a stronger contract than JPEG's ±1 IDCT variance,
  * pinned both directions against the JDK's ImageIO in PngCodecSpec.
  *
  * Scope (the crawl-dominant profile): 8-bit samples, greyscale
  * (colour type 0) and truecolour (colour type 2), non-interlaced,
  * all five scanline filters (None/Sub/Up/Average/Paeth), zlib
  * IDAT streams across any number of chunks, CRC-validated chunk walk.
  * Out of scope — 16-bit, palette, alpha, Adam7 interlace — QUARANTINES
  * as None (never throws): at 100 TB a torn or exotic image is a row
  * to route, not a job to kill. The seam is per-partition over opaque
  * binary columns, so a libpng/Wuffs FFI drops in without touching
  * any plan (same contract as [[Jpeg]], reference intake:
  * /root/reference/extract_bq.py:142-185 treats payloads as opaque).
  */
object Png {

  private val Signature: Array[Int] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  // ---------------------------------------------------------------- encode

  private def crc32(bytes: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(bytes, off, len)
    c.getValue
  }

  private def chunk(out: java.io.ByteArrayOutputStream, typ: String,
                    data: Array[Byte]): Unit = {
    def u32(v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    u32(data.length.toLong)
    val typed = typ.getBytes("US-ASCII") ++ data
    typed.foreach(b => out.write(b & 0xff))
    u32(crc32(typed, 0, typed.length))
  }

  private def encodeRaster(width: Int, height: Int, colorType: Int,
                           samples: Array[Byte]): Array[Byte] = {
    val bpp = if (colorType == 0) 1 else 3
    require(width > 0 && height > 0 && samples.length == width * height * bpp,
      s"raster shape mismatch: $width x $height x $bpp vs ${samples.length} bytes")
    val out = new java.io.ByteArrayOutputStream()
    Signature.foreach(out.write)
    val ihdr = new Array[Byte](13)
    def put32(a: Array[Byte], off: Int, v: Int): Unit = {
      a(off) = ((v >> 24) & 0xff).toByte; a(off + 1) = ((v >> 16) & 0xff).toByte
      a(off + 2) = ((v >> 8) & 0xff).toByte; a(off + 3) = (v & 0xff).toByte
    }
    put32(ihdr, 0, width); put32(ihdr, 4, height)
    ihdr(8) = 8 // bit depth
    ihdr(9) = colorType.toByte
    ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0 // deflate, adaptive filters, no interlace
    chunk(out, "IHDR", ihdr)
    // filter 0 on every scanline: the raster IS the payload, and the
    // conformance contract (bit-exact round trip) doesn't care which
    // filter the encoder picked — decode handles all five regardless
    val raw = new Array[Byte](height * (1 + width * bpp))
    var row = 0
    while (row < height) {
      val o = row * (1 + width * bpp)
      raw(o) = 0
      System.arraycopy(samples, row * width * bpp, raw, o + 1, width * bpp)
      row += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) {
      val n = deflater.deflate(tmp)
      zbuf.write(tmp, 0, n)
    }
    deflater.end()
    chunk(out, "IDAT", zbuf.toByteArray)
    chunk(out, "IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** Encode an 8-bit greyscale raster (colour type 0). */
  def encodeGray(width: Int, height: Int, y: Array[Byte]): Array[Byte] =
    encodeRaster(width, height, 0, y)

  // ---------------------------------------------------------------- decode

  /** Decode a PNG stream; None quarantines malformed / out-of-scope
    * input (bad signature or CRC, truncated chunks, 16-bit, palette,
    * alpha, interlace, inflate failure, short pixel data).
    */
  def decode(bytes: Array[Byte]): Option[Multimodal.PpmCodec.Image] =
    try decodeImpl(bytes) catch { case scala.util.control.NonFatal(_) => None }

  private def decodeImpl(bytes: Array[Byte]): Option[Multimodal.PpmCodec.Image] = {
    if (bytes.length < 8) return None
    var i = 0
    while (i < 8) { if ((bytes(i) & 0xff) != Signature(i)) return None; i += 1 }
    var pos = 8
    def u32(p: Int): Long =
      ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
    var width = 0; var height = 0; var colorType = -1
    var sawIhdr = false; var sawIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (pos + 12 <= bytes.length && !sawIend) {
      val len = u32(pos)
      if (len > Int.MaxValue - 12 || pos + 12 + len > bytes.length) return None
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      if (!typ.forall(c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))) return None
      // CRC over type+data — validated for EVERY chunk, ancillary
      // included: a flipped byte anywhere is corruption, not data
      if (crc32(bytes, pos + 4, 4 + len.toInt) != u32(pos + 8 + len.toInt)) return None
      typ match {
        case "IHDR" =>
          if (sawIhdr || len != 13) return None
          sawIhdr = true
          width = u32(pos + 8).toInt; height = u32(pos + 12).toInt
          val bitDepth = bytes(pos + 16) & 0xff
          colorType = bytes(pos + 17) & 0xff
          val compression = bytes(pos + 18) & 0xff
          val filterMethod = bytes(pos + 19) & 0xff
          val interlace = bytes(pos + 20) & 0xff
          if (width <= 0 || height <= 0) return None
          if (bitDepth != 8 || (colorType != 0 && colorType != 2)) return None
          if (compression != 0 || filterMethod != 0 || interlace != 0) return None
          // decompression-bomb guard on DECODED BYTES, not pixels: the
          // raw (filtered) buffer is height·(1+width·bpp) and the px
          // buffer is height·width·bpp — bounding pixels alone admits
          // ~805 MB of allocations for a colour IHDR that fits in a
          // 60-byte file. 2^27 B (128 MiB) per buffer caps a task at
          // ~256 MiB, matched to executor memory rather than image area
          val bppGuard = if (colorType == 0) 1L else 3L
          if (height.toLong * (1L + width.toLong * bppGuard) > (1L << 27)) return None
        case "IDAT" =>
          if (!sawIhdr) return None
          idat.write(bytes, pos + 8, len.toInt)
        case "IEND" =>
          if (len != 0) return None
          sawIend = true
        case other =>
          // unknown CRITICAL chunk (uppercase first letter) = cannot
          // render correctly without it (PNG §5.4); ancillary = skip
          if (!sawIhdr || other(0).isUpper) return None
      }
      pos += 12 + len.toInt
    }
    if (!sawIhdr || !sawIend) return None
    val bpp = if (colorType == 0) 1 else 3
    val stride = width * bpp
    val expected = height * (1 + stride)
    val raw = new Array[Byte](expected)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    var got = 0
    while (got < expected && !inflater.finished()) {
      val n = inflater.inflate(raw, got, expected - got)
      // ANY zero-progress iteration is malformed, not just exhausted
      // input: a zlib header with FDICT set makes inflate() return 0
      // with needsDictionary()=true forever (PNG §10.1 forbids preset
      // dictionaries, so such a stream is corrupt by definition), and
      // spinning here would hang the task instead of quarantining
      if (n == 0 && !inflater.finished()) { inflater.end(); return None }
      got += n
    }
    val extra = inflater.finished() || {
      val probe = new Array[Byte](1); inflater.inflate(probe, 0, 1) == 0
    }
    inflater.end()
    if (got != expected || !extra) return None // short or oversized pixel data
    // defilter in place, scanline by scanline (PNG §9: byte a = left
    // at distance bpp, b = up, c = up-left; all arithmetic mod 256)
    val px = new Array[Byte](height * stride)
    var row = 0
    while (row < height) {
      val f = raw(row * (1 + stride)) & 0xff
      val src = row * (1 + stride) + 1
      val dst = row * stride
      if (f > 4) return None
      var x = 0
      while (x < stride) {
        val cur = raw(src + x) & 0xff
        val a = if (x >= bpp) px(dst + x - bpp) & 0xff else 0
        val b = if (row > 0) px(dst - stride + x) & 0xff else 0
        val c = if (row > 0 && x >= bpp) px(dst - stride + x - bpp) & 0xff else 0
        val v = f match {
          case 0 => cur
          case 1 => cur + a
          case 2 => cur + b
          case 3 => cur + ((a + b) >> 1)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        px(dst + x) = (v & 0xff).toByte
        x += 1
      }
      row += 1
    }
    val rgb =
      if (colorType == 2) px
      else {
        val out = new Array[Byte](width * height * 3)
        var p = 0
        while (p < width * height) {
          out(p * 3) = px(p); out(p * 3 + 1) = px(p); out(p * 3 + 2) = px(p)
          p += 1
        }
        out
      }
    Some(Multimodal.PpmCodec.Image(width, height, rgb))
  }

  /** Per-partition decode over payload rows → the shared
    * [[Multimodal.MediaFeatures]] frame (n_frames 0 = quarantined),
    * identical seam to [[Jpeg.decodeJpegFeatures]].
    */
  def decodePngFeatures(media: org.apache.spark.sql.Dataset[Multimodal.MediaRow])
      : org.apache.spark.sql.Dataset[Multimodal.MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { row =>
        decode(row.bytes) match {
          case Some(img) =>
            Multimodal.MediaFeatures(row.media_id, row.kind, 1,
              Multimodal.PpmCodec.features(img))
          case None =>
            Multimodal.MediaFeatures(row.media_id, row.kind, 0, Array.empty[Double])
        }
      }
    }
  }
}
