package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Png, Multimodal}
import graft.ops.Multimodal.{MediaRow, PpmCodec}

/** The REAL PNG path: PNG is lossless, so the conformance contract is
  * BIT-EXACT rasters in both directions against the JDK's ImageIO —
  * my decode of ImageIO's encode and ImageIO's decode of my encode —
  * plus all-five-filter decoding, CRC/scope quarantine, and the
  * per-partition Spark decode over payload columns.
  */
class PngCodecSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def grayRaster(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] =
    Array.tabulate(w * h)(i => f(i % w, i / w).toByte)

  private def imageIoDecode(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO could not parse the stream")
    val w = img.getWidth; val h = img.getHeight
    // raw raster samples, never getRGB: on TYPE_BYTE_GRAY that routes
    // through a gray->sRGB gamma conversion (see JpegCodecSpec)
    val bands = img.getRaster.getNumBands
    val px = Array.tabulate(w * h) { i =>
      if (bands == 1) {
        val g = img.getRaster.getSample(i % w, i / w, 0); Array(g, g, g)
      } else Array(
        img.getRaster.getSample(i % w, i / w, 0),
        img.getRaster.getSample(i % w, i / w, 1),
        img.getRaster.getSample(i % w, i / w, 2))
    }.flatten
    (w, h, px)
  }

  test("gray encode/decode round-trips bit-exactly on arbitrary rasters") {
    val w = 37; val h = 23 // deliberately not multiples of anything
    val y = grayRaster(w, h)((x, yy) => (x * 7 + yy * 13 + 5) % 256)
    val dec = Png.decode(Png.encodeGray(w, h, y)).get
    assert(dec.width === w && dec.height === h)
    var i = 0
    while (i < w * h) {
      val g = dec.rgb(i * 3) & 0xff
      assert(g === (y(i) & 0xff), s"pixel $i")
      assert((dec.rgb(i * 3 + 1) & 0xff) === g && (dec.rgb(i * 3 + 2) & 0xff) === g)
      i += 1
    }
  }

  test("conformance A: ImageIO decodes MY encode to the identical raster") {
    val w = 24; val h = 16
    val y = grayRaster(w, h)((x, yy) => (x * 11 + yy * 3) % 256)
    val (dw, dh, px) = imageIoDecode(Png.encodeGray(w, h, y))
    assert(dw === w && dh === h)
    var i = 0
    while (i < w * h) {
      assert(px(i * 3) === (y(i) & 0xff), s"pixel $i")
      i += 1
    }
  }

  test("conformance B: MY decoder reads ImageIO's encode to the identical raster") {
    // ImageIO's PNG writer picks its own filters per scanline — this
    // exercises the Sub/Up/Average/Paeth defilter paths on real output
    val w = 40; val h = 25
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (yy <- 0 until h; x <- 0 until w) {
      val r = (x * x + yy) % 256; val g = (x + yy * yy) % 256; val b = (x * yy) % 256
      img.setRGB(x, yy, (r << 16) | (g << 8) | b)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out), "no PNG writer")
    val dec = Png.decode(out.toByteArray).get
    assert(dec.width === w && dec.height === h)
    for (yy <- 0 until h; x <- 0 until w) {
      val i = yy * w + x
      val want = img.getRGB(x, yy)
      assert((dec.rgb(i * 3) & 0xff) === ((want >> 16) & 0xff), s"R at $x,$yy")
      assert((dec.rgb(i * 3 + 1) & 0xff) === ((want >> 8) & 0xff), s"G at $x,$yy")
      assert((dec.rgb(i * 3 + 2) & 0xff) === (want & 0xff), s"B at $x,$yy")
    }
  }

  test("all five scanline filters defilter correctly in one hand-built stream") {
    // 4x5 gray, rows filtered 0..4 by hand against the spec recurrences
    val w = 4; val h = 5
    val y = grayRaster(w, h)((x, yy) => 10 + x * 20 + yy * 7)
    def enc(row: Int, f: Int, prev: Array[Int]): Array[Int] = {
      val cur = (0 until w).map(x => y(row * w + x) & 0xff)
      (0 until w).map { x =>
        val a = if (x > 0) cur(x - 1) else 0
        val b = if (row > 0) prev(x) else 0
        val c = if (row > 0 && x > 0) prev(x - 1) else 0
        val v = f match {
          case 0 => cur(x)
          case 1 => cur(x) - a
          case 2 => cur(x) - b
          case 3 => cur(x) - ((a + b) >> 1)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            cur(x) - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        v & 0xff
      }.toArray
    }
    val raw = new java.io.ByteArrayOutputStream()
    var prev = Array.fill(w)(0)
    for (row <- 0 until h) {
      raw.write(row) // filter byte = row index: exercises 0,1,2,3,4
      enc(row, row, prev).foreach(raw.write)
      prev = (0 until w).map(x => y(row * w + x) & 0xff).toArray
    }
    // wrap the raw scanlines in a minimal PNG by reusing the encoder's
    // container and swapping the IDAT payload
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw.toByteArray); deflater.finish()
    val z = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](1024)
    while (!deflater.finished()) z.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val shell = Png.encodeGray(w, h, y)
    // find the IDAT chunk in the shell and rebuild the file around our payload
    def u32(b: Array[Byte], p: Int): Int =
      ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
    var pos = 8
    var idatAt = -1
    while (idatAt < 0) {
      val len = u32(shell, pos)
      if (new String(shell, pos + 4, 4, "US-ASCII") == "IDAT") idatAt = pos
      else pos += 12 + len
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(shell, 0, idatAt)
    val payload = z.toByteArray
    out.write((payload.length >> 24) & 0xff); out.write((payload.length >> 16) & 0xff)
    out.write((payload.length >> 8) & 0xff); out.write(payload.length & 0xff)
    val typed = "IDAT".getBytes("US-ASCII") ++ payload
    typed.foreach(b => out.write(b & 0xff))
    val crc = new java.util.zip.CRC32; crc.update(typed)
    val cv = crc.getValue
    out.write(((cv >> 24) & 0xff).toInt); out.write(((cv >> 16) & 0xff).toInt)
    out.write(((cv >> 8) & 0xff).toInt); out.write((cv & 0xff).toInt)
    val oldLen = u32(shell, idatAt)
    out.write(shell, idatAt + 12 + oldLen, shell.length - idatAt - 12 - oldLen)
    val dec = Png.decode(out.toByteArray).get
    var i = 0
    while (i < w * h) { assert((dec.rgb(i * 3) & 0xff) === (y(i) & 0xff), s"pixel $i"); i += 1 }
  }

  test("malformed and out-of-scope streams quarantine as None, never throw") {
    val w = 16; val h = 12
    val good = Png.encodeGray(w, h, grayRaster(w, h)((x, yy) => x + yy))
    assert(Png.decode(Array.empty[Byte]) === None, "empty")
    assert(Png.decode(Array[Byte](1, 2, 3)) === None, "garbage")
    assert(Png.decode(good.take(20)) === None, "truncated in IHDR")
    assert(Png.decode(good.dropRight(good.length / 3)) === None, "truncated IDAT")
    val badSig = good.clone(); badSig(0) = 0x00
    assert(Png.decode(badSig) === None, "bad signature")
    val badCrc = good.clone(); badCrc(badCrc.length - 1) = (badCrc.last ^ 1).toByte
    assert(Png.decode(badCrc) === None, "flipped IEND CRC")
    val badIdat = good.clone(); badIdat(40) = (badIdat(40) ^ 0x10).toByte
    assert(Png.decode(badIdat) === None, "flipped byte mid-stream fails its CRC")
    // 16-bit depth: patch IHDR and re-CRC — out of scope, must quarantine
    val deep = good.clone(); deep(8 + 8 + 8) = 16
    val crc = new java.util.zip.CRC32; crc.update(deep, 12, 4 + 13)
    val cv = crc.getValue
    deep(8 + 8 + 13) = ((cv >> 24) & 0xff).toByte; deep(8 + 8 + 14) = ((cv >> 16) & 0xff).toByte
    deep(8 + 8 + 15) = ((cv >> 8) & 0xff).toByte; deep(8 + 8 + 16) = (cv & 0xff).toByte
    assert(Png.decode(deep) === None, "16-bit must quarantine")
  }

  test("FDICT zlib header quarantines instead of spinning (PNG forbids preset dictionaries)") {
    // a CRC-valid IDAT whose zlib header sets FDICT makes
    // Inflater.inflate() return 0 forever with needsDictionary()=true —
    // the decode loop must treat zero progress as malformed, not spin
    val w = 8; val h = 8
    val shell = Png.encodeGray(w, h, grayRaster(w, h)((x, yy) => x + yy))
    def u32(b: Array[Byte], p: Int): Int =
      ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
    var pos = 8; var idatAt = -1
    while (idatAt < 0) {
      if (new String(shell, pos + 4, 4, "US-ASCII") == "IDAT") idatAt = pos
      else pos += 12 + u32(shell, pos)
    }
    // CMF 0x78, FLG 0x20: (0x78*256 + 0x20) % 31 == 0 and FDICT bit set
    val payload = Array[Byte](0x78, 0x20, 1, 2, 3, 4, 5, 6, 7, 8)
    val out = new java.io.ByteArrayOutputStream()
    out.write(shell, 0, idatAt)
    out.write(0); out.write(0); out.write(0); out.write(payload.length)
    val typed = "IDAT".getBytes("US-ASCII") ++ payload
    out.write(typed, 0, typed.length)
    val crc = new java.util.zip.CRC32; crc.update(typed)
    val cv = crc.getValue
    out.write(((cv >> 24) & 0xff).toInt); out.write(((cv >> 16) & 0xff).toInt)
    out.write(((cv >> 8) & 0xff).toInt); out.write((cv & 0xff).toInt)
    val oldLen = u32(shell, idatAt)
    out.write(shell, idatAt + 12 + oldLen, shell.length - idatAt - 12 - oldLen)
    val bytes = out.toByteArray
    // run on a daemon thread with a join timeout so a regression fails
    // the test instead of hanging the suite
    @volatile var res: Option[Option[PpmCodec.Image]] = None
    val t = new Thread(() => { res = Some(Png.decode(bytes)) })
    t.setDaemon(true); t.start(); t.join(30000)
    assert(res === Some(None), "FDICT stream must quarantine, not spin or decode")
  }

  test("huge-IHDR colour bomb quarantines on decoded BYTES, not pixel count") {
    // 16384x16384 colour type 2: exactly 2^28 pixels (the old
    // pixel-count guard admitted it) but ~805 MB of decoded bytes —
    // must quarantine before any allocation
    val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out), "no PNG writer")
    val small = out.toByteArray
    assert(small(25) === 2, "ImageIO wrote a colour type other than RGB")
    val bomb = small.clone()
    def put32(p: Int, v: Int): Unit = {
      bomb(p) = ((v >> 24) & 0xff).toByte; bomb(p + 1) = ((v >> 16) & 0xff).toByte
      bomb(p + 2) = ((v >> 8) & 0xff).toByte; bomb(p + 3) = (v & 0xff).toByte
    }
    put32(16, 16384); put32(20, 16384) // IHDR width, height
    val crc = new java.util.zip.CRC32; crc.update(bomb, 12, 4 + 13)
    put32(29, crc.getValue.toInt)
    assert(Png.decode(bomb) === None, "oversized decode budget must quarantine")
  }

  test("Spark decode path: features for clean rows, quarantine for corrupt") {
    val rows = (0L until 6L).map { id =>
      val w = 12; val h = 8
      val y = grayRaster(w, h)((x, _) => (40 + id * 10 + x).toInt)
      val bytes0 = Png.encodeGray(w, h, y)
      val bytes = if (id % 3 == 2) bytes0.take(25) else bytes0
      MediaRow(id, "image", bytes, bytes.length.toLong, "png")
    }
    val feats = Png.decodePngFeatures(rows.toDS()).collect().sortBy(_.media_id)
    assert(feats.count(_.n_frames == 1) === 4)
    assert(feats.count(_.n_frames == 0) === 2)
    feats.filter(_.n_frames == 1).foreach { f =>
      assert(f.features(0) === 12.0 && f.features(1) === 8.0)
      // mean of 40+10id + mean(x over 0..11) = 40+10id+5.5
      assert(math.abs(f.features(2) - (40.0 + 10 * f.media_id + 5.5)) < 1e-9)
    }
  }
}
