package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column handling: image/audio/video payloads ride through
  * the engine as opaque `binary` columns with typed metadata; decode /
  * feature-extraction runs per-partition, so a codec is set up once
  * per executor task, not once per row. The codecs are pure JVM — PPM
  * and WAV here, JPEG and PNG in their own files — each with a
  * malformed-input quarantine.
  */
object Multimodal {

  /** An opaque media payload with typed metadata. */
  final case class MediaRow(
      media_id: Long,
      kind: String,              // "image" | "audio" | "video"
      bytes: Array[Byte],
      n_bytes: Long,
      format: String)

  /** Per-item features from a decoder (n_frames 0 = quarantined). */
  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_frames: Int,
      features: Array[Double])

  /** REAL image codec for binary PPM (P6) — pure JVM, no native libs,
    * so this environment can exercise a genuine decode → resize →
    * feature path end to end. PPM is the "hello world" of raster
    * formats (ASCII header `P6 <w> <h> <maxval>` then raw RGB24), but
    * the pipeline shape it drives here — header parse, malformed-input
    * quarantine, nearest-neighbour resample, channel statistics — is
    * the one the JPEG and PNG codecs plug into.
    */
  object PpmCodec {

    final case class Image(width: Int, height: Int, rgb: Array[Byte])

    /** Encode an RGB24 raster as binary PPM. */
    def encode(img: Image): Array[Byte] = {
      val header = s"P6\n${img.width} ${img.height}\n255\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = new Array[Byte](header.length + img.rgb.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(img.rgb, 0, out, header.length, img.rgb.length)
      out
    }

    /** Strict P6 parse; None on anything malformed (bad magic, bad
      * dims, truncated payload) — intake quarantines, never throws.
      * Handles `#` comments and arbitrary whitespace per the spec.
      */
    def decode(bytes: Array[Byte]): Option[Image] = decodeAt(bytes, 0).map(_._1)

    /** One P6 frame starting at `from`, plus the offset just past its
      * raster — the walking primitive multi-frame streams
      * ([[PpmVideoCodec]]) build on. Same quarantine contract as
      * [[decode]].
      */
    def decodeAt(bytes: Array[Byte], from: Int): Option[(Image, Int)] = {
      var i = from
      def skipWs(): Unit = {
        var going = true
        while (going && i < bytes.length) {
          val c = bytes(i).toChar
          if (c == '#') { while (i < bytes.length && bytes(i).toChar != '\n') i += 1 }
          else if (c.isWhitespace) i += 1
          else going = false
        }
      }
      def token(): Option[String] = {
        skipWs()
        val start = i
        while (i < bytes.length && !bytes(i).toChar.isWhitespace) i += 1
        if (i > start) Some(new String(bytes, start, i - start,
          java.nio.charset.StandardCharsets.US_ASCII)) else None
      }
      def intToken(): Option[Int] =
        token().flatMap(t => scala.util.Try(t.toInt).toOption).filter(_ > 0)
      for {
        magic <- token() if magic == "P6"
        w <- intToken()
        h <- intToken()
        maxv <- intToken() if maxv == 255
        // exactly ONE whitespace byte separates maxval from the raster
        _ <- if (i < bytes.length && bytes(i).toChar.isWhitespace) { i += 1; Some(()) }
             else None
        need = w.toLong * h * 3
        _ <- if (bytes.length - i >= need && need <= Int.MaxValue) Some(()) else None
      } yield (Image(w, h, java.util.Arrays.copyOfRange(bytes, i, i + need.toInt)),
        i + need.toInt)
    }

    /** Nearest-neighbour resample — the real resize primitive. */
    def resize(img: Image, w2: Int, h2: Int): Image = {
      require(w2 > 0 && h2 > 0, "resize target must be positive")
      val out = new Array[Byte](w2 * h2 * 3)
      var y = 0
      while (y < h2) {
        val sy = y * img.height / h2
        var x = 0
        while (x < w2) {
          val sx = x * img.width / w2
          val s = (sy * img.width + sx) * 3
          val d = (y * w2 + x) * 3
          out(d) = img.rgb(s); out(d + 1) = img.rgb(s + 1); out(d + 2) = img.rgb(s + 2)
          x += 1
        }
        y += 1
      }
      Image(w2, h2, out)
    }

    /** Channel statistics: (width, height, meanR, meanG, meanB,
      * lumaMean, lumaStd) — the model-input normalization stats a
      * preprocessing stage computes per image.
      */
    def features(img: Image): Array[Double] = {
      val n = img.width * img.height
      var r = 0.0; var g = 0.0; var b = 0.0; var l = 0.0; var l2 = 0.0
      var p = 0
      while (p < n) {
        val pr = img.rgb(p * 3) & 0xff
        val pg = img.rgb(p * 3 + 1) & 0xff
        val pb = img.rgb(p * 3 + 2) & 0xff
        val luma = 0.299 * pr + 0.587 * pg + 0.114 * pb
        r += pr; g += pg; b += pb; l += luma; l2 += luma * luma
        p += 1
      }
      val lm = l / n
      Array(img.width.toDouble, img.height.toDouble,
        r / n, g / n, b / n, lm, math.sqrt(math.max(l2 / n - lm * lm, 0.0)))
    }
  }

  /** REAL multi-frame video codec: a concatenated-P6 stream (the PPM
    * "raw video" convention — `ffmpeg -f image2pipe -vcodec ppm` emits
    * exactly this) walked frame by frame with [[PpmCodec.decodeAt]].
    * A truncated or corrupt tail quarantines the REMAINDER while
    * keeping the frames already parsed — the per-frame analogue of the
    * row-level quarantine contract, because a 2-hour capture with a
    * torn final GOP is still 2 hours of training data.
    */
  object PpmVideoCodec {

    /** Encode frames as one concatenated-P6 stream. */
    def encode(frames: Seq[PpmCodec.Image]): Array[Byte] = {
      val parts = frames.map(PpmCodec.encode)
      val out = new Array[Byte](parts.map(_.length).sum)
      var o = 0
      parts.foreach { p => System.arraycopy(p, 0, out, o, p.length); o += p.length }
      out
    }

    /** Walk the stream: frames parsed until the bytes end cleanly
      * (truncated = false) or a frame fails mid-parse (truncated =
      * true, prefix kept).
      */
    def decodeStream(bytes: Array[Byte]): (Seq[PpmCodec.Image], Boolean) = {
      val frames = Seq.newBuilder[PpmCodec.Image]
      var off = 0
      var truncated = false
      var going = true
      while (going && off < bytes.length) {
        PpmCodec.decodeAt(bytes, off) match {
          case Some((img, next)) => frames += img; off = next
          case None => truncated = true; going = false
        }
      }
      (frames.result(), truncated)
    }
  }

  /** Per-partition REAL video decode + shot-boundary detection over
    * concatenated-P6 payloads: each payload's frames are walked, the
    * per-frame mean luma is folded IN FRAME ORDER, and a scene change
    * is counted whenever consecutive frame lumas differ by more than
    * `sceneThreshold` — the shot-boundary primitive a video training
    * pipeline samples keyframes around. Features: (truncated 0/1,
    * mean luma over frames, scene changes). Zero-frame payloads
    * surface with n_frames = 0 and the SAME 3-element feature shape —
    * a stream torn inside its first frame keeps truncated = 1, so the
    * quarantine reason survives and downstream element_at reads never
    * hit a missing slot (uniform schema; ANSI-safe).
    */
  def decodeVideoFeatures(media: Dataset[MediaRow],
                          sceneThreshold: Double): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { row =>
        val (frames, truncated) = PpmVideoCodec.decodeStream(row.bytes)
        if (frames.isEmpty)
          MediaFeatures(row.media_id, row.kind, 0,
            Array(if (truncated) 1.0 else 0.0, 0.0, 0.0))
        else {
          val lumas = frames.map { img =>
            // per-frame mean luma, same per-pixel formula as
            // PpmCodec.features
            val n = img.width * img.height
            var l = 0.0
            var p = 0
            while (p < n) {
              l += 0.299 * (img.rgb(p * 3) & 0xff) +
                0.587 * (img.rgb(p * 3 + 1) & 0xff) +
                0.114 * (img.rgb(p * 3 + 2) & 0xff)
              p += 1
            }
            l / n
          }
          var sum = 0.0
          lumas.foreach(sum += _) // sequential fold, frame order
          var scenes = 0
          var f = 1
          while (f < lumas.length) {
            if (math.abs(lumas(f) - lumas(f - 1)) > sceneThreshold) scenes += 1
            f += 1
          }
          MediaFeatures(row.media_id, row.kind, frames.length,
            Array(if (truncated) 1.0 else 0.0, sum / lumas.length, scenes.toDouble))
        }
      }
    }
  }

  /** REAL audio codec for WAV (RIFF, 16-bit PCM) — the audio twin of
    * [[PpmCodec]], pure JVM: RIFF/fmt/data chunk walk, mono-or-stereo
    * 16-bit little-endian samples, malformed-input quarantine. The
    * features it feeds ([[decodeWavFeatures]]) are the classic signal
    * stats a speech-data pipeline gates on: duration, RMS level
    * (silence / clipping detection), zero-crossing rate (voiced vs
    * noise).
    */
  object WavCodec {

    final case class Audio(sampleRate: Int, channels: Int, samples: Array[Short])

    /** Encode mono/stereo PCM16 as a canonical 44-byte-header WAV. */
    def encode(a: Audio): Array[Byte] = {
      val dataLen = a.samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort)                       // PCM
        .putShort(a.channels.toShort)
        .putInt(a.sampleRate)
        .putInt(a.sampleRate * a.channels * 2)     // byte rate
        .putShort((a.channels * 2).toShort)        // block align
        .putShort(16.toShort)                      // bits/sample
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      a.samples.foreach(bb.putShort)
      bb.array()
    }

    /** Chunk-walking parse; None on anything malformed (bad magic,
      * non-PCM, not 16-bit, truncated data) — quarantine, never throw.
      * Skips unknown chunks (LIST/INFO etc.) like a real reader must.
      * The buffer-bounds guards cover the paths a hostile payload can
      * reach; the catch is the belt-and-braces backstop so intake can
      * NEVER fault on bytes (BufferUnderflow on a lying chunk size,
      * position past limit on a trailing odd chunk).
      */
    def decode(bytes: Array[Byte]): Option[Audio] =
      try decodeImpl(bytes)
      catch { case _: RuntimeException => None }

    private def decodeImpl(bytes: Array[Byte]): Option[Audio] = {
      if (bytes.length < 44) return None
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag4(): String = {
        val t = new Array[Byte](4); bb.get(t)
        new String(t, java.nio.charset.StandardCharsets.US_ASCII)
      }
      if (tag4() != "RIFF") return None
      bb.getInt // riff size (untrusted; we walk actual chunks)
      if (tag4() != "WAVE") return None
      var fmt: Option[(Int, Int)] = None // (channels, sampleRate)
      while (bb.remaining() >= 8) {
        val id = tag4()
        val sz = bb.getInt
        if (sz < 0 || sz > bb.remaining()) return None
        id match {
          case "fmt " =>
            if (sz < 16) return None
            val p0 = bb.position()
            val codec = bb.getShort
            val ch = bb.getShort
            val rate = bb.getInt
            bb.getInt; bb.getShort
            val bits = bb.getShort
            if (codec != 1 || bits != 16 || ch < 1 || rate <= 0) return None
            fmt = Some((ch.toInt, rate))
            bb.position(p0 + sz + (sz & 1)) // chunks are word-aligned
          case "data" =>
            val f = fmt.getOrElse(return None)
            if (sz % 2 != 0) return None
            val n = sz / 2
            val out = new Array[Short](n)
            var i = 0
            while (i < n) { out(i) = bb.getShort; i += 1 }
            return Some(Audio(f._2, f._1, out))
          case _ =>
            bb.position(bb.position() + sz + (sz & 1)) // skip unknown chunk
        }
      }
      None
    }

    /** Signal statistics: (duration_sec, rms [0,1], zero-crossing
      * rate per second) over the first channel.
      */
    def features(a: Audio): Array[Double] = {
      val n = a.samples.length / a.channels
      if (n == 0) return Array(0.0, 0.0, 0.0)
      var sq = 0.0; var zc = 0
      var prev = a.samples(0).toInt
      var i = 0
      while (i < n) {
        val s = a.samples(i * a.channels).toInt
        sq += s.toDouble * s
        if (i > 0 && ((s >= 0) != (prev >= 0))) zc += 1
        prev = s
        i += 1
      }
      val dur = n.toDouble / a.sampleRate
      Array(dur, math.sqrt(sq / n) / 32768.0, zc / dur)
    }
  }

  /** One VAD verdict per audio payload. */
  final case class VadRow(media_id: Long, decoded: Int, n_windows: Long,
                          n_speech: Long, n_segments: Long, speech_sec: Double)

  /** Energy-based voice-activity detection over decoded WAV — the
    * speech-pipeline gate between raw capture and ASR/training: the
    * first channel is cut into fixed windows, each window's RMS is
    * compared to a silence threshold, and consecutive speech windows
    * merge into segments. Output per payload: window/speech counts,
    * segment count, and total speech seconds — the numbers a corpus
    * builder filters on (drop near-silent captures, bill by speech
    * time, split long files at silence). Malformed payloads surface
    * with decoded = 0 (quarantine contract).
    *
    * Map-side per-partition like every codec path; a real pipeline
    * swaps the energy rule for a model VAD behind the same window →
    * flag → merge shape.
    */
  def vadSegments(media: Dataset[MediaRow], windowSamples: Int,
                  rmsThreshold: Double): Dataset[VadRow] = {
    require(windowSamples > 0, "window must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { row =>
        WavCodec.decode(row.bytes) match {
          case None => VadRow(row.media_id, 0, 0L, 0L, 0L, 0.0)
          case Some(a) =>
            val n = a.samples.length / a.channels
            val nWin = (n + windowSamples - 1) / windowSamples
            var speech = 0L; var segments = 0L
            // bill speech time by ACTUAL samples in each speech window
            // (until - from): a partial final window otherwise counts a
            // full window's duration — identical to the old formula on
            // window-aligned audio, exact on torn/odd-length audio
            var speechSamples = 0L
            var prevSpeech = false
            var w = 0
            while (w < nWin) {
              val from = w * windowSamples
              val until = math.min(from + windowSamples, n)
              var sq = 0.0
              var i = from
              while (i < until) {
                val s = a.samples(i * a.channels).toDouble
                sq += s * s
                i += 1
              }
              val rms = math.sqrt(sq / (until - from)) / 32768.0
              val isSpeech = rms > rmsThreshold
              if (isSpeech) {
                speech += 1
                speechSamples += until - from
                if (!prevSpeech) segments += 1
              }
              prevSpeech = isSpeech
              w += 1
            }
            VadRow(row.media_id, 1, nWin.toLong, speech, segments,
              speechSamples.toDouble / a.sampleRate)
        }
      }
    }
  }

  /** Per-partition REAL audio decode over WAV payloads — same
    * quarantine contract as [[decodePpmFeatures]]: parsed rows carry
    * (n_frames = 1, (duration, rms, zcr)); malformed rows surface
    * with n_frames = 0 and empty features.
    */
  def decodeWavFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { row =>
        WavCodec.decode(row.bytes) match {
          case Some(a) => MediaFeatures(row.media_id, row.kind, 1, WavCodec.features(a))
          case None => MediaFeatures(row.media_id, row.kind, 0, Array.empty[Double])
        }
      }
    }
  }

  /** Per-partition REAL image decode over PPM payloads: rows whose
    * bytes parse get (n_frames = 1, channel-stat features); malformed
    * rows surface with n_frames = 0 and empty features — quarantined,
    * never dropped, never throwing (the q_safe_cast contract applied
    * to binary intake). Resize-on-decode is the optional hook a model
    * input pipeline uses to normalize resolution before featurizing.
    */
  def decodePpmFeatures(media: Dataset[MediaRow],
                        resizeTo: Option[(Int, Int)] = None): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { row =>
        PpmCodec.decode(row.bytes) match {
          case Some(img0) =>
            val img = resizeTo.map { case (w, h) => PpmCodec.resize(img0, w, h) }
              .getOrElse(img0)
            MediaFeatures(row.media_id, row.kind, 1, PpmCodec.features(img))
          case None =>
            MediaFeatures(row.media_id, row.kind, 0, Array.empty[Double])
        }
      }
    }
  }

  /** One perceptual hash per payload: decoded flag + the aHash bit
    * string (null when quarantined). */
  final case class MediaHash(media_id: Long, decoded: Int, ahash: String)

  /** Perceptual average-hash (aHash) over decoded rasters — the
    * image-side entry into the dedup family: decode → nearest-
    * neighbour resize to `size`×`size` → per-pixel luma → threshold at
    * the image's mean luma → size² bits. Identical images hash
    * equal; re-encodes, small crops, and resolution changes mostly
    * agree bit-for-bit, and NEAR-duplicates differ in a few bits, so
    * downstream grouping is exact-hash for copies and hamming-band
    * (split the bits into b bands, bucket-join like the MinHash LSH
    * path in [[graft.ops.Dedup]]) for near-dups. The hash is emitted
    * as a bit STRING for engine-portable comparison; production packs
    * it to size²/8 bytes.
    *
    * Shape: pure map-side per-partition decode (same quarantine
    * contract as [[decodePpmFeatures]] — malformed payloads surface
    * with decoded = 0 and a NULL hash); whatever groups the hashes
    * afterwards shuffles size²/8-byte keys, never pixels.
    */
  def averageHash(media: Dataset[MediaRow], size: Int = 8): Dataset[MediaHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(rows => rows.map(r => averageHashOne(r, size)))
  }

  /** One row of [[averageHash]] — exposed so the STREAMING media twin
    * can hash arrivals map-side while keeping its event-time column
    * aboard (the batch form's mapPartitions drops every non-MediaRow
    * field). Identical arithmetic by construction: the batch form
    * delegates here.
    */
  def averageHashOne(row: MediaRow, size: Int = 8): MediaHash =
    PpmCodec.decode(row.bytes) match {
      case Some(img0) =>
        val img = PpmCodec.resize(img0, size, size)
        val n = size * size
        val luma = new Array[Double](n)
        var s = 0.0
        var p = 0
        while (p < n) {
          val l = 0.299 * (img.rgb(p * 3) & 0xff) +
            0.587 * (img.rgb(p * 3 + 1) & 0xff) +
            0.114 * (img.rgb(p * 3 + 2) & 0xff)
          luma(p) = l; s += l; p += 1
        }
        val mean = s / n
        val bits = new Array[Char](n)
        p = 0
        while (p < n) { bits(p) = if (luma(p) > mean) '1' else '0'; p += 1 }
        MediaHash(row.media_id, 1, new String(bits))
      case None => MediaHash(row.media_id, 0, null)
    }

  /** Hamming-band near-duplicate pairs over perceptual hashes — the
    * image-side LSH: identical images already collapse by exact
    * [[averageHash]] equality, but a re-encode or small edit flips a
    * FEW bits, so near-dup detection needs pairs within hamming
    * distance `maxHamming`. All-pairs hamming is N²; banding is the
    * pigeonhole shortcut (the same band-bucket trick as the MinHash
    * LSH path in [[graft.ops.Dedup]]): split the `hashBits` bits into
    * `bands` equal substrings — a pair within hamming h ≤ bands−1
    * must agree EXACTLY on ≥ bands−h bands, so bucket-joining on
    * (band index, band value) finds every such pair without ever
    * comparing non-candidates. Survivors are verified with the true
    * bit-level hamming distance, candidates only.
    *
    * Shape: the band explode is map-side ×bands on hash-sized rows
    * (never pixels); the bucket join shuffles (band_i, band_val) keys;
    * the verify runs on the candidate pairs alone. Same df-cap guard
    * as textual LSH applies if one degenerate hash (all-black
    * thumbnails) floods a bucket: cap bucket size before the join.
    */
  /** (media_id, bints) — each image's hash packed into `bands` LONGs
    * (bands·|images| conv calls once per image), so pair-level
    * verifies are `bands` bit_count(xor) ops — a per-CHARACTER string
    * compare ran 16× the element count through interpreted HOF
    * dispatch and dominated the whole query (measured ~5 s at 25k
    * pairs before the pack). Undecoded rows drop here (NULL hash).
    */
  private def packedBands(hashes: DataFrame, hashBits: Int,
                          bands: Int): DataFrame = {
    require(bands >= 1 && hashBits % bands == 0, "bands must divide hashBits")
    require(hashBits / bands <= 63, "band width must fit a signed long")
    val bl = hashBits / bands
    hashes.filter(col("decoded") === 1)
      .select(col("media_id"),
        transform(sequence(lit(0), lit(bands - 1)),
          bi => conv(col("ahash").substr(bi * bl + 1, lit(bl)), 2, 10)
            .cast("long")).as("bints"))
  }

  /** The MATERIALIZED standing state of the incremental image-dedup
    * tier ([[phashIncrementalDedup]]): one row per (band index, band
    * value, image) with the image's full packed hash riding along —
    * the hash-sized frame a production pipeline decodes + hashes ONCE
    * per corpus version and appends to per batch, so no nightly run
    * ever re-decodes a standing pixel. `bands`×|images| rows of
    * (int, long, id, bands longs) — pixels never enter the store.
    */
  def phashBandIndex(hashes: DataFrame, hashBits: Int, bands: Int): DataFrame =
    packedBands(hashes, hashBits, bands)
      .select(col("media_id"), col("bints"),
        posexplode(col("bints")).as(Seq("band_i", "band_val")))

  def phashNearDupPairs(hashes: DataFrame, hashBits: Int, bands: Int,
                        maxHamming: Int): DataFrame = {
    require(maxHamming < bands,
      "banding only guarantees recall for hamming < bands (pigeonhole)")
    val hs = packedBands(hashes, hashBits, bands)
    val banded = hs.select(col("media_id"), col("bints"),
      posexplode(col("bints")).as(Seq("band_i", "band_val")))
    val hamming = expr(
      """aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)),
        |          0, (acc, v) -> acc + v)""".stripMargin)
    banded.as("x")
      .join(banded.as("y"),
        col("x.band_i") === col("y.band_i") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.media_id") < col("y.media_id"))
      .groupBy(
        col("x.media_id").as("a"), col("y.media_id").as("b"),
        col("x.bints").as("ba"), col("y.bints").as("bb"))
      .agg(count(lit(1)).as("n_bands"))
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("n_bands"), col("hamming"))
  }

  /** INCREMENTAL perceptual-hash image dedup — the media tier's
    * nightly form, following the rule that every standing structure gets a batch-proportional maintenance
    * path: the standing corpus was decoded + hashed ONCE per corpus
    * version into the materialized [[phashBandIndex]] store; a batch
    * of new images decodes, hashes, and band-packs MAP-SIDE, and the
    * probe is ONE broadcast-hash join with the BATCH side as the
    * build — the standing index streams off its parquet scan with no
    * shuffle and no broadcast at index size, and not one standing
    * pixel is ever re-decoded. In-batch races use the existing
    * [[phashNearDupPairs]] band self-join (batch-bounded). Per batch
    * image: `n_standing_dups` (distinct standing partners within
    * `maxHamming`), `dup_in_batch` (1 iff an EARLIER batch image —
    * smaller media_id, the batch window rule — sits within
    * `maxHamming`; the partner's own fate is irrelevant, the standard
    * LSH greedy rule — transitive clustering is the CC tier's job),
    * and `keep`. Undecoded payloads surface with decoded = 0 and all
    * flags 0 (the [[averageHash]] quarantine contract).
    *
    * Law (the `q_web_corpus_incremental` trick, stated cross-engine by
    * the declared query's oracle): with standing ids below batch ids,
    * the verdicts equal the union re-run's restricted to the batch —
    * a batch image dups iff SOME smaller-id union member sits within
    * `maxHamming`, split by side into the two flags.
    */
  def phashIncrementalDedup(standingBandIdx: DataFrame, batchHashes: DataFrame,
                            hashBits: Int, bands: Int,
                            maxHamming: Int): DataFrame = {
    require(maxHamming < bands,
      "banding only guarantees recall for hamming < bands (pigeonhole)")
    val banded = packedBands(batchHashes, hashBits, bands)
      .select(col("media_id"), col("bints"),
        posexplode(col("bints")).as(Seq("band_i", "band_val")))
    val hamming = expr(
      """aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)),
        |          0, (acc, v) -> acc + v)""".stripMargin)
    // standing side STREAMS (scan only); the batch bands broadcast
    val standDups = standingBandIdx.as("s")
      .join(broadcast(banded.as("x")),
        col("x.band_i") === col("s.band_i") &&
          col("x.band_val") === col("s.band_val"))
      .groupBy(col("x.media_id").as("media_id"), col("s.media_id").as("s_id"),
        col("x.bints").as("ba"), col("s.bints").as("bb"))
      .agg(count(lit(1)).as("n_bands"))
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("media_id"))
      .agg(countDistinct(col("s_id")).as("n_standing_dups"))
    val batchDup = phashNearDupPairs(batchHashes, hashBits, bands, maxHamming)
      .select(col("b").as("media_id")).distinct()
      .withColumn("__bd", lit(1L))
    batchHashes
      .select(col("media_id"), col("decoded").cast("long").as("decoded"))
      .join(broadcast(standDups), Seq("media_id"), "left")
      .join(broadcast(batchDup), Seq("media_id"), "left")
      .select(
        col("media_id"), col("decoded"),
        coalesce(col("n_standing_dups"), lit(0L)).as("n_standing_dups"),
        when(col("__bd").isNotNull, 1L).otherwise(0L).as("dup_in_batch"),
        when(col("decoded") === 1L && col("n_standing_dups").isNull &&
          col("__bd").isNull, 1L).otherwise(0L).as("keep"))
  }

  /** Manufacture a media table from `documents` (the harness testdata
    * has no binary table): text bytes as payload, kind round-robin by
    * id. This is the ingest-side schema any real media source would
    * produce.
    */
  def mediaFromDocuments(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(
      col("doc_id").as("media_id"),
      expr("element_at(array('image','audio','video'), cast(doc_id % 3 as int) + 1)").as("kind"),
      col("text").cast("binary").as("bytes"),
      expr("octet_length(cast(text as binary))").cast("long").as("n_bytes"),
      lit("utf8-fake").as("format")).as[MediaRow]
  }

  /** Byte-range chunk plan for a media payload: the (media_id,
    * chunk_idx, offset, n_bytes) rows a distributed decoder would
    * fetch — ranged reads against an object store, one task per
    * chunk, without ever moving the payload itself. Pure offset
    * arithmetic from the LENGTH column (sequence + posexplode,
    * map-side, no shuffle): planning runs on metadata only, which is
    * the point at 100 TB — the 8-byte n_bytes column streams through
    * the planner while the payload bytes stay in the store until a
    * chunk task actually reads its range.
    */
  def chunkPlan(media: DataFrame, chunkBytes: Long): DataFrame =
    media
      .select(col("media_id"), col("n_bytes"),
        posexplode(sequence(lit(0L), greatest(
          ceil(col("n_bytes") / chunkBytes.toDouble).cast("long") - 1, lit(0L)))))
      .select(
        col("media_id"),
        col("pos").cast("long").as("chunk_idx"),
        (col("col") * chunkBytes).as("offset"),
        least(lit(chunkBytes), col("n_bytes") - col("col") * chunkBytes).as("chunk_bytes"))
}
