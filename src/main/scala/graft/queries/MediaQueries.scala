package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{EntrySupport, Tables}
import graft.ops.{Dedup, Multimodal}
import graft.Tables._
import graft.EntrySupport._

/** Media payloads: decode, perceptual hashing and media dedup. */
private[graft] object MediaQueries {

  val all: Seq[Query] = Seq(
    Query("q_media_meta", (s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id").as("media_id"),
        expr("element_at(array('image','audio','video'), cast(doc_id % 3 as int) + 1)")
          .as("kind"),
        expr("octet_length(cast(text as binary))").cast("long").as("n_bytes"),
        substring(hex(col("text").cast("binary")), 1, 16).as("head_hex"),
        expr(
          """array_join(transform(sequence(0, 2),
            |  i -> md5(cast(substring(text, 1 + i * (length(text) div 3),
            |                          (length(text) div 3)) as binary))), '-')""".stripMargin)
          .as("frames_sig"))
        .orderBy(col("media_id"))
    }, Sql(
      """SELECT doc_id AS media_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  substr(hex(CAST(text AS BLOB)), 1, 16) AS head_hex,
        |  array_to_string(list_transform(generate_series(0, 2),
        |    i -> md5(substr(text, 1 + i * (length(text) // 3), (length(text) // 3)))), '-')
        |    AS frames_sig
        |FROM documents ORDER BY media_id""".stripMargin)),

    Query("q_media_chunks", (s, dir) => {
      Multimodal.chunkPlan(
          Multimodal.mediaFromDocuments(Tables.documents(s, dir)).toDF()
            .select(col("media_id"), col("n_bytes")),
          chunkBytes = 100L)
        .orderBy(col("media_id"), col("chunk_idx"))
    }, Sql(
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT media_id,
        |       CAST(i AS BIGINT) AS chunk_idx,
        |       CAST(i * 100 AS BIGINT) AS offset,
        |       CAST(least(100, n_bytes - i * 100) AS BIGINT) AS chunk_bytes
        |FROM m,
        |     unnest(generate_series(0, greatest(CAST(ceil(n_bytes / 100.0) AS BIGINT) - 1, 0)))
        |       AS u(i)
        |ORDER BY media_id, chunk_idx""".stripMargin)),

    Query("q_media_decode", (s, dir) => {
      import s.implicits._
      // REAL binary round-trip: deterministic solid-color PPMs are
      // ENCODED from doc_id, every 10th payload truncated (corrupt),
      // then the actual PpmCodec decode → resize(2x2) → channel-stat
      // path runs; the oracle derives the same stats arithmetically
      // from doc_id, so a header-parse, quarantine, resample, or
      // statistics bug all hash-mismatch.
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val w = (4 + id % 5).toInt; val h = (3 + id % 4).toInt
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            rgb(p * 3) = (id % 256).toByte
            rgb(p * 3 + 1) = ((id * 7) % 256).toByte
            rgb(p * 3 + 2) = ((id * 13) % 256).toByte
            p += 1
          }
          val bytes0 = Multimodal.PpmCodec.encode(Multimodal.PpmCodec.Image(w, h, rgb))
          val bytes = if (id % 10 == 0) bytes0.take(8) else bytes0
          Multimodal.MediaRow(id, "image", bytes, bytes.length.toLong, "ppm")
        }
      def feat(i: Int) = when(col("n_frames") === 0, lit(null).cast("double"))
        .otherwise(element_at(col("features"), i))
      Multimodal.decodePpmFeatures(media, resizeTo = Some((2, 2))).toDF()
        .select(
          col("media_id"), col("n_frames").cast("long").as("n_frames"),
          feat(1).as("w"), feat(2).as("h"),
          feat(3).as("mean_r"), feat(4).as("mean_g"), feat(5).as("mean_b"),
          round(feat(6), 4).as("luma_mean_r"), round(feat(7), 4).as("luma_std_r"))
        .orderBy(col("media_id"))
    }, Sql(
      // derivation oracle: the Spark side ENCODES and DECODES real PPM
      // bytes; the oracle restates the channel statistics the solid-color
      // construction implies, including the corrupt-every-10th quarantine
      """SELECT doc_id AS media_id,
        |       CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END AS BIGINT) AS n_frames,
        |       CASE WHEN doc_id % 10 = 0 THEN NULL ELSE 2.0 END AS w,
        |       CASE WHEN doc_id % 10 = 0 THEN NULL ELSE 2.0 END AS h,
        |       CASE WHEN doc_id % 10 = 0 THEN NULL
        |            ELSE CAST(doc_id % 256 AS DOUBLE) END AS mean_r,
        |       CASE WHEN doc_id % 10 = 0 THEN NULL
        |            ELSE CAST((doc_id * 7) % 256 AS DOUBLE) END AS mean_g,
        |       CASE WHEN doc_id % 10 = 0 THEN NULL
        |            ELSE CAST((doc_id * 13) % 256 AS DOUBLE) END AS mean_b,
        |       CASE WHEN doc_id % 10 = 0 THEN NULL
        |            ELSE round(0.299 * (doc_id % 256) + 0.587 * ((doc_id * 7) % 256)
        |                       + 0.114 * ((doc_id * 13) % 256), 4) END AS luma_mean_r,
        |       CASE WHEN doc_id % 10 = 0 THEN NULL ELSE 0.0 END AS luma_std_r
        |FROM documents ORDER BY media_id""".stripMargin)),

    Query("q_media_jpeg", (s, dir) => {
      // REAL baseline-JPEG decode (ops.Jpeg — the full marker-walk →
      // Huffman → dequant → IDCT path, the codec slot SURVEY 7.5h
      // reserved for JNI/FFI) over the materialized media table
      // (EntrySupport.jpegMedia): per-8×8-block-constant gray rasters
      // whose values are even offsets from 128, so the DC path is
      // exact integer arithmetic and every block round-trips
      // bit-losslessly while still exercising DC prediction, AC
      // run-length, and the MCU walk. Every 9th payload truncates
      // mid-stream (quarantine). The oracle derives dims, the
      // whole-image mean (an integer by construction: block k carries
      // base+2k, so the mean is base+nb−1), and the per-pixel std
      // (√((nb²−1)/3), the arithmetic-sequence variance) from doc_id
      // alone. Conformance against the JDK's libjpeg-derived ImageIO
      // decoder is spec-pinned in JpegCodecSpec.
      def feat(i: Int) = when(col("n_frames") === 0, lit(null).cast("double"))
        .otherwise(element_at(col("features"), i))
      graft.ops.Jpeg.decodeJpegFeatures(jpegMedia(s, dir)).toDF()
        .select(
          col("media_id"), col("n_frames").cast("long").as("n_frames"),
          feat(1).as("w"), feat(2).as("h"),
          feat(3).as("mean_gray"),
          round(feat(7), 4).as("luma_std_r"))
        .orderBy(col("media_id"))
    }, Sql(
      // JPEG derivation oracle: wb×hb grid of 8×8 constant blocks, block
      // k = base+2k (even offsets from 128 ⇒ DC quantization exact and
      // decode lossless); mean = base+nb−1 (arithmetic-sequence mean,
      // integer), per-pixel std = √((nb²−1)/3); every 9th payload
      // truncated ⇒ quarantined row
      """WITH d AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS wb, 2 + doc_id % 2 AS hb,
        |         60 + (doc_id % 80) * 2 AS base
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |       CAST(CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS BIGINT) AS n_frames,
        |       CASE WHEN doc_id % 9 = 0 THEN NULL ELSE CAST(wb * 8 AS DOUBLE) END AS w,
        |       CASE WHEN doc_id % 9 = 0 THEN NULL ELSE CAST(hb * 8 AS DOUBLE) END AS h,
        |       CASE WHEN doc_id % 9 = 0 THEN NULL
        |            ELSE CAST(base + wb * hb - 1 AS DOUBLE) END AS mean_gray,
        |       CASE WHEN doc_id % 9 = 0 THEN NULL
        |            ELSE round(sqrt((wb * hb * wb * hb - 1) / 3.0), 4) END AS luma_std_r
        |FROM d ORDER BY media_id""".stripMargin)),

    Query("q_media_png", (s, dir) => {
      // REAL PNG decode (ops.Png — signature → CRC-validated chunk
      // walk → Inflater → five-filter scanline reconstruction, the
      // lossless half of the JPEG+PNG crawl-image pair) over the
      // materialized media table (EntrySupport.pngMedia): gray rasters
      // pixel = base + x%4 + 2·(y%2) with w≡0 (mod 4) and h even, so
      // the offsets balance exactly and the oracle derives dims, mean
      // (base+2.5) and per-pixel std (√2.25 = 1.5) from doc_id alone
      // — PNG is lossless, so these hold bit-exactly, not within an
      // IDCT variance. Every 11th payload truncates mid-chunk, every
      // 13th flips its final CRC byte (both quarantine). Conformance
      // against ImageIO is spec-pinned both directions in PngCodecSpec.
      def feat(i: Int) = when(col("n_frames") === 0, lit(null).cast("double"))
        .otherwise(element_at(col("features"), i))
      graft.ops.Png.decodePngFeatures(pngMedia(s, dir)).toDF()
        .select(
          col("media_id"), col("n_frames").cast("long").as("n_frames"),
          feat(1).as("w"), feat(2).as("h"),
          feat(3).as("mean_gray"),
          round(feat(7), 4).as("luma_std_r"))
        .orderBy(col("media_id"))
    }, Sql(
      // PNG derivation oracle: pixel = base + x%4 + 2·(y%2) with w a
      // multiple of 4 and h even ⇒ offsets balance exactly; lossless
      // decode ⇒ mean = base+2.5 and std = √(1.25+1.0) = 1.5 hold
      // bit-exactly; every 11th payload truncated, every 13th CRC-flipped
      // ⇒ quarantined rows
      """WITH d AS (
        |  SELECT doc_id, 12 + (doc_id % 7) * 4 AS w, 10 + (doc_id % 5) * 6 AS h,
        |         40 + doc_id % 150 AS base,
        |         (doc_id % 11 = 0 OR doc_id % 13 = 0) AS bad
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |       CAST(CASE WHEN bad THEN 0 ELSE 1 END AS BIGINT) AS n_frames,
        |       CASE WHEN bad THEN NULL ELSE CAST(w AS DOUBLE) END AS w,
        |       CASE WHEN bad THEN NULL ELSE CAST(h AS DOUBLE) END AS h,
        |       CASE WHEN bad THEN NULL ELSE CAST(base AS DOUBLE) + 2.5 END AS mean_gray,
        |       CASE WHEN bad THEN NULL ELSE CAST(1.5 AS DOUBLE) END AS luma_std_r
        |FROM d ORDER BY media_id""".stripMargin)),

    Query("q_audio_decode", (s, dir) => {
      import s.implicits._
      // the audio twin of q_media_decode: deterministic 8 kHz square
      // waves (period 8, amplitude from doc_id) ENCODED as real WAV
      // bytes, every 7th payload truncated, then the actual RIFF/PCM16
      // decode + signal-stat path runs. Square waves make duration,
      // RMS (= amp/2^15, exact in IEEE), and zero-crossing rate
      // arithmetically derivable, so the oracle restates them from
      // doc_id alone.
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val n = (800 + (id % 5) * 400).toInt
          val amp = (500 + (id % 100) * 100).toShort
          val samples = Array.tabulate(n)(i =>
            if ((i / 4) % 2 == 0) amp else (-amp).toShort)
          val bytes0 = Multimodal.WavCodec.encode(
            Multimodal.WavCodec.Audio(8000, 1, samples))
          val bytes = if (id % 7 == 0) bytes0.take(20) else bytes0
          Multimodal.MediaRow(id, "audio", bytes, bytes.length.toLong, "wav")
        }
      def feat(i: Int) = when(col("n_frames") === 0, lit(null).cast("double"))
        .otherwise(element_at(col("features"), i))
      Multimodal.decodeWavFeatures(media).toDF()
        .select(
          col("media_id"), col("n_frames").cast("long").as("n_frames"),
          feat(1).as("dur_sec"), feat(2).as("rms"), feat(3).as("zcr"))
        .orderBy(col("media_id"))
    }, Sql(
      // square-wave derivation oracle: n samples at 8 kHz, period 8 →
      // duration n/8000, rms amp/2^15 (exact), flips floor((n-1)/4)
      """WITH d AS (
        |  SELECT doc_id, 800 + (doc_id % 5) * 400 AS n,
        |         500 + (doc_id % 100) * 100 AS amp
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS BIGINT) AS n_frames,
        |       CASE WHEN doc_id % 7 = 0 THEN NULL
        |            ELSE CAST(n AS DOUBLE) / 8000 END AS dur_sec,
        |       CASE WHEN doc_id % 7 = 0 THEN NULL
        |            ELSE CAST(amp AS DOUBLE) / 32768 END AS rms,
        |       CASE WHEN doc_id % 7 = 0 THEN NULL
        |            ELSE CAST((n - 1) // 4 AS DOUBLE) / (CAST(n AS DOUBLE) / 8000) END AS zcr
        |FROM d ORDER BY media_id""".stripMargin)),

    Query("q_media_phash", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // REAL perceptual-hash round trip: 16x16 two-tone rasters whose
      // 2x2 blocks follow a bijective bit pattern seeded by doc_id % 5
      // are ENCODED as PPM bytes, every 9th truncated; the actual
      // decode -> resize(8x8) -> luma -> mean-threshold path then runs,
      // and exact-hash grouping assigns keepers. The oracle derives the
      // same 64-bit pattern arithmetically from doc_id, so a decode,
      // resize-sampling, luma, threshold, or grouping bug all mismatch.
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val seed = (id % 5).toInt * 13
          val rgb = new Array[Byte](16 * 16 * 3)
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 16) {
              val i8 = (y / 2) * 8 + (x / 2)
              val v: Byte = if ((i8 * 31 + seed) % 64 < 32) 255.toByte else 0.toByte
              val p = (y * 16 + x) * 3
              rgb(p) = v; rgb(p + 1) = v; rgb(p + 2) = v
              x += 1
            }
            y += 1
          }
          val bytes0 = Multimodal.PpmCodec.encode(Multimodal.PpmCodec.Image(16, 16, rgb))
          val bytes = if (id % 9 == 0) bytes0.take(6) else bytes0
          Multimodal.MediaRow(id, "image", bytes, bytes.length.toLong, "ppm")
        }
      val byHash = Window.partitionBy(col("ahash"))
      Multimodal.averageHash(media, size = 8).toDF()
        .withColumn("group_n", when(col("decoded") === 0, 0L)
          .otherwise(count(lit(1)).over(byHash).cast("long")))
        .withColumn("keep", when(col("decoded") === 0, 0L)
          .otherwise(when(col("media_id") === min(col("media_id")).over(byHash), 1L)
            .otherwise(0L)))
        .select(col("media_id"), col("decoded").cast("long").as("decoded"),
          col("ahash"), col("group_n"), col("keep"))
        .orderBy(col("media_id"))
    }, Sql(
      // derivation oracle: the Spark side ENCODES 16x16 PPMs, DECODES,
      // resizes to 8x8 and thresholds luma; the oracle restates the
      // bijective bit pattern ((i*31 + seed) % 64 < 32) from doc_id
      """WITH hx AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 9 = 0 THEN NULL
        |              ELSE array_to_string(list_transform(generate_series(0, 63),
        |                     i -> CASE WHEN (i * 31 + (doc_id % 5) * 13) % 64 < 32
        |                               THEN '1' ELSE '0' END), '')
        |         END AS ahash
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |       CAST(CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS BIGINT) AS decoded,
        |       ahash,
        |       CAST(CASE WHEN doc_id % 9 = 0 THEN 0
        |            ELSE count(*) OVER (PARTITION BY ahash) END AS BIGINT) AS group_n,
        |       CAST(CASE WHEN doc_id % 9 = 0 THEN 0
        |            WHEN doc_id = min(doc_id) OVER (PARTITION BY ahash) THEN 1
        |            ELSE 0 END AS BIGINT) AS keep
        |FROM hx ORDER BY media_id""".stripMargin)),

    Query("q_media_phash_band", (s, dir) => {
      // near-dup image planting (the shared EntrySupport.phashMedia
      // fixture): base pattern from doc_id % 64, odd ids flip ONE bit
      // at (doc_id/64) % 64 — same-base pairs sit at hamming 0/1/2 and
      // banding must find them all; every 9th payload corrupt
      // (quarantined out before banding). The pattern bits come from
      // an XOR MIX of (base, i) — NOT an additive shift family: any
      // pattern of the form f(s + step·i) makes different bases
      // collide on whole 16-bit bands (and sit at small hamming),
      // flooding the verify with cross-group candidates — measured
      // 49 s at sf0.1 before the mix; the XOR decorrelates bands
      // across bases (measured: candidates == within-group pairs)
      Multimodal.phashNearDupPairs(
          Multimodal.averageHash(phashMedia(s, dir), size = 8).toDF(),
          hashBits = 64, bands = 4, maxHamming = 2)
        .orderBy(col("a"), col("b"))
    }, Sql(
      // derivation oracle: hashes restated from doc_id (base pattern +
      // odd-id single-bit flip), then the SAME band-bucket candidate
      // join and bit-level hamming verify DuckDB-side
      """WITH hx AS (
        |  SELECT doc_id,
        |         array_to_string(list_transform(generate_series(0, 63), i ->
        |           CASE WHEN (xor(i * 144115188075855881,
        |                          (doc_id % 64) * 2654435761) % 97 < 48)
        |                     != (doc_id % 2 = 1 AND i = (doc_id // 64) % 64)
        |                THEN '1' ELSE '0' END), '') AS ahash
        |  FROM documents WHERE doc_id % 9 != 0 AND doc_id < 2000),
        |bx AS (
        |  SELECT doc_id,
        |         list_transform(generate_series(0, 3), bi ->
        |           list_sum(list_transform(generate_series(0, 15), j ->
        |             CASE WHEN substr(ahash, bi * 16 + j + 1, 1) = '1'
        |                  THEN 1 << (15 - j) ELSE 0 END))) AS bints
        |  FROM hx),
        |banded AS (
        |  SELECT doc_id, bints, bi, bints[bi] AS bv
        |  FROM bx, unnest(generate_series(1, 4)) AS u(bi)),
        |cand AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.bints AS ba, y.bints AS bb,
        |         CAST(count(*) AS BIGINT) AS n_bands
        |  FROM banded x JOIN banded y
        |    ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |ham AS (
        |  SELECT a, b, n_bands,
        |         CAST(list_sum(list_transform(generate_series(1, 4), i ->
        |           bit_count(xor(CAST(ba[i] AS BIGINT), CAST(bb[i] AS BIGINT)))))
        |           AS BIGINT) AS hamming
        |  FROM cand)
        |SELECT a, b, n_bands, hamming FROM ham
        |WHERE hamming <= 2 ORDER BY a, b""".stripMargin)),

    Query("q_media_dedup_incremental", (s, dir) => {
      // the media tier's NIGHTLY form: the
      // standing corpus was decoded + hashed once per corpus version
      // into the materialized band index (EntrySupport.mediaBandIdx);
      // the planted batch (exact copies +1M, one-extra-bit near-dups
      // +2M, fresh out-of-base-space images +3M, a corrupt class)
      // decodes map-side and probes the index with the BATCH side as
      // the broadcast build — no standing pixel is re-decoded, no
      // index-sized shuffle or broadcast exists in the plan
      // (Multimodal.phashIncrementalDedup). The ORACLE derives both
      // sides' 64-bit hashes arithmetically and restates the union
      // dedup restricted to batch ids — increment ≡ union,
      // cross-engine.
      Multimodal.phashIncrementalDedup(mediaBandIdx(s, dir),
          Multimodal.averageHash(phashBatchMedia(s, dir), size = 8).toDF(),
          hashBits = 64, bands = 4, maxHamming = 2)
        .orderBy(col("media_id"))
    }, Sql(
      // the media tier's nightly form: both sides' 64-bit aHashes derived
      // arithmetically from doc_id (standing = the q_media_phash_band
      // corpus; batch = exact copies +1M, one-extra-bit near-dups +2M,
      // fresh out-of-base-space +3M, corrupt where orig % 9 = 5), then
      // the union dedup restated from first principles restricted to
      // batch ids — a hash match proves increment ≡ union cross-engine
      """WITH sx AS (
        |  SELECT doc_id AS media_id,
        |         array_to_string(list_transform(generate_series(0, 63), i ->
        |           CASE WHEN (xor(i * 144115188075855881,
        |                          (doc_id % 64) * 2654435761) % 97 < 48)
        |                     != (doc_id % 2 = 1 AND i = (doc_id // 64) % 64)
        |                THEN '1' ELSE '0' END), '') AS ahash
        |  FROM documents WHERE doc_id % 9 != 0 AND doc_id < 2000),
        |bh AS (
        |  SELECT doc_id + 1000000 * (doc_id % 4) AS media_id,
        |         array_to_string(list_transform(generate_series(0, 63), i ->
        |           CASE WHEN (CASE WHEN doc_id % 4 = 3
        |             THEN (xor(i * 144115188075855881,
        |                       (doc_id % 64 + 64) * 2654435761) % 97 < 48)
        |             ELSE ((xor(i * 144115188075855881,
        |                        (doc_id % 64) * 2654435761) % 97 < 48)
        |                   != (doc_id % 2 = 1 AND i = (doc_id // 64) % 64))
        |                  != (doc_id % 4 = 2 AND i = (doc_id * 7) % 64)
        |             END)
        |           THEN '1' ELSE '0' END), '') AS ahash
        |  FROM documents
        |  WHERE doc_id < 2000 AND doc_id % 4 != 0 AND doc_id % 9 != 5),
        |sb AS (
        |  SELECT media_id,
        |         list_transform(generate_series(0, 3), bi ->
        |           list_sum(list_transform(generate_series(0, 15), j ->
        |             CASE WHEN substr(ahash, bi * 16 + j + 1, 1) = '1'
        |                  THEN 1 << (15 - j) ELSE 0 END))) AS bints
        |  FROM sx),
        |bb AS (
        |  SELECT media_id,
        |         list_transform(generate_series(0, 3), bi ->
        |           list_sum(list_transform(generate_series(0, 15), j ->
        |             CASE WHEN substr(ahash, bi * 16 + j + 1, 1) = '1'
        |                  THEN 1 << (15 - j) ELSE 0 END))) AS bints
        |  FROM bh),
        |sband AS (
        |  SELECT media_id, bints, bi, bints[bi] AS bv
        |  FROM sb, unnest(generate_series(1, 4)) AS u(bi)),
        |bband AS (
        |  SELECT media_id, bints, bi, bints[bi] AS bv
        |  FROM bb, unnest(generate_series(1, 4)) AS u(bi)),
        |scand AS (
        |  SELECT y.media_id AS m, x.media_id AS s_id,
        |         y.bints AS ba, x.bints AS b2
        |  FROM bband y JOIN sband x ON y.bi = x.bi AND y.bv = x.bv
        |  GROUP BY 1, 2, 3, 4),
        |sdup AS (
        |  SELECT m AS media_id,
        |         CAST(count(DISTINCT s_id) AS BIGINT) AS n_standing_dups
        |  FROM scand
        |  WHERE list_sum(list_transform(generate_series(1, 4), i ->
        |          bit_count(xor(CAST(ba[i] AS BIGINT),
        |                        CAST(b2[i] AS BIGINT))))) <= 2
        |  GROUP BY m),
        |bpair AS (
        |  SELECT y.media_id AS m, x.media_id AS e,
        |         y.bints AS ba, x.bints AS b2
        |  FROM bband x JOIN bband y
        |    ON x.bi = y.bi AND x.bv = y.bv AND x.media_id < y.media_id
        |  GROUP BY 1, 2, 3, 4),
        |bdup AS (
        |  SELECT DISTINCT m AS media_id FROM bpair
        |  WHERE list_sum(list_transform(generate_series(1, 4), i ->
        |          bit_count(xor(CAST(ba[i] AS BIGINT),
        |                        CAST(b2[i] AS BIGINT))))) <= 2),
        |allb AS (
        |  SELECT doc_id + 1000000 * (doc_id % 4) AS media_id,
        |         CASE WHEN doc_id % 9 != 5 THEN 1 ELSE 0 END AS decoded
        |  FROM documents WHERE doc_id < 2000 AND doc_id % 4 != 0)
        |SELECT a.media_id,
        |       CAST(a.decoded AS BIGINT) AS decoded,
        |       CAST(coalesce(s.n_standing_dups, 0) AS BIGINT) AS n_standing_dups,
        |       CAST(CASE WHEN d.media_id IS NOT NULL THEN 1 ELSE 0 END
        |            AS BIGINT) AS dup_in_batch,
        |       CAST(CASE WHEN a.decoded = 1 AND s.media_id IS NULL
        |                  AND d.media_id IS NULL
        |            THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM allb a
        |LEFT JOIN sdup s USING (media_id)
        |LEFT JOIN bdup d USING (media_id)
        |ORDER BY a.media_id""".stripMargin)),

    Query("q_video_decode", (s, dir) => {
      import s.implicits._
      // REAL multi-frame round trip: 3-6 solid-gray 4x4 frames per
      // video, luma alternating base / base+delta frame to frame, are
      // ENCODED as a concatenated-P6 stream (ffmpeg's image2pipe ppm
      // form); every 8th payload loses its final frame mid-raster.
      // The actual stream-walking decode + frame-order luma fold +
      // shot-boundary count then runs; the oracle derives frame count,
      // truncation, mean luma, and scene changes (delta > 64 ⟺ every
      // consecutive pair cuts) arithmetically from doc_id.
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val nf = (3 + id % 4).toInt
          val base = (id % 120).toInt
          val delta = (30 + (id % 10) * 10).toInt
          val frames = (0 until nf).map { f =>
            val v = (base + (f % 2) * delta).toByte
            Multimodal.PpmCodec.Image(4, 4, Array.fill(4 * 4 * 3)(v))
          }
          val bytes0 = Multimodal.PpmVideoCodec.encode(frames)
          val bytes = if (id % 8 == 0) bytes0.dropRight(10) else bytes0
          Multimodal.MediaRow(id, "video", bytes, bytes.length.toLong, "ppms")
        }
      def feat(i: Int) = element_at(col("features"), i)
      Multimodal.decodeVideoFeatures(media, sceneThreshold = 64.0).toDF()
        .select(
          col("media_id"), col("n_frames").cast("long").as("n_frames"),
          feat(1).cast("long").as("truncated"),
          round(feat(2), 4).as("mean_luma_r"),
          feat(3).cast("long").as("n_scenes"))
        .orderBy(col("media_id"))
    }, Sql(
      // derivation oracle: frame count / truncation / frame-order mean
      // luma / shot boundaries restated arithmetically from doc_id (the
      // alternating-gray construction makes every consecutive-frame luma
      // step exactly delta, far from the 64 threshold)
      """WITH d AS (
        |  SELECT doc_id,
        |         3 + doc_id % 4 AS nf,
        |         doc_id % 120 AS base,
        |         30 + (doc_id % 10) * 10 AS delta,
        |         CASE WHEN doc_id % 8 = 0 THEN 1 ELSE 0 END AS trunc
        |  FROM documents),
        |m AS (SELECT doc_id, base, delta, trunc, nf - trunc AS mf FROM d),
        |lum AS (
        |  SELECT doc_id, mf, trunc, delta,
        |         list_transform(generate_series(0, mf - 1), f ->
        |           0.299 * (base + (f % 2) * delta)
        |             + 0.587 * (base + (f % 2) * delta)
        |             + 0.114 * (base + (f % 2) * delta)) AS ls
        |  FROM m)
        |SELECT doc_id AS media_id,
        |       CAST(mf AS BIGINT) AS n_frames,
        |       CAST(trunc AS BIGINT) AS truncated,
        |       round(list_sum(ls) / mf, 4) AS mean_luma_r,
        |       CAST(CASE WHEN delta > 64 THEN mf - 1 ELSE 0 END AS BIGINT) AS n_scenes
        |FROM lum ORDER BY media_id""".stripMargin)),

    Query("q_audio_vad", (s, dir) => {
      import s.implicits._
      // REAL VAD round trip: 4-8 alternating speech/silence blocks of
      // 400 samples (speech first) encoded as WAV, every 6th payload
      // truncated; energy VAD with block-aligned 400-sample windows
      // makes speech windows, isolated segments, and speech seconds
      // (0.05 s per window at 8 kHz) arithmetically derivable
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val nb = (4 + id % 5).toInt
          val amp = (500 + (id % 40) * 50).toShort
          val samples = Array.tabulate(nb * 400) { i =>
            val block = i / 400
            if (block % 2 == 0) { if (i % 8 < 4) amp else (-amp).toShort }
            else 0.toShort
          }
          val bytes0 = Multimodal.WavCodec.encode(
            Multimodal.WavCodec.Audio(8000, 1, samples))
          val bytes = if (id % 6 == 0) bytes0.take(24) else bytes0
          Multimodal.MediaRow(id, "audio", bytes, bytes.length.toLong, "wav")
        }
      Multimodal.vadSegments(media, windowSamples = 400, rmsThreshold = 0.001)
        .toDF()
        .select(col("media_id"), col("decoded").cast("long").as("decoded"),
          col("n_windows"), col("n_speech"), col("n_segments"),
          when(col("decoded") === 0, lit(null).cast("double"))
            .otherwise(round(col("speech_sec"), 4)).as("speech_sec_r"))
        .orderBy(col("media_id"))
    }, Sql(
      // derivation oracle: alternating speech/silence blocks aligned to
      // the VAD window — every odd window is silent, every even window
      // is one isolated speech segment of 0.05 s
      """WITH d AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS nb,
        |         CASE WHEN doc_id % 6 = 0 THEN 0 ELSE 1 END AS dec
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |       CAST(dec AS BIGINT) AS decoded,
        |       CAST(CASE WHEN dec = 0 THEN 0 ELSE nb END AS BIGINT) AS n_windows,
        |       CAST(CASE WHEN dec = 0 THEN 0 ELSE (nb + 1) // 2 END AS BIGINT)
        |         AS n_speech,
        |       CAST(CASE WHEN dec = 0 THEN 0 ELSE (nb + 1) // 2 END AS BIGINT)
        |         AS n_segments,
        |       CASE WHEN dec = 0 THEN NULL
        |            ELSE round(((nb + 1) // 2) * 0.05, 4) END AS speech_sec_r
        |FROM d ORDER BY media_id""".stripMargin)),

    Query("q_media_dedup_cc", (s, dir) => {
      import s.implicits._
      // the capstone composition: IMAGE near-dup pairs (real decode →
      // aHash → hamming banding) feed the SAME transitive CC keeper
      // machinery the text path uses — dedup is modality-agnostic once
      // candidates exist. Same planted rasters as q_media_phash_band
      // (the shared EntrySupport.phashMedia fixture): every same-base
      // pair sits within hamming 2, so components are exactly the base
      // groups and the oracle derives keepers arithmetically
      val hashes = Multimodal.averageHash(phashMedia(s, dir), size = 8).toDF()
      val pairs = Multimodal.phashNearDupPairs(hashes,
          hashBits = 64, bands = 4, maxHamming = 2)
        .select(col("a"), col("b"))
      val vertices = hashes.filter(col("decoded") === 1)
        .select(col("media_id").as("doc_id"))
      Dedup.ccKeepersFromEdges(pairs, vertices)
        .select(col("doc_id").as("media_id"), col("keep_id"))
        .orderBy(col("media_id"))
    }, Sql(
      // components = base groups exactly (every same-base pair is a
      // hamming ≤ 2 edge; the XOR-mixed patterns exclude cross-base
      // edges), so the transitive keeper is the group min over decoded ids
      """SELECT doc_id AS media_id,
        |       min(doc_id) OVER (PARTITION BY doc_id % 64) AS keep_id
        |FROM documents
        |WHERE doc_id % 9 != 0 AND doc_id < 2000
        |ORDER BY media_id""".stripMargin))
  )
}
