package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Corpus, Dedup, EventOps, Multimodal, Mutations, Relational, Sim, Sketches, Text, TimeFns}
import graft.etl.Sinks
import graft.Tables._
import graft.EntrySupport._

/** Declared query bodies, batches 13-21: graph/embedding ops, fingerprints, sampling,
  * corpus health, crawl hygiene, smoothing, sub-doc dedup, BM25,
  * fusion, trim, sketch audits — split from SparkEntry behind the
  * same `queries` map (SURVEY.md §2.12 keys unchanged).
  */
private[graft] object EntryQueriesD {

  val map: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- batch 13: graph + embedding-training ops ----

    "q_textrank" -> ((s0, dir) => {
      val s = ensure(s0)
      // construct-plan memo: the 5 unrolled power iterations build a
      // deeply-nested tree whose EAGER per-transform analysis was the
      // query's measured cost (r10: execute 0.4-0.6s, the
      // rest driver-side construction) — memoized per (dir) so repeat
      // constructs are a map lookup; execution still fully re-runs per
      // sample (EntrySupport.memoPlan scaladoc)
      memoPlan(s, "q_textrank", dir) {
        Text.textrank(
            Tables.documents(s, dir)
              .repartition(fanN(s, dir)),
            0.85, 5)
          .orderBy(col("token"))
      }
    }),

    "q_hard_negatives" -> ((s0, dir) => {
      val s = ensure(s0)
      Sim.hardNegatives(Tables.embeddings(s, dir), 10, 5)
        .orderBy(col("q_id"), col("rnk"))
    }),

    "q_knn_vote" -> ((s0, dir) => {
      val s = ensure(s0)
      Sim.knnLabelVote(Tables.embeddings(s, dir), 10, 5,
          holdoutRows = Some(embHoldoutLocal(s, dir, 10)))
        .orderBy(col("vec_id"))
    }),

    // ---- batch 14: fingerprints + temporal + batching audits ----

    "q_winnow" -> ((s0, dir) => {
      val s = ensure(s0)
      Text.winnow(
          Tables.documents(s, dir)
            .repartition(fanN(s, dir)),
          3, 4)
        .orderBy(col("doc_id"), col("fp_pos"))
    }),

    "q_pit_join" -> ((s0, dir) => {
      val s = ensure(s0)
      // point-in-time: each purchase looks up the SCD2 attribute
      // version valid at its timestamp — historical-report semantics
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      val dim = Mutations.scd2(ev, "user_id", "event_type", "ts_us", "event_id")
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      Mutations.pointInTimeJoin(facts, dim, "user_id", "ts_us", "event_type")
        .orderBy(col("event_id"))
    }),

    "q_length_buckets" -> ((s0, dir) => {
      val s = ensure(s0)
      Corpus.lengthBuckets(Tables.documents(s, dir), 8,
          knownSize = Some(tableCountLocal(s, dir, "documents")))
        .orderBy(col("bucket"))
    }),

    "q_interleave" -> ((s0, dir) => {
      val s = ensure(s0)
      Corpus.interleaveOrder(Tables.documents(s, dir), "source", 100)
    }),

    "q_split_leakage" -> ((s0, dir) => {
      val s = ensure(s0)
      Corpus.splitLeakage(exactDupCorpus(s, dir),
          Seq(("train", 0.9), ("val", 0.95), ("test", 1.0)))
        .orderBy(col("a"), col("b"))
    }),

    // ---- batch 15: text-to-vector + sampling ----

    "q_hash_embed" -> ((s0, dir) => {
      val s = ensure(s0)
      Text.hashedBowVectors(
          Tables.documents(s, dir)
            .repartition(fanN(s, dir)), 64)
        .orderBy(col("doc_id"), col("bucket"))
    }),

    "q_skipgrams" -> ((s0, dir) => {
      val s = ensure(s0)
      Text.skipgramPairs(
          Tables.documents(s, dir)
            .repartition(fanN(s, dir)), 2)
        .orderBy(col("center"), col("context"))
    }),

    "q_reservoir" -> ((s0, dir) => {
      val s = ensure(s0)
      Corpus.reservoirSample(
          Tables.documents(s, dir).select(col("doc_id"), col("source")), 100)
        .orderBy(col("doc_id"))
    }),

    // ---- batch 16: corpus-health diagnostics ----

    "q_kl_sources" -> ((s0, dir) => {
      val s = ensure(s0)
      Text.sourceKlDivergence(Tables.documents(s, dir))
        .orderBy(col("source"))
    }),

    "q_zipf" -> ((s0, dir) => {
      val s = ensure(s0)
      Text.zipfFit(Tables.documents(s, dir))
    }),

    "q_burstiness" -> ((s0, dir) => {
      val s = ensure(s0)
      Text.tokenBurstiness(Tables.documents(s, dir))
        .orderBy(col("token"))
    }),

    // ---- batch 17: crawl hygiene + pipeline health ----

    "q_dedup_url" -> ((s0, dir) => {
      val s = ensure(s0)
      // three URL variants per page — tracking query, cased host +
      // trailing slash, bare — that canonicalization must collapse
      val page = expr("doc_id div 3")
      val src = concat(lit("src"), pmod(page, lit(20L)).cast("string"))
      val raw = when(col("doc_id") % 3 === 0,
          concat(lit("https://"), src, lit(".example.com/page/"),
            page.cast("string"), lit("?utm_source=feed")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://"), upper(src), lit(".EXAMPLE.com/page/"),
            page.cast("string"), lit("/")))
        .otherwise(
          concat(lit("https://"), src, lit(".example.com/page/"),
            page.cast("string")))
      Text.canonicalUrlDedup(
          Tables.documents(s, dir).select(col("doc_id"), raw.as("url")))
        .orderBy(col("doc_id"))
    }),

    "q_anomaly_days" -> ((s0, dir) => {
      val s = ensure(s0)
      EventOps.dailyVolumeAnomalies(Tables.events(s, dir), "ts_us", 3.0)
        .orderBy(col("day"))
    }),

    "q_ppl_buckets" -> ((s0, dir) => {
      val s = ensure(s0)
      Corpus.perplexityBuckets(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }),

    "q_cdc_apply" -> ((s0, dir) => {
      val s = ensure(s0)
      // binlog replay: base = pre-T1 per-user state; two cumulative
      // update batches (seq 1, 2) + a delete batch (seq 3, every 7th
      // user) — last writer wins, the delete outranks everything
      val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
      // ONE conditional-aggregation pass builds every per-user
      // snapshot the scenario needs (the old form re-scanned events
      // once per batch: 3 aggregates + 3 distinct semijoin builds);
      // base/c1/c2/c3 then derive from the bounded per-user frame.
      // sum(when(cond, value)) accumulates the same rows in the same
      // partition order as filter-then-sum, so the 4dp rounding is
      // unchanged.
      def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
      def sm(c: Column) = round(sum(when(c, col("value"))), 4)
      val pre10 = col("ts_us") < Tables.D2024_01_10_US
      val pre15 = col("ts_us") < Tables.D2024_01_15_US
      val u = graft.CacheScope.cached(e.groupBy(col("user_id")).agg(
        cnt(pre10).as("n1"), sm(pre10).as("s1"),
        cnt(pre15).as("n2"), sm(pre15).as("s2"),
        count(lit(1)).as("n3"), round(sum(col("value")), 4).as("s3"),
        max(when(!pre10 && pre15, 1).otherwise(0)).as("in_10_15"),
        max(when(!pre15, 1).otherwise(0)).as("ge_15")))
      val base = u.filter(col("n1") > 0)
        .select(col("user_id"), col("n1").as("n_events"), col("s1").as("sum_v_r"))
      val c1 = u.filter(col("in_10_15") === 1)
        .select(col("user_id"), lit("U").as("op"), lit(1L).as("seq"),
          col("n2").as("n_events"), col("s2").as("sum_v_r"))
      val c2 = u.filter(col("ge_15") === 1)
        .select(col("user_id"), lit("U").as("op"), lit(2L).as("seq"),
          col("n3").as("n_events"), col("s3").as("sum_v_r"))
      val c3 = u.filter(col("user_id") % 7 === 0)
        .select(col("user_id"), lit("D").as("op"), lit(3L).as("seq"),
          lit(null).cast("long").as("n_events"),
          lit(null).cast("double").as("sum_v_r"))
      Mutations.applyChangelog(base, c1.unionByName(c2).unionByName(c3),
          "user_id", "seq")
        .orderBy(col("user_id"))
    }),

    // ---- batch 18 (round 7): in-doc gates + smoothing + cluster audit ----

    "q_repetition" -> ((s0, dir) => {
      val s = ensure(s0)
      Text.repetitionSignals(
          Tables.documents(s, dir).repartition(fanN(s, dir)))
        .orderBy(col("doc_id"))
    }),

    "q_lm_interp" -> ((s0, dir) => {
      val s = ensure(s0)
      // shared write-once bigram count table (see q_bigram_lm)
      Text.interpolatedLogProbFrom(lmCollapse(s, dir), 0.7)
        .orderBy(col("doc_id"))
    }),

    "q_ppl_band" -> ((s0, dir) => {
      val s = ensure(s0)
      // CCNet-style perplexity bucketing (Wenzek et al., LREC 2020):
      // docs band into TERCILES of the interpolated-LM logprob —
      // head = band 1 (most fluent), tail = band 3 — the filter stage
      // CCNet runs before keeping head+middle. Pure composition of the
      // verified scorer and the scale-safe exact banding (bandedNtile
      // never single-partitions an unbounded input); the 4dp-rounded
      // score + doc_id tiebreak keeps the band assignment
      // engine-independent, and the oracle re-runs the identical
      // chain through SQL ntile
      val scored = Text.interpolatedLogProbFrom(lmCollapse(s, dir), 0.7)
      Relational.bandedNtile(scored, 3,
          Seq(col("interp_logprob").desc, col("doc_id").asc), "band",
          knownSize = Some(lmDocCountLocal(s, dir)))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("interp_logprob")), 4).as("lo"),
          round(max(col("interp_logprob")), 4).as("hi"),
          round(avg(col("interp_logprob")), 4).as("mean_r"))
        .orderBy(col("band"))
    }),

    "q_cluster_purity" -> ((s0, dir) => {
      val s = ensure(s0)
      // same trained quantizer configuration as q_sim_ann_kmeans /
      // q_dedup_semantic, so the dynamic oracle shares one model build
      Sim.clusterPurityFrom(Tables.embeddings(s, dir), pqModel(s, dir)._1)
        .orderBy(col("cell"))
    }),

    "q_media_decode" -> ((s0, dir) => {
      val s = ensure(s0)
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
    }),

    "q_media_jpeg" -> ((s0, dir) => {
      val s = ensure(s0)
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
    }),

    "q_media_png" -> ((s0, dir) => {
      val s = ensure(s0)
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
    }),

    "q_audio_decode" -> ((s0, dir) => {
      val s = ensure(s0)
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
    }),

    "q_ngram_novelty" -> ((s0, dir) => {
      val s = ensure(s0)
      // the perturbed corpus plants known non-novel docs: each
      // doc_id+100000 copy shares every original shingle, so its
      // novelty collapses while the original keeps scoring high.
      // Reads the materialized at-ingest signature store (r9).
      Dedup.ngramNoveltyFromFrame(ddfPerturbed(s, dir))
        .orderBy(col("doc_id"))
    }),

    "q_recency_score" -> ((s0, dir) => {
      val s = ensure(s0)
      EventOps.recencyScore(Tables.events(s, dir),
          Tables.D2024_01_20_US, halflifeDays = 2.0)
        .orderBy(col("user_id"))
    }),

    "q_dup_cluster_stats" -> ((s0, dir) => {
      val s = ensure(s0)
      // the post-dedup audit reads the SAME materialized keeper
      // fixture q_dedup_cc declares (EntrySupport.ccKeepers) — the
      // audit never re-runs the LSH → verify → fixpoint chain
      Dedup.clusterSizeHistogram(ccKeepers(s, dir))
        .orderBy(col("cluster_size"))
    }),

    // ---- batch 19: sub-doc dedup, sparse retrieval, KN smoothing,
    //      l-diversity, SQ ANN, perceptual image hash ----

    "q_dedup_lines" -> ((s0, dir) => {
      val s = ensure(s0)
      // the perturbed corpus plants sub-document duplication: each
      // +100000 copy repeats every full 8-token segment of its
      // original, so copies score high dup_frac while originals keep
      // first-occurrence credit
      Dedup.segmentDedup(perturbedCorpus(s, dir), w = 8)
        .orderBy(col("doc_id"))
    }),

    "q_sparse_cosine" -> ((s0, dir) => {
      val s = ensure(s0)
      // posting-store form (dfCapFrac 0.85 baked into the store — see
      // EntrySupport.tokPostings) with the bounded query slice held
      // driver-local (r12): ONE scored posting join + rank window job
      Text.tfidfCosineTopKFrom(tokPostings(s, dir), nQueries = 20, k = 5,
          qSlice = Some(tokPostingsQueryLocal(s, dir, 20)))
        .orderBy(col("q_id"), col("rnk"))
    }),

    "q_kn_bigram" -> ((s0, dir) => {
      val s = ensure(s0)
      // shared write-once bigram count table (see q_bigram_lm)
      Text.knBigramLogProbFrom(lmCollapse(s, dir), discount = 0.75)
        .orderBy(col("doc_id"))
    }),

    "q_l_diversity" -> ((s0, dir) => {
      val s = ensure(s0)
      // QI = (event_type, day); subject = user_id; sensitive = the
      // coarse value band floor(value/100). The value distribution is
      // right-skewed (bands 2-4 per group), so k = 50 and l = 3 each
      // suppress a REAL subset of groups — both gates are exercised
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
        .withColumn("v_band", floor(col("value") / 100).cast("long"))
      Relational.lDiversity(ev, Seq("event_type", "day"), "user_id", "v_band",
          "value", k = 50, l = 3)
        .orderBy(col("event_type"), col("day"))
    }),

    "q_sim_sq" -> ((s0, dir) => {
      val s = ensure(s0)
      Sim.cosineTopKSq(Tables.embeddings(s, dir),
          nQueries = 10, k = 5, shortlist = 20,
          queryRows = Some(embQueryLocal(s, dir, 10)))
        .orderBy(col("q_id"), col("rnk"))
    }),

    "q_media_phash" -> ((s0, dir) => {
      val s = ensure(s0)
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
    }),

    // ---- batch 20: BM25, hybrid fusion, late interaction, skew
    //      salting, perceptual-hash banding ----

    "q_bm25" -> ((s0, dir) => {
      val s = ensure(s0)
      // posting-store form: per-posting bm_w IS the score term; query
      // slice driver-local (r12) — one job
      Text.bm25TopKFrom(tokPostings(s, dir), nQueries = 20, k = 5,
          qSlice = Some(tokPostingsQueryLocal(s, dir, 20)))
        .orderBy(col("q_id"), col("rnk"))
    }),

    "q_rrf" -> ((s0, dir) => {
      val s = ensure(s0)
      // hybrid retrieval: the tf-idf cosine ranking and the BM25
      // ranking (incomparable score scales) computed as two score
      // columns of ONE posting-join pass, then RRF-fused — output
      // bit-identical to composing the two rankers + rrfFuse (the
      // oracle restates both rankings independently)
      Text.hybridRrfTopKFrom(tokPostings(s, dir), nQueries = 10,
          kPer = 20, kFused = 5,
          qSlice = Some(tokPostingsQueryLocal(s, dir, 10)))
        .orderBy(col("q_id"), col("fused_rnk"))
    }),

    "q_salted_join" -> ((s0, dir) => {
      val s = ensure(s0)
      // events ⋈ per-event-type stats dim: 5 dim rows = EVERY key is
      // hot, the worst case a plain shuffle join degenerates on. The
      // salted plan fans each key 8 ways; the oracle is the UNSALTED
      // join — identical result set is the operator's contract
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy(col("event_type").as("et")).agg(
        count(lit(1)).as("n_t"),
        round(sum(col("value")), 4).as("sum_v_r"))
      Relational.saltedJoin(
          ev.select(col("event_id"), col("event_type")),
          dim, probeKey = "event_type", buildKey = "et", salt = 8)
        .select(col("event_id"), col("event_type"), col("n_t"), col("sum_v_r"))
        .orderBy(col("event_id"))
    }),

    "q_maxsim" -> ((s0, dir) => {
      val s = ensure(s0)
      Sim.maxSimTopK(Tables.embeddings(s, dir),
          groupEvery = 4, nQueryDocs = 5, k = 5,
          queryRows = Some(embQueryLocal(s, dir, 20)))
        .orderBy(col("q_doc"), col("rnk"))
    }),

    "q_media_phash_band" -> ((s0, dir) => {
      val s = ensure(s0)
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
    }),

    "q_media_dedup_incremental" -> ((s0, dir) => {
      val s = ensure(s0)
      // the media tier's NIGHTLY form (round-16 verdict #3): the
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
    }),

    // ---- batch 21: actionable trim + sketch audit ----

    "q_dedup_lines_trim" -> ((s0, dir) => {
      val s = ensure(s0)
      // the rewrite form of q_dedup_lines: copies lose every segment
      // they repeat (most come back near-empty), originals keep their
      // text verbatim minus natural collisions
      Dedup.segmentTrim(perturbedCorpus(s, dir), w = 8)
        .orderBy(col("doc_id"))
    }),

    "q_minhash_error" -> ((s0, dir) => {
      val s = ensure(s0)
      Dedup.minhashEstimatorAuditFromFrame(ddfPerturbedCap(s, dir, 2000))
        .orderBy(col("n_pairs"))
    }),

    // ---- batch 23 (round 9): full ExactSubstr spans + trim ----

    "q_dedup_substr_spans" -> ((s0, dir) => {
      val s = ensure(s0)
      // the FULL Lee et al. 2022 ExactSubstr form (vs
      // q_dedup_substring's per-position score): maximal duplicated
      // spans from merged runs of duplicated 8-grams. The perturbed
      // corpus plants whole-doc duplicated spans (each +100000 copy
      // repeats its original verbatim before the suffix), so both
      // full-coverage and partial-overlap cases exist.
      Dedup.exactSubstrSpans(perturbedCorpus(s, dir, cap = 2000), L = 8)
        .orderBy(col("doc_id"))
    }),

    "q_dedup_substr_trim" -> ((s0, dir) => {
      val s = ensure(s0)
      // the actionable rewrite: duplicated spans cut everywhere except
      // their corpus-first occurrence — originals keep their text,
      // copies lose the repeated region and keep the fresh suffix
      Dedup.exactSubstrTrim(perturbedCorpus(s, dir, cap = 2000), L = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- batch 34 (round 14): the ExactSubstr L-knob at the Lee et
    // al. 2022 operating point (length >= 50 tokens, the paper's
    // default) — same operators, same corpus, L=50: only docs long
    // enough to repeat a 50-token run report spans (the planted
    // whole-doc duplicates on >= 50-token originals), short docs and
    // short repeats correctly report zeros. Oracle = the SAME SQL
    // template as the L=8 pair with L substituted.

    "q_dedup_substr_spans50" -> ((s0, dir) => {
      val s = ensure(s0)
      Dedup.exactSubstrSpans(perturbedCorpus(s, dir, cap = 2000), L = 50)
        .orderBy(col("doc_id"))
    }),

    "q_dedup_substr_trim50" -> ((s0, dir) => {
      val s = ensure(s0)
      Dedup.exactSubstrTrim(perturbedCorpus(s, dir, cap = 2000), L = 50)
        .orderBy(col("doc_id"))
    }),

    "q_video_decode" -> ((s0, dir) => {
      val s = ensure(s0)
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
    }),

    "q_audio_vad" -> ((s0, dir) => {
      val s = ensure(s0)
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
    }),

    "q_media_dedup_cc" -> ((s0, dir) => {
      val s = ensure(s0)
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
    }),

    "q_rfm" -> ((s0, dir) => {
      val s = ensure(s0)
      EventOps.rfmSegments(Tables.events(s, dir), Tables.D2024_01_20_US,
          knownUsers = Some(rfmUserCountLocal(s, dir, Tables.D2024_01_20_US)))
        .orderBy(col("user_id"))
    }),

    "q_dedup_simhash_band" -> ((s0, dir) => {
      val s = ensure(s0)
      // hamming-≤2 bit-band LSH over the first 1000 docs (the synthetic
      // corpus's 31-token vocabulary makes near-identical token bags —
      // and therefore near-dup pairs — far denser than web text, so the
      // block cap keeps the verified pair stream bench-sized, the same
      // move as q_media_dedup_cc)
      Dedup.simhashBandStatsFromFps(simhashFpsDocs1k(s, dir), k = 2)
        .orderBy(col("doc_id"))
    }),

    "q_quality_classifier" -> ((s0, dir) => {
      val s = ensure(s0)
      // trained quality gate (Text.qualityClassifier): logistic
      // regression over length-normalized hashed-BoW features, trained
      // driver-locally on a bounded per-class sample of the planted
      // clean/spam corpus, scored map-side with the weights as column
      // literals — the GPT-3/CCNet classifier-filter shape. The oracle
      // re-runs the IDENTICAL deterministic training at Verify time
      // and recomputes the whole score path from the pinned weights
      // (the q_sim_lsh trick); classifier QUALITY is separately pinned
      // by QualityClassifierSpec's precision/recall bounds. The model
      // loads from the corpus-versioned store (EntrySupport
      // .qualityModel — the shipped-artifact shape); scoring is the
      // whole query: one feature aggregate + one doc-keyed fold.
      val (w, b) = qualityModel(s, dir)
      Text.qualityScoreFrom(
          Text.qualityCorpus(Tables.documents(s, dir)
            .repartition(fanN(s, dir))), 256, w, b)
        .orderBy(col("doc_id"))
    }),

    "q_sim_hnsw" -> ((s0, dir) => {
      val s = ensure(s0)
      // graph-tier ANN (ops.Hnsw): segment-local HNSW graphs +
      // scatter-gather merge (the Vespa/Milvus/Lucene distribution
      // shape). At the verify scales efSearch=512 ≥ every segment, so
      // the graph walk is saturated and the EXACT brute-force oracle
      // is the recall claim itself (a detached level-0 component or a
      // broken merge fails the hash gate); HnswSpec grades the
      // production configuration (efSearch=64) by recall at sf0.1.
      graft.ops.Hnsw.hnswTopK(
          Tables.embeddings(s, dir)
            .repartition(fanEmbN(s, dir)),
          nQueries = 10, k = 5, m = 8, efConstruction = 64, efSearch = 512,
          queryRows = Some(embQueryLocal(s, dir, 10)))
        .orderBy(col("q_id"), col("rnk"))
    }),

    "q_sim_hnsw_routed" -> ((s0, dir) => {
      val s = ensure(s0)
      // IVF-routed graph tier: the trained coarse quantizer (the same
      // corpus-versioned model q_sim_ann_kmeans serves) routes each
      // query to nProbe cells; per-cell HNSW graphs answer only routed
      // queries. efSearch=4096 ≥ any cell at verify scale saturates
      // the walk, so exhaustive-within-probed-cells ≡ multi-probe IVF
      // exact search and Sim.ivfSearchOracleSql pins it row-for-row
      // (oracleSqlDynamic); HnswSpec grades production ef by recall.
      graft.ops.Hnsw.hnswTopKRouted(Tables.embeddings(s, dir),
          pqModel(s, dir)._1, nQueries = 10, k = 5, nProbe = 2,
          m = 8, efConstruction = 64, efSearch = 4096,
          queryModel = Some(hnswRoutedQueryLocal(s, dir, 10, 2)))
        .orderBy(col("q_id"), col("rnk"))
    }),

    "q_dedup_semantic_incremental" -> ((s0, dir) => {
      val s = ensure(s0)
      // SemDeDup's nightly form — the dedup twin of
      // q_sim_ivf_incremental over the SAME frozen quantizer and the
      // SAME cell-partitioned standing store: the planted batch
      // (ivfBatch — reversed +1M, exact copies +2M) assigns map-side,
      // scores only its cell's standing + in-batch mates, and each
      // batch vector gets the union keeper rule (exact copies MUST
      // discard onto a standing id). The ORACLE re-runs the full
      // SemDeDup over standing ∪ batch from centroid literals
      // restricted to batch ids — increment ≡ union, cross-engine.
      Sim.semanticDedupIncrement(ivfAssignedStore(s, dir),
          ivfBatch(s, dir), pqModel(s, dir)._1, minCos = 0.40)
        .orderBy(col("vec_id"))
    }),

    "q_web_corpus_index_delta" -> ((s0, dir) => {
      val s = ensure(s0)
      // the index WRITE-BACK half of the nightly cycle — what keeps
      // q_web_corpus_store's standing indexes true between runs:
      // the canonicals newly claimed by batch gate-survivors and the
      // text hashes of batch canonical-stage survivors, each
      // left-anti'd against the standing index (append-ready deltas;
      // Corpus.webCorpusIndexDelta — batch-bounded, all probes
      // broadcast). The ORACLE recomputes (union indexes) MINUS
      // (standing indexes) from first principles, so a hash match
      // proves append-maintenance ≡ full rebuild.
      val (canonIdx, textIdx) = wcIndexes(s, dir)
      Corpus.webCorpusIndexDelta(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 3, freshMod = 0))
        .orderBy(col("kind"), col("key"))
    }),

    "q_sim_hnsw_growing" -> ((s0, dir) => {
      val s = ensure(s0)
      // the graph tier's INCREMENTAL shape (round-15 residual's
      // "segment graphs" half): sealed per-cell HNSW graphs answer for
      // the standing corpus unchanged, the planted batch (ivfBatch —
      // the q_sim_ivf_incremental corpus) is brute-force scanned as
      // the GROWING segment within each query's probed cells, and the
      // per-query merge is lossless by construction. Saturated
      // efSearch ≡ multi-probe IVF exact over standing ∪ batch, so the
      // SAME pinned-centroid oracle as q_sim_ivf_incremental applies
      // (identical SQL on purpose — the two operators implement one
      // law through different physical tiers); IvfIncrementSpec pins
      // growing ≡ increment Spark-vs-Spark at this configuration.
      graft.ops.Hnsw.hnswTopKRoutedGrowing(Tables.embeddings(s, dir),
          ivfBatch(s, dir), pqModel(s, dir)._1,
          nQueries = 10, k = 5, nProbe = 2,
          m = 8, efConstruction = 64, efSearch = 4096,
          queryModel = Some(hnswRoutedQueryLocal(s, dir, 10, 2)))
        .orderBy(col("q_id"), col("rnk"))
    }),

    "q_sim_hnsw_sealed" -> ((s0, dir) => {
      val s = ensure(s0)
      // the graph tier's COMPACTION (round-16 verdict #4): the growing
      // segment q_sim_hnsw_growing brute-forces has been SEALED — its
      // per-cell graphs built once off the frozen quantizer and
      // serialized to the segment store at prepare
      // (EntrySupport.hnswSealedStore) — and search now walks standing
      // graphs + the loaded sealed graphs, the brute-force path
      // retired (Hnsw.hnswTopKRoutedSealedFrom). Saturated efSearch ≡
      // multi-probe IVF exact over standing ∪ batch, so the SAME
      // pinned-centroid oracle as the growing/increment forms applies
      // (one law, three physical tiers); HnswSealSpec pins
      // seal → persist → load → search ≡ growing Spark-vs-Spark.
      graft.ops.Hnsw.hnswTopKRoutedSealedFrom(Tables.embeddings(s, dir),
          hnswSealedStore(s, dir), pqModel(s, dir)._1,
          nQueries = 10, k = 5, nProbe = 2,
          m = 8, efConstruction = 64, efSearch = 4096,
          queryModel = Some(hnswRoutedQueryLocal(s, dir, 10, 2)))
        .orderBy(col("q_id"), col("rnk"))
    }),

    "q_xpath_extract" -> ((s0, dir) => {
      val s = ensure(s0)
      // N1 params extraction through the XML parser surface (the
      // xpath_* builtins + from_xml), first/last-match semantics
      // included. The payload is constructed from the row's OWN
      // fields — the JSON props `k` value rides in as the first `k`
      // param when present, a derived `k` param is always appended —
      // so first-match = props-or-derived, last-match = derived, and
      // the oracle recomputes everything from the raw table through
      // DuckDB's JSON parser: same data, two different parsers. Both
      // extraction paths (positional XPath and schema'd from_xml +
      // HOF filter + try_element_at(-1), the q_ga4_extract pattern)
      // must agree with it.
      val esc = (c: Column) =>
        regexp_replace(regexp_replace(regexp_replace(c,
          lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
      val jk = get_json_object(col("props"), "$.k")
      // a NULL value omits the whole param element (the writer
      // convention, as in q_xml_intake)
      val param = (k: String, v: Column) =>
        when(v.isNull, lit("")).otherwise(
          concat(lit(s"<param><k>$k</k><v>"), v, lit("</v></param>")))
      val x = concat(
        lit("<e><params>"),
        param("k", esc(jk)),
        param("u", col("user_id").cast("string")),
        param("k", (col("event_id") % 3).cast("string")),
        lit("</params></e>"))
      val xmlSchema = StructType(Seq(StructField("params", StructType(Seq(
        StructField("param", ArrayType(StructType(Seq(
          StructField("k", StringType), StructField("v", StringType))))))))))
      Tables.events(s, dir)
        .select(col("event_id"), x.as("x"))
        .select(
          col("event_id"),
          expr("xpath_string(x, \"//param[k='k']/v\")").as("k_first"),
          expr("xpath_long(x, \"(//param[k='k']/v)[last()]\")").as("k_last"),
          expr("CAST(size(xpath(x, '//param/k/text()')) AS BIGINT)").as("n_params"),
          try_element_at(
            filter(from_xml(col("x"), xmlSchema).getField("params").getField("param"),
              p => p.getField("k") === lit("k")),
            lit(-1)).getField("v").cast("long").as("k_last_typed"))
        .orderBy(col("event_id"))
    }),

    // ---- batch 25 (round 11): mergeable sketches — the fixed-state
    //      substitutes for exact distinct/frequency/membership/quantile
    //      at 100 TB, each deterministic and oracle-restatable ----

    "q_sketch_hll" -> ((s0, dir) => {
      val s = ensure(s0)
      // HyperLogLog distinct users per event type (m=64 registers),
      // exact count riding the same register fold for a free error column
      Sketches.hllDistinct(Tables.events(s, dir), "event_type", "user_id")
        .orderBy(col("event_type"))
    }),

    "q_sketch_cms" -> ((s0, dir) => {
      val s = ensure(s0)
      // count-min heavy hitters over user activity: estimates can only
      // OVERcount, the property that makes the sketch safe for hot-key
      // detection (see q_key_skew for the exact twin)
      Sketches.cmsHeavyHitters(Tables.events(s, dir), "user_id", topK = 20)
        .orderBy(col("rnk"))
    }),

    "q_bloom_dedup" -> ((s0, dir) => {
      val s = ensure(s0)
      // Bloom pre-filter for incremental dedup: history keys set the
      // bits, the new batch pays the exact verification join only where
      // the filter says "maybe" — no false negatives by construction.
      // m sized for the declared scale (sf0.1 history ≈ 7.5k distinct
      // user|type keys → expect 8k): bloomBits(8000, k=3, 1% FP) =
      // 98,914 bits. The r11 default (1024) saturated at ~250 keys and
      // read near-all-ones — correct but pricing nothing.
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      val key = concat(col("user_id").cast("string"), lit("|"),
        coalesce(col("event_type"), lit("")))
      Sketches.bloomDedupFlags(
          ev.filter(col("ts_us") < Tables.D2024_01_15_US),
          ev.filter(col("ts_us") >= Tables.D2024_01_15_US),
          key, "event_id", m = Sketches.bloomBits(8000))
        .orderBy(col("event_id"))
    }),

    "q_sketch_overlap" -> ((s0, dir) => {
      val s = ensure(s0)
      // HLL set algebra: per-pair audience overlap from MERGED registers
      // (union = per-index max — the mergeability property), exact
      // intersection join riding along as the audit column
      Sketches.hllOverlap(Tables.events(s, dir), "event_type", "user_id")
        .orderBy(col("type_a"), col("type_b"))
    }),

    "q_sketch_quantile" -> ((s0, dir) => {
      val s = ensure(s0)
      // HDR-histogram log-linear quantiles per event type — integer-only
      // bucket math (binary log via length(bin)), so both engines bucket
      // bit-identically with no ln() boundary hazard
      Sketches.hdrQuantiles(Tables.events(s, dir), "event_type", "value",
          Seq(0.5, 0.9, 0.99))
        .orderBy(col("event_type"))
    }),

    "q_sketch_hll_raw" -> ((s0, dir) => {
      val s = ensure(s0)
      // register-only batch HLL (round 12): registers fold straight off
      // the RAW rows — max(rho) is duplicate-insensitive, so there is no
      // distinct shuffle of the key universe and no exact audit column.
      // This is the fixed-state path a 100 TB scan actually runs; the
      // audit twin is q_sketch_hll, and SketchesRawSpec pins the two
      // estimates bit-identical.
      Sketches.hllRegistersOnly(Tables.events(s, dir), "event_type", "user_id")
        .orderBy(col("event_type"))
    }),

    "q_dp_counts" -> ((s0, dir) => {
      val s = ensure(s0)
      // differentially-private count release (Laplace mechanism,
      // round 12): per (event_type, day) counts published with
      // deterministic seeded Laplace noise — reproducible, oracle-
      // restatable; the true count rides only for the correctness gate
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
      Relational.dpNoisedCounts(ev, Seq("event_type", "day"), epsilon = 1.0)
        .orderBy(col("event_type"), col("day"))
    }),

    "q_minhash_union" -> ((s0, dir) => {
      val s = ensure(s0)
      // group-level MinHash Jaccard (round 12): per-event-type audience
      // signatures (16-perm min fold — union = elementwise min, the
      // MinHash mergeability), pairwise Jaccard estimated from equal
      // components with the exact Jaccard riding as audit
      Sketches.minhashGroupJaccard(Tables.events(s, dir), "event_type", "user_id")
        .orderBy(col("type_a"), col("type_b"))
    }),

    "q_sketch_theta" -> ((s0, dir) => {
      val s = ensure(s0)
      // KMV/Theta sketch set algebra (round 13): per-event-type
      // audience sketches (bottom-64 distinct key hashes), pairwise
      // UNION / INTERSECTION / DIFFERENCE cardinality estimates below
      // the common theta — the set-op gap HLL (union-only inclusion-
      // exclusion) and MinHash (Jaccard-only) leave open; exact
      // union/intersection ride as audit columns
      Sketches.thetaSetOps(Tables.events(s, dir), "event_type", "user_id",
          k = 64)
        .orderBy(col("type_a"), col("type_b"))
    }),

    "q_sketch_theta_raw" -> ((s0, dir) => {
      val s = ensure(s0)
      // PRODUCTION theta form (round 14): the same bottom-64 sketches
      // and set estimates with NO exact key-universe self-join — the
      // declared 100 TB query, extending the hll_raw/cms_raw precedent
      // to set algebra; the audit twin is q_sketch_theta, and
      // SketchesRawSpec pins the estimates bit-identical
      Sketches.thetaSetOpsRaw(Tables.events(s, dir), "event_type", "user_id",
          k = 64)
        .orderBy(col("type_a"), col("type_b"))
    }),

    "q_random_projection" -> ((s0, dir) => {
      val s = ensure(s0)
      // Johnson-Lindenstrauss ±1 projection 64 -> 16 (round 12): the
      // deterministic md5-parity sign matrix is baked into the plan as
      // literals; output carries sample components + both norms + the
      // distance-preservation ratio
      Sim.randomProjection(Tables.embeddings(s, dir), inDim = 64, outDim = 16)
        .orderBy(col("vec_id"))
    }),

    "q_dp_sum" -> ((s0, dir) => {
      val s = ensure(s0)
      // DP sum release (round 12): per-row contribution clamped to
      // [0, 100] — the clamp bounds sensitivity, licensing the
      // Laplace(clampHi/epsilon) noise; same seeded-noise convention
      // as q_dp_counts
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
      Relational.dpNoisedSum(ev, Seq("event_type", "day"), "value",
          clampHi = 100.0, epsilon = 1.0)
        .orderBy(col("event_type"), col("day"))
    }),

    "q_sketch_hdr_merge" -> ((s0, dir) => {
      val s = ensure(s0)
      // HDR sketch MERGE (round 12): global quantiles served by summing
      // the per-group bucket frames — no raw rescan; bit-identical to
      // direct global bucketing because the bucket of a value is
      // group-independent (SketchesRawSpec pins it)
      Sketches.hdrMergedQuantiles(Tables.events(s, dir), "event_type", "value",
          Seq(0.5, 0.9, 0.99))
        .orderBy(col("n"))
    }),

    "q_sim_rp_ann" -> ((s0, dir) => {
      val s = ensure(s0)
      // two-stage ANN through the JL projection (round 12): shortlist
      // by 16-d projected cosine (4x smaller resident index), exact
      // 64-d refine from the base table
      Sim.cosineTopKRp(Tables.embeddings(s, dir), nQueries = 10, k = 5,
          shortlist = 40, queryRows = Some(embQueryLocal(s, dir, 10)))
        .orderBy(col("q_id"), col("rnk"))
    }),

    "q_bucket_join" -> ((s0, dir) => {
      val s = ensure(s0)
      // co-located join over bucketed layout (round 12): orders and
      // customer are 8-bucket tables on the join key, so the
      // per-customer pre-aggregate needs NO exchange, the sort-merge
      // join needs NO exchange on either side, and only the final
      // nation-sized fold shuffles — BucketJoinSpec pins the plan has
      // zero custkey exchanges. The MERGE hint keeps the demo honest
      // (broadcast would hide the layout win at sf0.1; at real scale
      // neither side broadcasts).
      val (o, c) = bucketedOrdersCustomer(s, dir)
      o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("tp"))
        .hint("MERGE")
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(
          sum(col("n_orders")).as("n_orders"),
          count(lit(1)).as("n_customers"),
          round(sum(col("tp")), 2).as("total_r"))
        .orderBy(col("nationkey"))
    }),

    "q_sketch_cms_raw" -> ((s0, dir) => {
      val s = ensure(s0)
      // register-only batch CMS (round 12): the d·w = 256-counter frame
      // folds straight off raw increments (each row adds 1 to one bucket
      // per hash row) — no exact per-key collapse anywhere. This frame IS
      // the mergeable sketch state a downstream union/estimate consumes;
      // the audit twin is q_sketch_cms, and SketchesRawSpec pins the
      // counter frames bit-identical.
      Sketches.cmsCountersFromRaw(Tables.events(s, dir), "user_id")
        .orderBy(col("j"), col("b"))
    }),

    "q_dsir_weights" -> ((s0, dir) => {
      val s = ensure(s0)
      // DSIR importance weights (round 13): per-doc log-likelihood
      // ratio of hashed uni+bigram counts under the English-target
      // bucket distribution vs the raw corpus — the data-selection
      // scorer of Xie et al. NeurIPS 2023 (Text.dsirWeights scaladoc
      // has the corpus-linear scale contract)
      Text.dsirWeights(
          Tables.documents(s, dir)
            .repartition(fanN(s, dir)),
          col("lang") === "en", buckets = 256)
        .orderBy(col("doc_id"))
    }),

    // ---- batch 32 (round 14): crawl front door ----

    "q_html_extract" -> ((s0, dir) => {
      val s = ensure(s0)
      // HTML text extraction (Corpus.htmlExtract scaladoc): each doc
      // wrapped in constructed markup — title/style/script + a nav on
      // every page, a 40-anchor link farm on doc_id % 7 == 3 (planted
      // chrome the density gate must catch), an UNCLOSED <script> on
      // doc_id % 13 == 0 (planted malformation the quarantine must
      // catch), and an entity-laden lead paragraph (decode proof in
      // head_50). The construction is mirrored in the oracle; the
      // shared farm literal lives in EntrySupport.htmlLinkFarm.
      val page = Tables.documents(s, dir)
        .repartition(fanN(s, dir))
        .select(col("doc_id"), concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit("</title><style>p { margin: 0; }</style></head><body>"),
          lit("<nav><a href=\"/\">home</a> <a href=\"/about\">about</a>" +
            " <a href=\"/contact\">contact</a></nav>"),
          when(col("doc_id") % 13 === 0, lit("<script>var broken = trackers["))
            .otherwise(concat(lit("<script>track("),
              col("doc_id").cast("string"), lit(");</script>"))),
          when(col("doc_id") % 7 === 3, lit(htmlLinkFarm)).otherwise(lit("")),
          lit("<p>R&amp;D says x &lt; y &amp;&amp; y &gt; 0" +
            " &quot;q&quot;&nbsp;end</p><p>"),
          col("text"), lit("</p></body></html>")).as("html"))
      Corpus.htmlExtract(page, linkDensityPct = 30)
        .orderBy(col("doc_id"))
    }),

    "q_html_meta" -> ((s0, dir) => {
      val s = ensure(s0)
      // HEAD-metadata gate (Corpus.htmlMeta scaladoc): constructed
      // pages plant a robots directive on doc_id % 5 ∈ {0 (noindex,
      // nofollow), 1 (index, follow)}, a canonical link collapsing
      // every doc_id % 3 == 0 page onto its doc_id/9 target (group
      // sizes the dedup would act on), and a title on all pages; the
      // oracle mirrors the construction
      val page = Tables.documents(s, dir)
        .repartition(fanN(s, dir))
        .select(col("doc_id"), concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit("</title>"),
          when(col("doc_id") % 5 === 0,
            lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
            .when(col("doc_id") % 5 === 1,
              lit("<meta name=\"robots\" content=\"index, follow\">"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit("<link rel=\"canonical\" href=\"https://example.com/c/"),
              expr("doc_id div 9").cast("string"), lit("\">")))
            .otherwise(lit("")),
          lit("</head><body><p>"), col("text"),
          lit("</p></body></html>")).as("html"))
      Corpus.htmlMeta(page).orderBy(col("doc_id"))
    }),

    "q_crawl_pipeline" -> ((s0, dir) => {
      val s = ensure(s0)
      import org.apache.spark.sql.expressions.Window
      // the COMPOSED crawl front door (the q_dedup_pipeline pattern,
      // applied to ingest): one page construction carrying BOTH
      // content hazards (unclosed script on %13, link farm on %7==3,
      // entity lead) and head metadata (robots on %5, canonical groups
      // on %3 → div 9), then meta gate (drop noindex) → content gate
      // (drop quarantined/chrome) → publisher-hint dedup (min doc_id
      // per canonical among SURVIVORS keeps; docs without a canonical
      // keep themselves). Per-doc verdict row — every drop reason
      // visible, nothing silently vanishes.
      val page = Tables.documents(s, dir)
        .repartition(fanN(s, dir))
        .select(col("doc_id"), concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit("</title>"),
          when(col("doc_id") % 5 === 0,
            lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit("<link rel=\"canonical\" href=\"https://example.com/c/"),
              expr("doc_id div 9").cast("string"), lit("\">")))
            .otherwise(lit("")),
          lit("<style>p { margin: 0; }</style></head><body>"),
          when(col("doc_id") % 13 === 0, lit("<script>var broken = trackers["))
            .otherwise(lit("<script>track();</script>")),
          when(col("doc_id") % 7 === 3, lit(htmlLinkFarm)).otherwise(lit("")),
          lit("<p>R&amp;D says x &lt; y</p><p>"), col("text"),
          lit("</p></body></html>")).as("html"))
      // ONE fused projection (Corpus.crawlGate) computes both the
      // content chain and the head fields — the two-chain + doc_id
      // self-join form paid a second full pass over the page bytes.
      val gated = Corpus.crawlGate(page, linkDensityPct = 30)
        .withColumn("passes",
          (col("status") === "ok" && col("verdict") === "index").cast("long"))
      // keeper rank only among gate-survivors WITH a canonical; docs
      // without a canonical are their own keeper (NULL must not form
      // one giant group — the canonicalUrlDedup malformed-row rule).
      // A SYNTHETIC partition key keeps every row in one frame — no
      // filter + join-back: eligible rows group by canonical, everyone
      // else is a singleton, so rn = 1 means "keeper or own-keeper"
      val pkey = when(col("passes") === 1L && col("canonical").isNotNull,
          concat(lit("c:"), col("canonical")))
        .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(pkey).orderBy(col("doc_id"))
      gated
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("status"), col("verdict"),
          when(col("passes") === 0L, lit(0L))
            .when(col("rn") === 1, lit(1L)).otherwise(lit(0L)).as("kept"),
          col("n_toks"))
        .orderBy(col("doc_id"))
    }),

    "q_web_corpus" -> ((s0, dir) => {
      val s = ensure(s0)
      import org.apache.spark.sql.expressions.Window
      // the END-TO-END web-corpus capstone — "one engine, crawl to
      // training shards" as ONE declared plan: the q_crawl_pipeline
      // page construction runs through the fused front door
      // (Corpus.crawlGate with keepText — meta gate, content gate,
      // extraction) then straight into the corpus build (canonical
      // dedup → exact text dedup → Gopher quality gate → sequence
      // packing), with a per-doc STAGE verdict so every drop reason is
      // visible and the survivor counts reconcile stage by stage.
      // Shape: scan → one fused projection → three synthetic-key
      // windows (keeper, text-dup, per-shard pack) — dead rows ride
      // as singleton partitions instead of filter + join-back, so the
      // whole capstone is one exchange chain, no self-joins, map-side
      // everything else; bounded by q_crawl_pipeline + q_corpus_
      // pipeline's parts. Planted pages (clean markup, no head
      // hazards — ids +1M/+2M/+3M off every doc_id % 50 == 1 doc)
      // force the two stages the organic corpus never reaches: a
      // same-text page pair (text_dup fires on the later ids) and a
      // two-word page (low_quality fires on the Gopher word floor).
      val docs = Tables.documents(s, dir)
        .repartition(fanN(s, dir))
      // title text survives tag strip, so the dup PAIR must share one
      // title (keyed to the seed doc, not the planted id) for its
      // extracted texts to collide
      def cleanPage(title: Column, body: Column): Column = concat(
        lit("<html><head><title>"), title,
        lit("</title></head><body><script>track();</script><p>"),
        body, lit("</p></body></html>"))
      val seed = docs.filter(col("doc_id") % 50 === 1)
      val dupTitle = concat(lit("dup "), col("doc_id").cast("string"))
      val dupBody = concat(lit("R&amp;D says x &lt; y</p><p>"), col("text"))
      val planted =
        seed.select((col("doc_id") + 1000000L).as("doc_id"),
            cleanPage(dupTitle, dupBody).as("html"))
          .unionByName(seed.select((col("doc_id") + 2000000L).as("doc_id"),
            cleanPage(dupTitle, dupBody).as("html")))
          .unionByName(seed.select((col("doc_id") + 3000000L).as("doc_id"),
            cleanPage(dupTitle, lit("low quality")).as("html")))
      val page = docs
        .select(col("doc_id"), concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit("</title>"),
          when(col("doc_id") % 5 === 0,
            lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit("<link rel=\"canonical\" href=\"https://example.com/c/"),
              expr("doc_id div 9").cast("string"), lit("\">")))
            .otherwise(lit("")),
          lit("<style>p { margin: 0; }</style></head><body>"),
          when(col("doc_id") % 13 === 0, lit("<script>var broken = trackers["))
            .otherwise(lit("<script>track();</script>")),
          when(col("doc_id") % 7 === 3, lit(htmlLinkFarm)).otherwise(lit("")),
          lit("<p>R&amp;D says x &lt; y</p><p>"), col("text"),
          lit("</p></body></html>")).as("html"))
        .unionByName(planted)
      val g = Corpus.crawlGate(page, linkDensityPct = 30, keepText = true)
        .withColumn("passes",
          (col("status") === "ok" && col("verdict") === "index").cast("long"))
      // stage 1: publisher-hint (canonical) dedup among gate survivors
      val k1 = when(col("passes") === 1L && col("canonical").isNotNull,
          concat(lit("c:"), col("canonical")))
        .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
      val r1 = g
        .withColumn("rn1",
          row_number().over(Window.partitionBy(k1).orderBy(col("doc_id"))))
        .withColumn("alive1", col("passes") === 1L && col("rn1") === 1)
      // stage 2: exact text dedup (extracted text, not raw html —
      // mirror pages differing only in chrome still collapse)
      val k2 = when(col("alive1"), concat(lit("t:"), col("text")))
        .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
      val r2 = r1
        .withColumn("rn2",
          row_number().over(Window.partitionBy(k2).orderBy(col("doc_id"))))
        .withColumn("alive2", col("alive1") && col("rn2") === 1)
      // stage 3: Gopher gate on the extracted text (map-side; the
      // kernel is null-safe, so dead rows' NULL text just rides along)
      val r3 = Corpus.withGopher(r2)
        .withColumn("alive3",
          col("alive2") && coalesce(col("gopher_ok"), lit(0L)) === 1L)
      // stage 4: sequence packing over survivors (per-shard running
      // sum; dead rows are singleton partitions contributing 0)
      val k3 = when(col("alive3"),
          concat(lit("s:"), expr("doc_id div 64").cast("string")))
        .otherwise(concat(lit("d:"), col("doc_id").cast("string")))
      val wPack = Window.partitionBy(k3).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      r3
        .withColumn("cum",
          sum(when(col("alive3"), col("n_toks")).otherwise(lit(0L))).over(wPack))
        .select(
          col("doc_id"),
          when(col("status") === "quarantined", lit("quarantined"))
            .when(col("status") === "chrome", lit("chrome"))
            .when(col("verdict") === "drop", lit("noindex"))
            .when(col("rn1") =!= 1, lit("canonical_dup"))
            .when(col("rn2") =!= 1, lit("text_dup"))
            .when(coalesce(col("gopher_ok"), lit(0L)) =!= 1L, lit("low_quality"))
            .otherwise(lit("kept")).as("stage"),
          when(col("alive3"), col("n_toks")).as("tok_cnt"),
          when(col("alive3"), expr("doc_id div 64")).as("shard"),
          when(col("alive3"),
            ((col("cum") - col("n_toks")) / 2048).cast("long")).as("seq_id"),
          when(col("alive3"), (col("cum") - col("n_toks")) % 2048).as("offset_in"))
        .orderBy(col("doc_id"))
    }),

    "q_web_corpus_incremental" -> ((s0, dir) => {
      val s = ensure(s0)
      // the capstone's DEPLOYMENT shape: a standing corpus already
      // ingested, a batch arrives, and only the BATCH shuffles
      // (Corpus.webCorpusIncrement — canonical/text probes against
      // standing indexes instead of a union re-run). Batch plants all
      // three duplicate classes: impersonating copies of standing
      // pages (+5M — canonical_dup or text_dup where the standing
      // original survived, kept where it didn't), fresh pages (+6M),
      // and an in-batch same-text pair (+7M). The ORACLE runs the
      // union capstone restricted to batch ids, so a hash match IS
      // the increment ≡ union law verified cross-engine.
      Corpus.webCorpusIncrement(wcStandingPages(s, dir),
          wcBatchPages(s, dir, copyMod = 1, freshMod = 2))
        .orderBy(col("doc_id"))
    }),

    "q_web_corpus_store" -> ((s0, dir) => {
      val s = ensure(s0)
      // the STORE-FED incremental capstone — the round-15 verdict's #1
      // growth edge: the standing corpus never appears in the plan;
      // the two skinny indexes (claimed canonicals, alive text hashes)
      // were MATERIALIZED once per corpus version at prepare time
      // (EntrySupport.wcIndexes) and broadcast into the batch probe,
      // so the run cost is batch-proportional by construction
      // (Corpus.webCorpusIncrementFrom). Batch plants the same three
      // duplicate classes as q_web_corpus_incremental on DIFFERENT mod
      // classes; the oracle is the same union-rerun law (it rebuilds
      // the indexes from the standing corpus in SQL — a hash match
      // therefore also proves the store round-trip lost nothing).
      val (canonIdx, textIdx) = wcIndexes(s, dir)
      Corpus.webCorpusIncrementFrom(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 3, freshMod = 0))
        .orderBy(col("doc_id"))
    }),

    "q_web_corpus_store_bucketed" -> ((s0, dir) => {
      val s = ensure(s0)
      // the BROADCAST-BUDGET form of the store-fed capstone (round-16
      // verdict #1): at 100 TB the canonical/text-hash indexes are
      // corpus-cardinality and cannot broadcast, so the standing store
      // is PRE-BUCKETED on its key at prepare (EntrySupport
      // .wcIndexesBucketed) and each probe is a sort-merge join whose
      // standing side reads its bucket files with zero exchanges;
      // only the batch rows that can match shuffle, NULL-keyed rows
      // union around the join (Corpus.webCorpusIncrementFromBucketed).
      // Distinct mod classes keep the output distinct from the
      // broadcast twin; the oracle is the SAME union-rerun template —
      // a hash match proves the physical probe swap changed nothing.
      // BucketedIndexProbeSpec pins the plan shape (standing side
      // exchange-free) and bucketed ≡ broadcast row-for-row.
      val (canonIdx, textIdx) = wcIndexesBucketed(s, dir)
      Corpus.webCorpusIncrementFromBucketed(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 2, freshMod = 1))
        .orderBy(col("doc_id"))
    }),

    "q_web_corpus_index_delta_bucketed" -> ((s0, dir) => {
      val s = ensure(s0)
      // the write-back half under the same broadcast-budget regime:
      // candidate keys distinct once (batch-bounded), then per-kind
      // LEFT-ANTI sort-merge joins against each bucketed standing
      // index directly — a keyed union of the two stores would destroy
      // their bucketing, so the split rides the REUSED distinct
      // exchange and the extraction still runs once
      // (Corpus.webCorpusIndexDeltaBucketed). Same rebuild-equivalence
      // oracle as the broadcast twin on its own mod classes.
      val (canonIdx, textIdx) = wcIndexesBucketed(s, dir)
      Corpus.webCorpusIndexDeltaBucketed(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 2, freshMod = 1))
        .orderBy(col("kind"), col("key"))
    }),

    "q_nightly_cycle" -> ((s0, dir) => {
      val s = ensure(s0)
      // the COMPOSED nightly cycle (round-16 verdict #2): verdicts AND
      // index write-back from ONE linear plan over the SAME store +
      // batch as q_web_corpus_store / q_web_corpus_index_delta — each
      // page pays the regex-heavy extraction once and emits its
      // verdict struct plus its ≤2 candidate keys through one
      // array-explode; candidate dedup rides the pipeline's own race
      // ranks (rn1/rn2 === 1 guards — r17 retired the post-explode
      // dedup window and its exchange),
      // and the standing anti check is FREE — candidates filter at
      // emission via the probe flags the verdict pipeline already
      // carries (Corpus.webCorpusNightlyCycle). The oracle restates BOTH
      // halves over one shared CTE chain, so a hash match proves the
      // composition emits exactly what the two standalone runs would.
      val (canonIdx, textIdx) = wcIndexes(s, dir)
      Corpus.webCorpusNightlyCycle(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 3, freshMod = 0))
        .orderBy(col("part"), col("doc_id"), col("kind"), col("key"))
    }),

    "q_nightly_cycle_bucketed" -> ((s0, dir) => {
      val s = ensure(s0)
      // the composed cycle AT BROADCAST-BREAKING SCALE: the same
      // one-pass verdicts + write-back over the PRE-BUCKETED standing
      // indexes — the two semi-join-reduction probes swap in and
      // nothing else changes, because the composition's anti check
      // was already the probe flags (Corpus.webCorpusNightlyCycleBucketed).
      // Same oracle template as q_nightly_cycle on the bucketed
      // twins' mod classes — the full nightly deployment story in one
      // declared run: no broadcast at index size anywhere in the plan.
      val (canonIdx, textIdx) = wcIndexesBucketed(s, dir)
      Corpus.webCorpusNightlyCycleBucketed(canonIdx, textIdx,
          wcBatchPages(s, dir, copyMod = 2, freshMod = 1))
        .orderBy(col("part"), col("doc_id"), col("kind"), col("key"))
    }),

    "q_corpus_index_retention" -> ((s0, dir) => {
      val s = ensure(s0)
      // retention / GC of the standing index store (round-16 verdict
      // #7): the planted corpus arrives as four daily waves (day =
      // doc_id % 4 + 1), each wave appends its RANK-FREE claims
      // (re-crawls re-assert liveness — Corpus.webCorpusIndexClaims),
      // and the nightly compaction folds every key to its LAST claim
      // day and expires keys last claimed before the horizon (day 3)
      // — dead canonicals and texts stop pinning broadcast/bucket
      // budgets forever (Corpus.indexRetentionCompact). The ORACLE
      // restates claims + max-day fold + horizon from first
      // principles; RetentionSpec pins the law compact(all history,
      // h) ≡ the same fold over only the retained days.
      // the 4-wave history rides ONE gate pass (claims are per-page,
      // so slicing commutes with claiming — the per-day form unioned
      // over slices ran the regex extraction once per wave for the
      // same rows; spec-pinned equal)
      val claims = Corpus.webCorpusIndexClaimsWithDay(
        wcStandingPages(s, dir), dayCol = col("doc_id") % 4 + 1)
      Corpus.indexRetentionCompact(claims, horizonDay = 3L)
        .orderBy(col("kind"), col("key"))
    }),

    "q_quality_votes" -> ((s0, dir) => {
      val s = ensure(s0)
      // FineWeb-style majority-of-signals quality gate: four signals
      // each voted against its corpus median, keep = >= 3 of 4. All
      // arithmetic integer-or-single-division (bit-identical), medians
      // exact order statistics — no float-fold parity surface.
      Text.qualityVotes(
          Tables.documents(s, dir).select(col("doc_id"), col("text"))
            .repartition(fanN(s, dir)),
          stopwords = Seq("the", "a"))
        .orderBy(col("doc_id"))
    }),

    "q_sim_ivf_incremental" -> ((s0, dir) => {
      val s = ensure(s0)
      // IVF index MAINTENANCE (round-15 growth edge #3, the ANN twin
      // of q_dedup_incremental): the standing corpus reads PRE-ASSIGNED
      // from the cell-partitioned index store (built once per corpus
      // version at prepare — EntrySupport.ivfAssignedStore), the
      // planted batch (reversed +1M, exact copies +2M) assigns
      // map-side against the SAME frozen coarse quantizer, and the
      // multi-probe search runs over standing ∪ batch with no retrain
      // and no standing re-assignment. The ORACLE recomputes the whole
      // search from the centroid literals over the unioned corpus —
      // a hash match IS the maintenance ≡ rebuild-assignment law
      // cross-engine; IvfIncrementSpec pins it Spark-vs-Spark plus the
      // planted cos 1.0 copy hits.
      Sim.cosineTopKIvfIncrement(ivfAssignedStore(s, dir), ivfBatch(s, dir),
          pqModel(s, dir)._1, nQueries = 10, k = 5, nProbe = 2)
        .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    "q_quality_votes_approx" -> ((s0, dir) => {
      val s = ensure(s0)
      // the 100 TB deployment form of q_quality_votes: thresholds from
      // ONE mergeable approx_percentile pass (bounded state, no
      // full-sort percentile buffer), frozen as a 4-double model
      // (EntrySupport.qvApproxLocal), every doc gated map-side against
      // it — train-once/serve-forever, the spmModel/dsir contract. The
      // ORACLE embeds the same four literals and recomputes signals +
      // votes independently; QualityVotesSpec pins the approx
      // thresholds' rank error against the exact order statistic.
      Text.qualityVotesFrom(
          Tables.documents(s, dir).select(col("doc_id"), col("text"))
            .repartition(fanN(s, dir)),
          stopwords = Seq("the", "a"),
          medians = qvApproxLocal(s, dir))
        .orderBy(col("doc_id"))
    }),

    "q_lang_segments" -> ((s0, dir) => {
      val s = ensure(s0)
      import s.implicits._
      // multilingual document SPLITTING (CCNet's per-paragraph LID):
      // 8-token windows scored by the q_lang_id marker-profile argmax,
      // consecutive same-language windows collapsed to segment rows —
      // the per-segment routing table for per-language gates and
      // tokenizers. Planted docs pin the two-half split, the run
      // break, and the multi-chunk collapse through both engines.
      Text.langSegments(
          Tables.documents(s, dir).select(col("doc_id"), col("text"))
            .unionByName(langSegPlantedDocs.toDF("doc_id", "text"))
            .repartition(fanN(s, dir)),
          w = 8)
        .orderBy(col("doc_id"), col("seg_start"))
    }),

    "q_dsir_select" -> ((s0, dir) => {
      val s = ensure(s0)
      // the importance-RESAMPLING step: keep the 100 highest-weight
      // docs — an ordered take (TakeOrderedAndProject), which at any
      // scale moves only each task's local top-100 to the driver;
      // logw_r is integer-micro-nat-derived and therefore bit-identical
      // across engines (see dsirWeights), so the (logw_r DESC, doc_id)
      // order selects the identical set with no rounding involved.
      // Scoring runs against the MEMOIZED 256-row bucket-ratio model
      // (dsirWeightsFrom scaladoc — the frozen-model deployment shape:
      // one job instead of three; the in-plan twin q_dsir_weights keeps
      // the full train+score pipeline declared)
      Text.dsirWeightsFrom(
          Tables.documents(s, dir)
            .repartition(fanN(s, dir)),
          col("lang") === "en", buckets = 256,
          ratioRows = dsirRatioLocal(s, dir, 256))
        .orderBy(col("logw_r").desc, col("doc_id"))
        .limit(100)
    })
  )
}
