package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Multimodal, Sim}

/** Batch 20: MaxSim late interaction, perceptual-hash banding. (BM25
  * and reciprocal-rank fusion live in PostingStoreSpec; saltedJoin —
  * now also a declared query — keeps its own SaltedJoinSpec.)
  */
class Batch20OpsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- maxSimTopK --------------------------------------------------------

  test("maxSimTopK: a doc containing the query's tokens scores ~n_tokens") {
    // 4 vectors per doc; doc 0 = query. doc 1 (vec 4-7) repeats doc 0's
    // vectors exactly => every query token finds cos=1 => score 4.0.
    // doc 2 (vec 8-11) is orthogonal-ish.
    val vecs =
      (0 until 4).map(i => (i.toLong, Array.tabulate(8)(j => if (j == i) 1.0f else 0.0f), 0)) ++
      (4 until 8).map(i => (i.toLong, Array.tabulate(8)(j => if (j == i - 4) 1.0f else 0.0f), 0)) ++
      (8 until 12).map(i => (i.toLong, Array.tabulate(8)(j => if (j == 4 + (i - 8) % 4) 1.0f else 0.0f), 0))
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val out = Sim.maxSimTopK(emb, groupEvery = 4, nQueryDocs = 1, k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byDoc = out.map(t => t._1 -> t._2).toMap
    assert(byDoc(1L) === 4.0)     // exact token-set copy
    assert(byDoc(2L) === 0.0)     // orthogonal tokens: every max-cos is 0
    assert(out.find(_._3 == 1L).get._1 === 1L)
  }

  // ---- segmentTrim (batch 21) --------------------------------------------

  test("segmentTrim rewrites docs keeping first-occurrence segments in order") {
    val docs = Seq(
      (0L, "a b c d"),       // w=2: [a b][c d] — both first-seen
      (1L, "a b x y"),       // [a b] dup of doc 0; [x y] kept
      (2L, "a b c d")        // fully owned elsewhere -> empty
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.segmentTrim(docs, w = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(0L) === ((2L, "a b c d")))
    assert(out(1L) === ((1L, "x y")))
    assert(out(2L) === ((0L, "")))
  }

  test("segmentTrim + segmentDedup agree: kept = n_segs - n_dup") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(100)
      .select(col("doc_id"), col("text"))
    val trim = graft.ops.Dedup.segmentTrim(docs, w = 8)
      .select(col("doc_id"), col("n_kept"))
    val score = graft.ops.Dedup.segmentDedup(docs, w = 8)
      .select(col("doc_id"), (col("n_segs") - col("n_dup")).as("expect"))
    val off = trim.join(score, Seq("doc_id"))
      .filter(col("n_kept") =!= col("expect")).count()
    assert(off === 0L)
  }

  // ---- minhashEstimatorAudit (batch 21) ----------------------------------

  test("minhashEstimatorAudit: error stats within sampling-noise bounds") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val corpus = d.unionByName(
      d.select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" zz9 zz9")).as("text")))
    val r = graft.ops.Dedup.minhashEstimatorAudit(corpus).collect().head
    assert(r.getLong(0) > 0)                       // candidates exist
    assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 0.1) // est ~ true on average
    assert(r.getDouble(3) < 0.15)                  // MAE ~ sqrt(J(1-J)/16)
    CacheScope.flush()
  }

  // ---- PpmVideoCodec / decodeVideoFeatures (q_video_decode) --------------

  private def gray(v: Int) =
    Multimodal.PpmCodec.Image(2, 2, Array.fill(12)(v.toByte))

  test("PpmVideoCodec: stream round-trip; torn tail keeps the parsed prefix") {
    val bytes = Multimodal.PpmVideoCodec.encode(Seq(gray(10), gray(200), gray(10)))
    val (frames, trunc) = Multimodal.PpmVideoCodec.decodeStream(bytes)
    assert(frames.length === 3 && !trunc)
    assert(frames.map(f => f.rgb(0) & 0xff) === Seq(10, 200, 10))
    val (cut, truncCut) = Multimodal.PpmVideoCodec.decodeStream(bytes.dropRight(5))
    assert(cut.length === 2 && truncCut, "torn final frame quarantined, prefix kept")
  }

  test("decodeVideoFeatures counts shot boundaries across the luma threshold") {
    val calm = Multimodal.PpmVideoCodec.encode(Seq(gray(100), gray(120), gray(100)))
    val cuts = Multimodal.PpmVideoCodec.encode(Seq(gray(10), gray(200), gray(10)))
    val empty = Array[Byte](1, 2, 3)
    val media = Seq(
      Multimodal.MediaRow(0L, "video", calm, calm.length.toLong, "ppms"),
      Multimodal.MediaRow(1L, "video", cuts, cuts.length.toLong, "ppms"),
      Multimodal.MediaRow(2L, "video", empty, 3L, "ppms")
    ).toDS()
    val out = Multimodal.decodeVideoFeatures(media, sceneThreshold = 64.0)
      .collect().map(f => f.media_id -> f).toMap
    assert(out(0L).n_frames === 3 && out(0L).features(2) === 0.0) // 20-luma steps
    assert(out(1L).n_frames === 3 && out(1L).features(2) === 2.0) // two hard cuts
    // quarantined, but with the UNIFORM 3-element feature shape and
    // the truncated flag preserved (torn inside the first frame)
    assert(out(2L).n_frames === 0 &&
      out(2L).features.toSeq === Seq(1.0, 0.0, 0.0))
  }

  // ---- rfmSegments (q_rfm) -----------------------------------------------

  test("rfmSegments: equal-count bands, best-band assignment correct") {
    val anchor = 100L * 86400000000L
    val ev = (1 to 20).flatMap { u =>
      // user u: last event u days before anchor, u events, value u each
      (1 to u).map(i => (s"e$u-$i", u.toLong, anchor - u * 86400000000L - i, u.toDouble))
    }.toDF("event_id", "user_id", "ts_us", "value")
    val out = graft.ops.EventOps.rfmSegments(ev, anchor).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7)))).toMap
    // user 1: most recent, FEWEST events, least value -> R=1, F=5, M=5
    assert(out(1L) === ((1L, 5L, 5L, "1-5-5")))
    // user 20: most stale, most events, most value -> R=5, F=1, M=1
    assert(out(20L) === ((5L, 1L, 1L, "5-1-1")))
    // each band holds exactly 4 of the 20 users
    (1 to 5).foreach { b =>
      assert(out.values.count(_._1 == b) === 4, s"r_band $b size")
      assert(out.values.count(_._2 == b) === 4, s"f_band $b size")
    }
  }

  test("bandedNtile: scale path reproduces the window path exactly") {
    import graft.ops.Relational
    // 97 rows / 5 bands: N % n != 0 exercises the uneven-bucket
    // arithmetic; maxWindowRows = 0 forces the range-repartition path
    val df = (1 to 97).map(i => ((i * 37) % 101, i.toLong)).toDF("v", "id")
    val viaWindow = Relational.bandedNtile(
        df, 5, Seq(col("v"), col("id")), "b", maxWindowRows = Long.MaxValue)
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaRange = Relational.bandedNtile(
        df, 5, Seq(col("v"), col("id")), "b", maxWindowRows = 0)
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaRange === viaWindow)
    // and the even case (95 rows / 5 bands), plus fewer-rows-than-bands
    val even = (1 to 95).map(i => ((i * 37) % 101, i.toLong)).toDF("v", "id")
    assert(Relational.bandedNtile(even, 5, Seq(col("v"), col("id")), "b", 0)
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Relational.bandedNtile(even, 5, Seq(col("v"), col("id")), "b", Long.MaxValue)
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val tiny = (1 to 3).map(i => (i, i.toLong)).toDF("v", "id")
    assert(Relational.bandedNtile(tiny, 5, Seq(col("v"), col("id")), "b", 0)
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    CacheScope.flush()
  }

  test("rfmSegments bands identically through the scale path") {
    val anchor = 100L * 86400000000L
    val ev = (1 to 20).flatMap { u =>
      (1 to u).map(i => (s"e$u-$i", u.toLong, anchor - u * 86400000000L - i, u.toDouble))
    }.toDF("event_id", "user_id", "ts_us", "value")
    // shrink the window gate so all three RFM bandings take the
    // repartition path, and compare against the default (window) path
    val viaWindow = graft.ops.EventOps.rfmSegments(ev, anchor)
      .select("user_id", "segment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    CacheScope.flush()
    val out = try {
      graft.ops.Relational.testForceScaleNtile = true
      graft.ops.EventOps.rfmSegments(ev, anchor)
        .select("user_id", "segment").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    } finally graft.ops.Relational.testForceScaleNtile = false
    assert(out === viaWindow)
    CacheScope.flush()
  }

  test("scaleRowNumber caches once: one forced scale-path action adds one persisted RDD") {
    val df = (1 to 97).map(i => ((i * 37) % 101, i.toLong)).toDF("v", "id")
    val sc = spark.sparkContext
    CacheScope.flush()
    val before = sc.getPersistentRDDs.keySet
    try {
      graft.ops.Relational.testForceScaleNtile = true
      graft.ops.Relational.bandedNtile(df, 5, Seq(col("v"), col("id")), "b")
        .select("id", "b").collect()
    } finally graft.ops.Relational.testForceScaleNtile = false
    val added = sc.getPersistentRDDs.keySet -- before
    CacheScope.flush()
    assert(added.size === 1, s"persisted RDDs added: $added")
  }

  // ---- vadSegments (q_audio_vad) -----------------------------------------

  test("vadSegments merges consecutive speech windows into one segment") {
    // 5 windows of 100 samples: S S Q S Q -> 3 speech windows, 2 segments
    def block(loud: Boolean) =
      Array.tabulate(100)(i => if (!loud) 0.toShort
        else if (i % 8 < 4) 2000.toShort else (-2000).toShort)
    val samples = block(true) ++ block(true) ++ block(false) ++
      block(true) ++ block(false)
    val wav = Multimodal.WavCodec.encode(Multimodal.WavCodec.Audio(8000, 1, samples))
    val media = Seq(
      Multimodal.MediaRow(0L, "audio", wav, wav.length.toLong, "wav"),
      Multimodal.MediaRow(1L, "audio", wav.take(10), 10L, "wav")
    ).toDS()
    val out = Multimodal.vadSegments(media, windowSamples = 100, rmsThreshold = 0.001)
      .collect().map(v => v.media_id -> v).toMap
    assert(out(0L).n_windows === 5L && out(0L).n_speech === 3L)
    assert(out(0L).n_segments === 2L, "adjacent speech windows must merge")
    assert(math.abs(out(0L).speech_sec - 3 * 100.0 / 8000) < 1e-12)
    assert(out(1L).decoded === 0)
  }

  test("vadSegments bills a partial final speech window by actual samples") {
    // 100 + 40 samples, both speech: the 40-sample tail must count
    // 40/8000 s, not a full window's 100/8000 s
    val samples = Array.tabulate(140)(i =>
      if (i % 8 < 4) 2000.toShort else (-2000).toShort)
    val wav = Multimodal.WavCodec.encode(Multimodal.WavCodec.Audio(8000, 1, samples))
    val media = Seq(Multimodal.MediaRow(0L, "audio", wav, wav.length.toLong, "wav")).toDS()
    val v = Multimodal.vadSegments(media, windowSamples = 100, rmsThreshold = 0.001)
      .collect().head
    assert(v.n_windows === 2L && v.n_speech === 2L && v.n_segments === 1L)
    assert(math.abs(v.speech_sec - 140.0 / 8000) < 1e-12)
  }

  // ---- phashNearDupPairs -------------------------------------------------

  test("phashNearDupPairs: banding finds 0/1/2-bit pairs, far images never pair") {
    def hash(flips: Set[Int]): String =
      (0 until 64).map(i => if ((i % 2 == 0) != flips(i)) '1' else '0').mkString
    val hashes = Seq(
      (0L, 1, hash(Set.empty)),
      (1L, 1, hash(Set.empty)),        // identical to 0
      (2L, 1, hash(Set(5))),           // 1 bit from 0/1
      (3L, 1, (0 until 64).map(i => if (i < 32) '1' else '0').mkString), // far
      (4L, 0, null.asInstanceOf[String]) // quarantined
    ).toDF("media_id", "decoded", "ahash")
    val out = Multimodal.phashNearDupPairs(hashes, hashBits = 64, bands = 4,
        maxHamming = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(out((0L, 1L)) === ((4L, 0L)))  // all 4 bands, hamming 0
    assert(out((0L, 2L)) === ((3L, 1L)))  // flip hits 1 band
    assert(out((1L, 2L)) === ((3L, 1L)))
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }
}
