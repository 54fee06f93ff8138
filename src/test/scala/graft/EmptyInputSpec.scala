package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Corpus, Dedup, Relational, Text}

/** Every operator must survive an EMPTY input frame — the situation a
  * real pipeline hits on the first run of the day, a fully-filtered
  * partition, or an empty incremental batch. A crash here is a 2 a.m.
  * page; the contract is zero rows out, never an exception.
  */
class EmptyInputSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emptyDocsLang = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")

  test("dedup pipeline ops on an empty corpus") {
    assert(Dedup.ngramJaccardPairs(emptyDocs, 0.7).count() === 0)
    assert(Dedup.minhashLshCandidates(emptyDocs).count() === 0)
    assert(Dedup.lshDedupKeepers(emptyDocs, 0.7).count() === 0)
    assert(Dedup.connectedComponentKeepers(emptyDocs, 0.7).count() === 0)
    assert(Dedup.simhashClusters(emptyDocs).count() === 0)
  }

  test("corpus assembly ops on an empty corpus") {
    assert(Corpus.packSequences(emptyDocs, 64, 2048).count() === 0)
    assert(Corpus.shuffleShard(emptyDocs, 8).count() === 0)
    assert(Corpus.gopherSignals(emptyDocs).count() === 0)
    assert(Corpus.decontaminate(emptyDocs, emptyDocs, 5).count() === 0)
    assert(Corpus.weightedSample(emptyDocsLang, "lang", Map("en" -> 1.0)).count() === 0)
    assert(Corpus.buildCorpus(emptyDocsLang, "lang", Map("en" -> 1.0), 64, 2048).count() === 0)
  }

  test("text ops on an empty corpus") {
    assert(Text.exactDedup(emptyDocs).count() === 0)
    assert(Text.tokenFrequencies(emptyDocs).count() === 0)
    assert(Text.heavyHitters(emptyDocs, 0.02).count() === 0)
  }

  test("round-5 ops on empty inputs") {
    assert(Text.bigramLogProb(emptyDocs).count() === 0)
    assert(Text.bpePairCounts(emptyDocs, 10).count() === 0)
    assert(Corpus.chunkDocs(emptyDocs, 200, 50).count() === 0)
    assert(Corpus.assignSplit(emptyDocs, Seq(("train", 0.9), ("test", 1.0))).count() === 0)
    val d = emptyDocsLang.withColumnRenamed("lang", "source").withColumn("quality", lit(0.0))
    assert(Corpus.domainCap(d, "source", "quality", 10).count() === 0)
    val ev = Seq.empty[(Long, Long, Long, String)]
      .toDF("event_id", "user_id", "ts_us", "event_type")
    assert(graft.ops.EventOps.lastTouchAttribution(
      ev, "ts_us", "event_type", "click", "purchase").count() === 0)
    val media = Seq.empty[(Long, Long)].toDF("media_id", "n_bytes")
    assert(graft.ops.Multimodal.chunkPlan(media, 100L).count() === 0)
    assert(Relational.ntileStats(
      Seq.empty[(Long, Double)].toDF("k", "v"), "v", "k", 10).count() === 0)
  }

  test("batch-8 ops on empty inputs") {
    val ev = Seq.empty[(Long, String, Long)].toDF("event_id", "k", "ts_us")
    assert(Relational.gapFillDaily(ev, "k", "ts_us").count() === 0)
    assert(Relational.rollingDistinctDaily(
      ev.withColumnRenamed("k", "user_id"), "user_id", "ts_us", 7).count() === 0)
    val vals = Seq.empty[(Long, String, Long, Option[Double])]
      .toDF("event_id", "k", "ord", "v")
    assert(Relational.forwardFill(vals, "k", Seq("ord"), "v").count() === 0)
    assert(Text.tokenEntropy(emptyDocs).count() === 0)
  }

  test("asof and range joins with both sides empty") {
    val l = Seq.empty[(Long, Long, Long)].toDF("event_id", "user_id", "ts_us")
    val r = Seq.empty[(Long, Long, Long)].toDF("user_id", "ts_us", "event_id")
    assert(Relational.asofJoin(l, r, "user_id", "ts_us", "event_id", Seq("event_id")).count() === 0)
    val ivs = Seq.empty[(Long, Long, Long)].toDF("iv_id", "lo", "hi")
    assert(Relational.rangeJoinBinned(l, "ts_us", ivs, "lo", "hi", 100L).count() === 0)
  }

  test("batch-10/11 ops on empty inputs") {
    import graft.ops.{EventOps, Mutations}
    val ev = Seq.empty[(Long, Long, Long, String, Double)]
      .toDF("event_id", "user_id", "ts_us", "event_type", "value")
    assert(Relational.trendPerGroup(
      ev.withColumn("x", col("ts_us") / 1e6), "event_type", "x", "value").count() === 0)
    assert(Relational.madOutliers(ev, "event_type", "value", 3.0).count() === 0)
    assert(Relational.ewma(ev, "user_id", "ts_us", "event_id", "value", 0.5, 8).count() === 0)
    assert(Relational.keySkewProfile(ev, "user_id", 20).count() === 0)
    assert(EventOps.transitionMatrix(ev, "ts_us", "event_type").count() === 0)
    assert(EventOps.cooccurrence(
      ev.withColumn("day", lit("d")), Seq(col("user_id"), col("day")), "event_type")
      .count() === 0)
    assert(EventOps.reconcile(ev, ev, "ts_us").count() === 0)
    assert(EventOps.seasonality(ev, "ts_us").count() === 0)
    assert(EventOps.jsonKeyProfile(ev.select(col("event_type").as("raw")), "raw").count() === 0)
    // abTest's single summary row exists even over nothing — all cells zero
    val ab = EventOps.abTest(ev, col("event_type") === "x").collect()
    assert(ab.length === 1 && ab.head.getLong(0) === 0L)
    val snap = Seq.empty[(Long, Long)].toDF("k", "n")
    assert(Mutations.snapshotDiff(snap, snap, Seq("k"), Seq("n")).count() === 0)
    assert(Corpus.lengthBand(emptyDocsLang.withColumn("n_chars", lit(1L)),
      "lang", "n_chars", 0.05, 0.95).count() === 0)
    assert(Corpus.winsorize(ev, "event_type", "value", 0.05, 0.95).count() === 0)
    assert(Corpus.boilerplate(emptyDocs, 5, 2).count() === 0)
  }

  test("batch-18 and media ops on empty inputs") {
    assert(Text.repetitionSignals(emptyDocs).count() === 0)
    assert(Text.interpolatedLogProb(emptyDocs, 0.7).count() === 0)
    val emptyEmb = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(graft.ops.Sim.clusterPurity(emptyEmb, 4, 2, 1).count() === 0)
    val emptyMedia = spark.emptyDataset[graft.ops.Multimodal.MediaRow]
    assert(graft.ops.Multimodal.decodePpmFeatures(emptyMedia).count() === 0)
    assert(graft.ops.Multimodal.decodeWavFeatures(emptyMedia).count() === 0)
  }

  test("round-9 ops on empty inputs") {
    assert(Dedup.exactSubstrSpans(emptyDocs, 8).count() === 0)
    assert(Dedup.exactSubstrTrim(emptyDocs, 8).count() === 0)
    val emptyMedia = spark.emptyDataset[graft.ops.Multimodal.MediaRow]
    assert(graft.ops.Jpeg.decodeJpegFeatures(emptyMedia).count() === 0)
    val emptyFrame = Seq.empty[(Long, Array[Long], Long, Array[Long])]
      .toDF("doc_id", "hs", "sz", "minhashes")
    assert(Dedup.minhashLshCandidatesFromFrame(emptyFrame).count() === 0)
    assert(Dedup.ngramJaccardPairsFromFrame(emptyFrame, 0.7).count() === 0)
    assert(Dedup.verifiedNearDupPairsFromFrame(emptyFrame, 0.7).count() === 0)
    assert(Dedup.lshDedupKeepersFromFrame(emptyFrame, 0.7).count() === 0)
    assert(Dedup.ngramNoveltyFromFrame(emptyFrame).count() === 0)
    assert(Dedup.minhashEstimatorAuditFromFrame(emptyFrame).count() === 1,
      "the audit is a single summary row even over zero pairs")
    val emptyFps = Seq.empty[(Long, Long)].toDF("doc_id", "fp")
    assert(Dedup.simhashClustersFromFps(emptyFps).count() === 0)
    assert(Dedup.simhashBandStatsFromFps(emptyFps, 2).count() === 0)
    assert(Text.hybridRrfTopK(emptyDocs, 5, 10, 5, 0.85).count() === 0)
    assert(Text.bigramLogProbFrom(
      Seq.empty[(Long, String, String, Long)].toDF("doc_id", "prev", "next", "c"))
      .count() === 0)
  }

  test("round-10 ops on empty inputs") {
    val emptyMedia = spark.emptyDataset[graft.ops.Multimodal.MediaRow]
    assert(graft.ops.Png.decodePngFeatures(emptyMedia).count() === 0)
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.ops.Hnsw.hnswTopK(emptyEmb, nQueries = 4, k = 3).count() === 0)
    assert(graft.ops.Hnsw.hnswTopKRouted(emptyEmb,
      Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))),
      nQueries = 4, k = 3, nProbe = 2).count() === 0)
    // memo-fed knnLabelVote on an empty table: an EMPTY pre-collected
    // holdout slice must behave like the internal collect path (zero
    // rows out, no require failure) — the memo-vs-collect divergence
    // flagged in round-13 ADVICE
    val emptyEmbLabeled =
      Seq.empty[(Long, Int, Array[Float])].toDF("vec_id", "label", "embedding")
    assert(graft.ops.Sim.knnLabelVote(emptyEmbLabeled, 10, 3).count() === 0)
    assert(graft.ops.Sim.knnLabelVote(emptyEmbLabeled, 10, 3,
      holdoutRows = Some(Seq.empty)).count() === 0)
    // ...but an empty slice against a NON-empty table is a stale memo
    // and must raise IN-PLAN, not silently return zero rows (the
    // round-14 ADVICE loud-validation item)
    val oneHoldout = Seq((10L, 1, Array(1.0f, 0.0f)), (11L, 0, Array(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val thrown = intercept[Exception] {
      graft.ops.Sim.knnLabelVote(oneHoldout, 10, 3,
        holdoutRows = Some(Seq.empty)).count()
    }
    assert(thrown.getMessage != null)
    // hnswTopK rejects a DUPLICATE-id query slice loudly (API hardening
    // from the same ADVICE item)
    intercept[IllegalArgumentException] {
      graft.ops.Hnsw.hnswTopK(emptyEmb, nQueries = 4, k = 3,
        queryRows = Some(Seq((1L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))))
    }
    // scoring an empty corpus with pre-trained weights is the real
    // first-run-of-the-day case (training on empty is a config error)
    assert(Text.qualityScoreFrom(
      Seq.empty[(Long, String, Int)].toDF("doc_id", "text", "label"),
      256, Array.fill(256)(0.0), 0.0).count() === 0)
  }

  test("round-11 sketch ops on empty inputs") {
    import graft.ops.Sketches
    val emptyGk = Seq.empty[(String, String)].toDF("g", "k")
    val emptyGv = Seq.empty[(String, Double)].toDF("g", "v")
    assert(Sketches.hllDistinct(emptyGk, "g", "k").count() === 0)
    assert(Sketches.hllOverlap(emptyGk, "g", "k").count() === 0)
    assert(Sketches.cmsHeavyHitters(emptyGk, "k", topK = 5).count() === 0)
    assert(Sketches.hdrQuantiles(emptyGv, "g", "v", Seq(0.5)).count() === 0)
    val emptyKeyed = Seq.empty[(Long, String)].toDF("event_id", "bk0")
    // empty history: every batch row is definitely-new (no bits set)
    val rows = Seq((1L, "a"), (2L, "b")).toDF("event_id", "bk0")
    val out = Sketches.bloomDedupFlags(emptyKeyed, rows, col("bk0"), "event_id",
        m = Sketches.bloomBits(16))
      .collect().map(r => (r.getBoolean(1), r.getBoolean(2)))
    assert(out.length === 2 && out.forall(t => !t._1 && !t._2))
    // empty batch against a real history
    assert(Sketches.bloomDedupFlags(rows, emptyKeyed, col("bk0"), "event_id",
        m = Sketches.bloomBits(16)).count() === 0)
  }

  test("round-12 register-only sketch ops on empty inputs") {
    import graft.ops.Sketches
    val emptyGk = Seq.empty[(String, String)].toDF("g", "k")
    assert(Sketches.hllRegistersOnly(emptyGk, "g", "k").count() === 0)
    assert(Sketches.cmsCountersFromRaw(emptyGk, "k").count() === 0)
  }

  test("round-12 dp / minhash-group / projection ops on empty inputs") {
    import graft.ops.{Relational, Sketches, Sim}
    val emptyGk = Seq.empty[(String, String)].toDF("g", "k")
    assert(Relational.dpNoisedCounts(emptyGk, Seq("g"), epsilon = 1.0).count() === 0)
    assert(Sketches.minhashGroupJaccard(emptyGk, "g", "k").count() === 0)
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Sim.randomProjection(emptyVecs, 64, 16).count() === 0)
    val emptyGv = Seq.empty[(String, Double)].toDF("g", "v")
    assert(Relational.dpNoisedSum(emptyGv, Seq("g"), "v", 100.0, 1.0).count() === 0)
    // merged HDR over nothing: no buckets, the final agg emits one
    // all-NULL row at most — accept 0 or 1 rows with NULL quantiles
    val hm = Sketches.hdrMergedQuantiles(emptyGv, "g", "v", Seq(0.5)).collect()
    assert(hm.isEmpty || (hm.length === 1 && hm.head.isNullAt(1)))
    assert(Sim.cosineTopKRp(emptyVecs, nQueries = 2, k = 2, shortlist = 4).count() === 0)
  }

  test("round-13 ops on empty inputs") {
    assert(Text.dsirWeights(emptyDocsLang, col("lang") === "en", 256).count() === 0)
    assert(Text.bpeFertilityByLang(emptyDocsLang, Seq(("a", "b"))).count() === 0)
  }

  test("round-16 ops on empty inputs") {
    // the median MODEL on an empty (or all-untokened) corpus is
    // undefined — the contract is a LOUD raise, not an NPE
    val e1 = intercept[IllegalArgumentException] {
      Text.qualityVotesMedians(emptyDocs, Seq("the"))
    }
    assert(e1.getMessage.contains("no tokened documents"))
    val e2 = intercept[IllegalArgumentException] {
      Text.qualityVotesMedians(Seq((1L, ""), (2L, " ")).toDF("doc_id", "text"),
        Seq("the"))
    }
    assert(e2.getMessage.contains("no tokened documents"))
    // the SCORING forms stay zero-rows-out on empties (gate semantics)
    assert(Text.qualityVotes(emptyDocs, Seq("the")).count() === 0)
    assert(Text.qualityVotesFrom(emptyDocs, Seq("the"),
      (1.0, 0.5, 0.1, 0.1)).count() === 0)
    // incremental web-corpus: empty batch, empty standing, both
    val pages = Seq((1L, "<html><head><title>t</title></head><body>" +
      "<p>w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12</p></body></html>"))
      .toDF("doc_id", "html")
    val emptyPages = Seq.empty[(Long, String)].toDF("doc_id", "html")
    assert(Corpus.webCorpusIncrement(pages, emptyPages).count() === 0)
    assert(Corpus.webCorpusIncrement(emptyPages, pages).count() === 1)
    val (ci, ti) = Corpus.webCorpusIndexes(emptyPages)
    assert(ci.count() === 0 && ti.count() === 0)
    assert(Corpus.webCorpusIncrementFrom(ci, ti, emptyPages).count() === 0)
  }
}
