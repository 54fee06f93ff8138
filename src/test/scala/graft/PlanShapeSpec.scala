package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Corpus, Dedup, Relational}

/** Scale-regression guards on PHYSICAL PLAN SHAPE: these pin the
  * properties that make the operators survive 100 TB — which
  * correctness tests can't see (a single-partition global sort
  * produces the same rows, just doesn't scale). If a refactor
  * reintroduces the bad shape, these fail before any benchmark does.
  */
class PlanShapeSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private val docs = (0L until 500L)
    .map(i => (i, s"tok${i % 7} tok${(i * 3) % 11} tok${(i * 7) % 13} end"))
    .toDF("doc_id", "text")

  test("packSequences: per-shard windows, never a single-partition global sort") {
    val p = plan(Corpus.packSequences(docs, shardSize = 64, budget = 128))
    assert(!p.contains("SinglePartition"), s"global-sort window leaked into:\n$p")
    assert(p.contains("Window"), p)
  }

  test("shuffleShard: rank windows partition by shard, not global") {
    val p = plan(Corpus.shuffleShard(docs, nShards = 8))
    assert(!p.contains("SinglePartition"), s"global-sort window leaked into:\n$p")
  }

  test("asofJoin: exactly one key shuffle, no join-operator expansion") {
    val left = Seq((1L, 1L, 10L)).toDF("event_id", "user_id", "ts_us")
    val right = Seq((1L, 5L, 9L)).toDF("user_id", "ts_us", "event_id")
    val p = plan(Relational.asofJoin(left, right, "user_id", "ts_us", "event_id",
      Seq("ts_us", "event_id")))
    // the merge-asof form is union+window: any Join operator here means
    // someone rewrote it into the quadratic per-key expansion
    assert(!p.contains("Join"), s"asofJoin regressed to a join plan:\n$p")
    assert(p.contains("Union") && p.contains("Window"), p)
  }

  test("rangeJoinBinned: broadcast hash join on the bin key, no nested loop") {
    val facts = (0L until 100L).map(i => (i, i * 10L)).toDF("fact_id", "ts")
    val ivs = Seq((0L, 0L, 250L), (1L, 500L, 800L)).toDF("iv_id", "lo", "hi")
    val p = plan(Relational.rangeJoinBinned(facts, "ts", ivs, "lo", "hi", 100L))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to nested loop:\n$p")
  }

  test("htmlExtract stays shuffle-free (pure map-side — the 100TB scan→project contract)") {
    val pages = docs.select($"doc_id",
      concat(lit("<body><p>"), $"text", lit("</p></body>")).as("html"))
    val p = plan(Corpus.htmlExtract(pages))
    assert(!p.contains("Exchange"), s"the crawl front door must not shuffle:\n$p")
  }

  test("spmEncodeDocs: memo-fed seg joins back BROADCAST; the token stream never sort-merges") {
    val model = Seq("tok" -> 500L, "end" -> 700L, "t" -> 900L, "o" -> 900L,
      "k" -> 900L, "e" -> 900L, "n" -> 900L, "d" -> 900L, "0" -> 950L,
      "1" -> 950L, "2" -> 950L, "3" -> 950L, "4" -> 950L, "5" -> 950L,
      "6" -> 950L, "7" -> 950L, "8" -> 950L, "9" -> 950L)
    val segged = (0 until 7).map(i => s"tok$i") ++
      (0 until 11).map(i => s"tok${(i * 3) % 11}") ++
      (0 until 13).map(i => s"tok${(i * 7) % 13}") :+ "end"
    val rows = segged.distinct.sorted.map { w =>
      val ps = graft.ops.Text.spmViterbiLocal(w, model.toMap, 4)
      (w, ps.size.toLong,
        ps.map(p => model.toMap.getOrElse(p, graft.ops.Text.SpmUnkCostU6)).sum)
    }
    val p = plan(graft.ops.Text.spmEncodeDocs(docs, model, 4, Some(rows)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"vocab slice must broadcast:\n$p")
  }

  test("thetaSetOpsRaw: pair frame broadcasts; no key-universe self-join") {
    val gk = docs.select(($"doc_id" % 3).cast("string").as("g"),
      $"text".as("k"))
    val p = plan(graft.ops.Sketches.thetaSetOpsRaw(gk, "g", "k", k = 8))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"raw theta must never sort-merge:\n$p")
  }

  test("piiMask and gopherSignals stay shuffle-free (pure map-side)") {
    val masked = docs.select(Corpus.piiMask($"text"))
    assert(!plan(masked).contains("Exchange"), plan(masked))
    val gopher = Corpus.gopherSignals(docs)
    assert(!plan(gopher).contains("Exchange"), plan(gopher))
  }

  test("buildCorpus: exactly the two declared shuffles, none global") {
    val docs3 = docs.withColumn("lang", lit("en"))
    val p = plan(Corpus.buildCorpus(docs3, "lang", Map("en" -> 1.0), 64, 128))
    assert(!p.contains("SinglePartition"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"pipeline grew a third shuffle ($exchanges):\n$p")
  }

  test("weightedSample is a pushed-down filter, no shuffle") {
    val p = plan(Corpus.weightedSample(docs, "text", Map("x" -> 0.5)))
    assert(!p.contains("Exchange"), p)
  }

  test("chunkDocs and chunkPlan stay shuffle-free (planning is map-side)") {
    val pc = plan(Corpus.chunkDocs(docs, chunkSize = 10, overlap = 2))
    assert(!pc.contains("Exchange"), pc)
    val media = Seq((1L, 250L)).toDF("media_id", "n_bytes")
    val pm = plan(graft.ops.Multimodal.chunkPlan(media, 100L))
    assert(!pm.contains("Exchange"), pm)
  }

  test("lastTouchAttribution: one per-user window shuffle, never global") {
    val ev = Seq((1L, 10L, 100L, "click")).toDF("event_id", "user_id", "ts_us", "event_type")
    val p = plan(graft.ops.EventOps.lastTouchAttribution(
      ev, "ts_us", "event_type", "click", "purchase"))
    assert(!p.contains("SinglePartition"), s"attribution window went global:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"attribution grew a second shuffle ($exchanges):\n$p")
  }

  test("domainCap: rank window partitions by the domain key, not global") {
    val d = docs.withColumn("source", lit("s1")).withColumn("quality", lit(0.5))
    val p = plan(Corpus.domainCap(d, "source", "quality", cap = 10))
    assert(!p.contains("SinglePartition"), s"domainCap window went global:\n$p")
  }

  private val evB8 = (0L until 200L)
    .map(i => (i, i % 9, (i % 20) * 86400000000L + i))
    .toDF("event_id", "user_id", "ts_us")

  test("rollingDistinctDaily: equi-join shape, never a nested-loop inequality join") {
    val p = plan(Relational.rollingDistinctDaily(evB8, "user_id", "ts_us", 7))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"rolling distinct planned a nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("gapFillDaily: spine join carries aggregates, no nested loop") {
    val p = plan(Relational.gapFillDaily(evB8.withColumn("k", col("user_id").cast("string")),
      "k", "ts_us"))
    assert(!p.contains("BroadcastNestedLoopJoin"), s"gap fill planned a nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("forwardFill: one per-key window shuffle, never global") {
    val vals = evB8.withColumn("v",
      when(col("event_id") % 3 === 0, lit(null).cast("double")).otherwise(lit(1.0)))
    val p = plan(Relational.forwardFill(vals, "user_id", Seq("ts_us", "event_id"), "v"))
    assert(!p.contains("SinglePartition"), s"forwardFill window went global:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"forwardFill grew a second shuffle ($exchanges):\n$p")
  }

  // ---- batch 10/11 ----------------------------------------------------------

  test("trendPerGroup: algebraic aggregate with map-side partials, one shuffle") {
    val d = evB8.withColumn("x", col("ts_us") / 1e6).withColumn("y", col("event_id") * 2.0)
      .withColumn("g", col("user_id").cast("string"))
    val p = plan(Relational.trendPerGroup(d, "g", "x", "y"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"regression aggregates must shuffle once ($exchanges):\n$p")
    assert(p.contains("partial_regr_slope") || p.contains("HashAggregate"),
      s"no partial aggregation before the shuffle:\n$p")
  }

  test("madOutliers: one group-keyed exchange serves both stat windows, no join") {
    // r10 shape: med and MAD are stacked windows over ONE hash exchange
    // on the group key — the former two broadcast stat frames cost a
    // job launch each (exact percentile buffers per group either way)
    val d = evB8.withColumn("g", (col("user_id") % 3).cast("string"))
      .withColumn("v", col("event_id").cast("double"))
    val p = plan(Relational.madOutliers(d, "g", "v", 3.0))
    assert(!p.contains("Join"), s"stats must ride windows, not a join-back:\n$p")
    assert(!p.contains("SinglePartition"), s"stat window went global:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"madOutliers grew a second shuffle ($exchanges):\n$p")
  }

  test("ewma: one per-key window shuffle, never global") {
    val d = evB8.withColumn("v", col("event_id").cast("double"))
    val p = plan(Relational.ewma(d, "user_id", "ts_us", "event_id", "v", 0.5, 8))
    assert(!p.contains("SinglePartition"), s"ewma window went global:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"ewma grew a second shuffle ($exchanges):\n$p")
  }

  test("cooccurrence: self-join meets distinct-reduced sets, no cartesian") {
    val d = evB8.withColumn("day", lit("d1"))
      .withColumn("event_type", (col("event_id") % 4).cast("string"))
    val p = plan(graft.ops.EventOps.cooccurrence(
      d, Seq(col("user_id"), col("day")), "event_type"))
    assert(!p.contains("CartesianProduct"), s"co-occurrence went cartesian:\n$p")
    assert(p.contains("HashAggregate"), p)
    // Regression pin (round 6 → 7): the marginals row must come from
    // plain counts over the cached sets, NEVER a cube/count_distinct —
    // that formulation paid an Expand x2 plus a distinct-agg of every
    // (type, container) pair and measured 3x slower at sf0.1.
    assert(!p.contains("Expand"), s"co-occurrence marginals regrew a cube Expand:\n$p")
  }

  test("winsorize: percentile bounds broadcast back, no fact shuffle") {
    val d = evB8.withColumn("g", (col("user_id") % 3).cast("string"))
      .withColumn("v", col("event_id").cast("double"))
    val p = plan(Corpus.winsorize(d, "g", "v", 0.05, 0.95))
    assert(p.contains("BroadcastHashJoin"), s"bounds join-back must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact table shuffled for the bounds join:\n$p")
  }

  test("topKPerGroupTyped: partial aggregation BELOW the exchange (the state bound)") {
    val d = evB8.withColumn("g", (col("user_id") % 3).cast("string"))
      .withColumn("score", col("event_id").cast("double"))
    val p = plan(graft.ops.TopK.topKPerGroupTyped(d, "g", "score", "event_id", 5))
    val exIdx = p.indexOf("Exchange hashpartitioning")
    assert(exIdx >= 0, s"typed top-k lost its shuffle:\n$p")
    // an aggregate operator must appear AFTER the exchange in the plan
    // string (= physically BEFORE it): the map-side partial that caps
    // state at k per group per task. A flatMapGroups rewrite would
    // ship every row and silently lose the bound.
    val below = p.substring(exIdx)
    assert(below.contains("Aggregate") || below.contains("partial"),
      s"no map-side partial aggregation below the exchange:\n$p")
    assert(!p.contains("FlatMapGroups"), s"typed top-k degenerated to flatMapGroups:\n$p")
  }

  test("hyperplaneLshBuckets: pure projection, zero exchanges") {
    val emb = (0L until 50L)
      .map(i => (i, Array.tabulate(8)(j => (i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val p = plan(graft.ops.Sim.hyperplaneLshBuckets(emb, dim = 8, nPlanes = 4))
    assert(!p.contains("Exchange"), s"LSH bucketing grew a shuffle:\n$p")
  }

  test("seasonality: share window runs over the tiny cell table, post-aggregation") {
    val d = evB8
    val p = plan(graft.ops.EventOps.seasonality(d, "ts_us"))
    // the window must sit ABOVE the aggregation (cells), not over events
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < aggIdx,
      s"share window must consume the aggregated cells, not raw events:\n$p")
  }

  // Topmost join line of the plan string (the plan prints top-down, so
  // the first join is the singleton fold-in that decides whether the
  // CORPUS side shuffles).
  private def topJoinLine(df: DataFrame): String =
    plan(df).linesIterator
      .find(l => l.contains("Join") && !l.contains("BroadcastExchange"))
      .getOrElse("no-join")

  test("lshDedupKeepers: singleton fold-in is a broadcast left join — corpus never shuffles") {
    val top = topJoinLine(Dedup.lshDedupKeepers(docs, minJaccard = 0.7))
    assert(top.contains("BroadcastHashJoin") && top.contains("LeftOuter"),
      s"fold-in join regressed from broadcast-left: $top")
  }

  test("connectedComponentKeepers: label fold-in is a broadcast left join — corpus never shuffles") {
    // checkpointed labels have no catalog stats; without the explicit
    // hint the planner falls back to sort-merge and shuffles the corpus
    val top = topJoinLine(Dedup.connectedComponentKeepers(docs, minJaccard = 0.7))
    assert(top.contains("BroadcastHashJoin") && top.contains("LeftOuter"),
      s"fold-in join regressed from broadcast-left: $top")
  }

  test("semanticDedupKeepers: broadcast-left fold-in; ONE cell shuffle; map-side assignment") {
    val emb = (0L until 200L)
      .map(i => (i, Array.tabulate(8)(j => ((i % 5) * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val df = graft.ops.Sim.semanticDedupKeepers(
      emb, nCells = 4, iters = 2, sampleMod = 2, minCos = 0.9)
    val top = topJoinLine(df)
    assert(top.contains("BroadcastHashJoin") && top.contains("LeftOuter"),
      s"singleton fold-in regressed from broadcast-left: $top")
    // cell assignment is a map-side argmax over driver-resident
    // centroids: the only data-sized exchange in the whole plan is the
    // hash partition on `cell` for the within-cluster self-join (plus
    // the pair-side groupBy, which is dup-set-sized)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"),
      s"within-cell join or fold-in shuffled the corpus via sort-merge:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair search degenerated to all-pairs:\n$p")
  }

  test("cosineTopKIvfPq: queries broadcast into the candidate scan; corpus never sort-merges") {
    val emb = (0L until 200L)
      .map(i => (i, Array.tabulate(16)(j => ((i % 5) * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val df = graft.ops.Sim.cosineTopKIvfPq(
      emb, nQueries = 4, k = 3, nCells = 4, m = 4, ks = 8, iters = 2,
      sampleMod = 2, refine = 16)
    val p = plan(df)
    // both the cell-probe join and the refine rescore must broadcast
    // the tiny side (queries / shortlist); a sort-merge here means the
    // corpus shuffled for a model-sized join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"PQ search shuffled the corpus for a model-sized join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"PQ search degenerated to all-pairs:\n$p")
  }

  test("oovRate: the vocabulary joins back BROADCAST — the corpus token stream never sort-merges") {
    val p = plan(graft.ops.Text.oovRate(docs, 2L))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"vocab join shuffled the token stream:\n$p")
  }

  test("prototypicality: centroids broadcast; the vector table never sort-merges") {
    val emb = (0L until 100L)
      .map(i => (i, Array.tabulate(8)(j => (i % 5 + j).toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val p = plan(graft.ops.Sim.prototypicality(emb))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"centroid join shuffled the vector table:\n$p")
  }

  test("incrementalNewDocs: corpus side prunes to the hash projection before the join") {
    val corpus = docs
    val batch = docs.select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val df = graft.ops.Dedup.incrementalNewDocs(corpus, batch)
    val opt = df.queryExecution.optimizedPlan
    // find the index side (the aggregate over corpus hashes) and check
    // its output carries ONLY the 16-byte hash — doc_id/text pruned
    val joins = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty, opt.toString)
    val idxSide = joins.head.right
    assert(idxSide.output.map(_.name).forall(n => n == "h" || n == "in_corpus"),
      s"corpus index side leaked columns: ${idxSide.output.map(_.name)}")
  }

  test("winnow: one frame window per doc partition, never single-partition") {
    val p = plan(graft.ops.Text.winnow(docs, 3, 4))
    assert(!p.contains("SinglePartition"), s"doc-frame window went global:\n$p")
    assert(p.contains("Window"), p)
  }

  test("reservoirSample: TakeOrdered, never a global Sort+Limit pipeline") {
    val p = plan(Corpus.reservoirSample(docs, 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"reservoir sample lost the top-n heap form:\n$p")
  }

  test("hashedBowVectors / skipgramPairs: map-side hash then ONE aggregate exchange") {
    val pv = plan(graft.ops.Text.hashedBowVectors(docs, 64))
    assert(pv.contains("HashAggregate"), pv)
    assert(pv.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      s"feature hashing grew extra shuffles:\n$pv")
    val ps = plan(graft.ops.Text.skipgramPairs(docs, 2))
    assert(ps.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      s"skip-gram extraction grew extra shuffles:\n$ps")
  }

  test("repetitionSignals: doc-keyed join-back, no cartesian, map-side diversity/run") {
    val p = plan(graft.ops.Text.repetitionSignals(docs))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"repetition join-back lost its key:\n$p")
    assert(!p.contains("SinglePartition"), s"global exchange leaked into:\n$p")
  }

  test("interpolatedLogProb: ONE merged lookup broadcast, instance side never sort-merges") {
    val p = plan(graft.ops.Text.interpolatedLogProb(docs, 0.5))
    // r9: the unigram columns ride windows over the lookup frame, so
    // the plan carries exactly one broadcast lookup join (two separate
    // broadcasts would mean the sub-aggregate merge came back)
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") == 1,
      s"merged bigram/unigram lookup must be ONE broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"instance stream shuffled for a lookup join:\n$p")
    CacheScope.flush()
  }

  test("knBigramLogProb: ONE merged lookup broadcast; instance side never sort-merges") {
    val p = plan(graft.ops.Text.knBigramLogProb(docs, 0.75))
    // r9: continuation columns ride windows over the lookup frame —
    // exactly one broadcast lookup join (see interpolatedLogProb)
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") == 1,
      s"merged KN lookup must be ONE broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"instance stream shuffled for a lookup join:\n$p")
    CacheScope.flush()
  }

  test("segmentDedup: min-window on the segment partition — no join-back, never single-partition") {
    val p = plan(Dedup.segmentDedup(docs, w = 2))
    assert(!p.contains("Join"), s"first-occurrence became a join-back:\n$p")
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), s"global window leaked into:\n$p")
  }

  test("tfidfCosineTopK: df + query side broadcast; posting join never sort-merges") {
    val p = plan(graft.ops.Text.tfidfCosineTopK(docs, nQueries = 5, k = 3,
      dfCapFrac = 1.0))
    assert(!p.contains("SortMergeJoin"),
      s"posting-list join shuffled the corpus side:\n$p")
    assert(!p.contains("CartesianProduct"), s"pair join lost its token key:\n$p")
    // (SinglePartition DOES appear — the 1-row scalar nDocs aggregate,
    // same sanctioned shape as unigramLogProb's broadcast total)
    CacheScope.flush()
  }

  test("bm25TopK: df/stats/query side broadcast; posting join never sort-merges") {
    val p = plan(graft.ops.Text.bm25TopK(docs, nQueries = 5, k = 3))
    assert(!p.contains("SortMergeJoin"),
      s"posting-list join shuffled the corpus side:\n$p")
    assert(!p.contains("CartesianProduct"), s"pair join lost its token key:\n$p")
    CacheScope.flush()
  }

  test("maxSimTopK (kernel path): no vector-carrying pair join — scores fold map-side") {
    val emb = (0L until 64L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13).toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val p = plan(graft.ops.Sim.maxSimTopK(emb, groupEvery = 4, nQueryDocs = 2, k = 3))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"maxSim fell back to the BNLJ pair stream despite the kernel:\n$p")
    assert(p.contains("graft_all_cos"), p)
  }

  // Declared queries run against sf0.001 with its derived fixtures
  // (partitioned layouts, stores) materialized once for the whole spec.
  private val sf = "/root/testdata/sf0.001"
  private lazy val prepared: Unit =
    try SparkEntry.prepare(spark, sf) catch { case _: Throwable => () }
  private def queryPlan(name: String): String = {
    prepared
    try plan(SparkEntry.queries(name)(spark, sf)) finally CacheScope.flush()
  }

  for (q <- Seq("q_join_inner", "q_join_left"))
    test(s"$q: the dimension side broadcasts — the fact side never sort-merges") {
      val p = queryPlan(q)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), s"dimension join shuffled:\n$p")
    }

  test("q_prune_dates: the date range prunes partitions at the scan (PartitionFilters)") {
    val p = queryPlan("q_prune_dates")
    assert("PartitionFilters: \\[[^\\]]+\\]".r.findFirstIn(p).isDefined,
      s"no partition filter on the daily layout scan:\n$p")
  }

  test("q_topk: orderBy+limit plans TakeOrderedAndProject") {
    val p = queryPlan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("no declared query windows partition-less over an unbounded input") {
    // A Window with an empty partitionSpec funnels its whole input
    // through ONE task (only Dataset.orderBy range-partitions; window
    // sorts never do) — the classic scale-killer. Sweep every declared
    // query's analyzed plan; a partition-less window is legal ONLY on
    // the documented bounded inputs below.
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    val bounded: Map[String, String] = Map(
      // size-gated: bandedNtile takes the window path only when the
      // probed row count is ≤ NtileWindowMaxRows, else it
      // range-repartitions — the window here is bounded by the gate
      "q_ntile" -> "bandedNtile size gate",
      "q_length_buckets" -> "bandedNtile size gate",
      "q_rfm" -> "bandedNtile size gate",
      "q_ppl_band" -> "bandedNtile size gate",
      // vocabulary-sized inputs (Heaps' law): the window never sees
      // corpus-scale cardinality
      "q_zipf" -> "vocabulary-sized rank window",
      "q_bpe_pairs" -> "vocabulary-sized rank window",
      "q_lm_interp" -> "vocabulary-sized scalar-total frame",
      "q_kn_bigram" -> "vocabulary-sized scalar-total frame",
      // post-aggregation frames bounded by a group-count or model
      // argument documented at the operator site
      "q_minhash_error" -> "bounded candidate-pair audit frame",
      // r10 scalar-fan-back windows over collapsed frames (the
      // two-broadcast-build shape cost a job launch per scalar):
      "q_anomaly_days" -> "day-count-sized frame (calendar-bounded)",
      "q_json_keys" -> "JSON key-vocabulary-sized frame",
      "q_kl_sources" -> "source-count-sized per-source totals frame",
      "q_pmi" -> "bigram-vocabulary-sized frame (Heaps-bounded, zipf tier)",
      "q_unigram_logprob" -> "vocabulary-sized scalar-total frame",
      "q_ppl_buckets" -> "vocabulary-sized scalar-total frame",
      // r11: the rank window runs AFTER orderBy+limit(topK) cuts the
      // key frame to 20 rows (TakeOrderedAndProject does the
      // unbounded-scale work; Sketches.cmsHeavyHitters)
      "q_sketch_cms" -> "post-limit topK frame (20 rows)",
      // r12: the merged HDR bucket frame is ≤ ~8·64 rows at ANY value
      // cardinality (the sketch contract — Sketches.hdrMergedQuantiles)
      "q_sketch_hdr_merge" -> "bucket-vocabulary-sized merged frame (≤ ~520 rows)")
    prepared
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val analyzed: LogicalPlan =
        try fn(spark, sf).queryExecution.analyzed
        catch { case e: Throwable => fail(s"$name failed to build: $e") }
      val bare = analyzed.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      CacheScope.flush()
      if (bare.nonEmpty && !bounded.contains(name)) Seq(name) else Nil
    }
    assert(offenders.isEmpty,
      s"partition-less windows over undeclared inputs in: $offenders — " +
        "either partition the window, route through bandedNtile, or " +
        "document the bounded input in this allowlist")
  }

  test("cosineTopKSq: queries and shortlist broadcast back — candidates never shuffle") {
    val emb = (0L until 200L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13).toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val p = plan(graft.ops.Sim.cosineTopKSq(emb, nQueries = 4, k = 3, shortlist = 8))
    assert(!p.contains("SortMergeJoin"),
      s"candidate table shuffled for the refine join:\n$p")
    CacheScope.flush()
  }

  test("webCorpusIncrementFrom / webCorpusIndexDelta: index probes stay " +
      "BROADCAST — the standing side never enters a shuffled join") {
    val pages = docs.select($"doc_id",
      concat(lit("<html><head><title>t</title></head><body><p>"), $"text",
        lit("</p></body></html>")).as("html"))
    val (ci, ti) = Corpus.webCorpusIndexes(pages)
    val pInc = plan(Corpus.webCorpusIncrementFrom(ci, ti, pages))
    assert(!pInc.contains("SortMergeJoin") && !pInc.contains("ShuffledHashJoin"),
      s"index probe shuffled:\n$pInc")
    assert(pInc.contains("BroadcastHashJoin"), pInc)
    val pDelta = plan(Corpus.webCorpusIndexDelta(ci, ti, pages))
    assert(!pDelta.contains("SortMergeJoin") && !pDelta.contains("ShuffledHashJoin"),
      s"delta anti-join shuffled:\n$pDelta")
    assert(pDelta.contains("BroadcastHashJoin"), pDelta)
  }

  test("cosineTopKIvfIncrement: queries broadcast onto the cached " +
      "store ∪ batch union — candidates never sort-merge") {
    val emb = (0L until 100L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val cents: graft.ops.Sim.Centroids =
      (0L until 4L).map(c => (c, Array.tabulate(8)(j => (c * 2 + j).toDouble)))
    val batch = emb.filter($"vec_id" % 7 === 1)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    val p = plan(graft.ops.Sim.cosineTopKIvfIncrement(
      graft.ops.Sim.ivfAssign(emb, cents), batch, cents,
      nQueries = 4, k = 3, nProbe = 2))
    assert(!p.contains("SortMergeJoin"),
      s"candidates shuffled for the query join:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    CacheScope.flush()
  }

  test("incremental runOnce into parquet: one write query, the watermark bound " +
      "pushed into the sink scan, at most 3 jobs") {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.etl.{Incremental, Sinks}
    val base = java.nio.file.Files.createTempDirectory("graft-plan-inc").toString
    val (state, sink) = (s"$base/wm.txt", s"$base/sink")
    val keys = Seq("user_id", "event_type", "ts_us")
    // a file source: over an in-memory one the optimizer folds the
    // watermark filter into the rows, and no constraint is left to infer
    (1 to 60).map(i => (i % 7L, Seq("click", "view", "buy")(i % 3), 10L * i))
      .toDF("user_id", "event_type", "ts_us").write.parquet(s"$base/src")
    val events = spark.read.parquet(s"$base/src")
    Incremental.runOnceTo(spark, events.filter($"ts_us" <= 450L), "ts_us", keys, state, 0L,
      b => Sinks.upsertAppend(spark, b, sink, keys))
    // rolled back, as a crash after the sink commit leaves it: the sink
    // holds rows newer than the watermark, so AQE cannot drop the
    // anti-join for an empty sink side
    Incremental.writeWatermark(state, 300L)
    // the traced run: its jobs carry the group, and its write query
    // reaches the listener after its jobs (both on the shared queue)
    val sc = spark.sparkContext
    val group = s"plan-shape-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val writes = new LinkedBlockingQueue[QueryExecution]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val writeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[InsertIntoHadoopFsRelationCommand]) writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(writeListener)
    val (run, write) = try {
      sc.setJobGroup(group, "parquet runOnce")
      val r = try Incremental.runOnceTo(spark, events, "ts_us", keys, state, 0L,
        b => Sinks.upsertAppend(spark, b, sink, keys)).get
      finally sc.clearJobGroup()
      (r, writes.poll(60, TimeUnit.SECONDS))
    } finally {
      spark.listenerManager.unregister(writeListener)
      sc.removeSparkListener(jobListener)
    }
    assert(run === Incremental.RunResult(30L, 15L, 600L))
    assert(write != null, "the run's write query never reached the listener")
    assert(write.analyzed.collectFirst { case r: LogicalRDD => r }.isEmpty,
      s"the write reads a materialized batch:\n${write.analyzed}")
    val helper = new AdaptiveSparkPlanHelper {}
    val sinkFilters = helper.collectWithSubqueries(write.executedPlan) {
      case scan: FileSourceScanExec
          if scan.relation.location.rootPaths.exists(_.toUri.getPath.endsWith("/sink")) =>
        scan.metadata.getOrElse("PushedFilters", "")
    }
    assert(sinkFilters.nonEmpty, s"no sink scan in the write plan:\n${write.executedPlan}")
    assert(sinkFilters.forall(_.contains("GreaterThan(ts_us,300)")),
      s"the watermark bound is not pushed into the sink scan: $sinkFilters")
    assert(jobs.get <= 3, s"the run launched ${jobs.get} jobs")
  }

  // Every public op that owns a graft.plans kernel must reach it in a
  // session built WITHOUT spark.sql.extensions: the kernels are plain
  // Columns over their expressions, never resolved by name, so no
  // session can silently route an op onto a slower declarative twin.
  private lazy val kernelEmb = Tables.embeddings(spark, "/root/testdata/sf0.001")
  private lazy val kernelDocs = Tables.documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))
  private val kernelReach: Seq[(String, String, () => DataFrame)] = Seq(
    ("ivfAssign", "graft_cell_top", () => graft.ops.Sim.ivfAssign(kernelEmb,
      (0L until 4L).map(c => (c, Array.tabulate(64)(j => ((c * 5 + j) % 7).toDouble))))),
    ("knnLabelVote", "graft_all_cos", () => graft.ops.Sim.knnLabelVote(kernelEmb, 10, 5)),
    ("maxSimTopK", "graft_all_cos", () =>
      graft.ops.Sim.maxSimTopK(kernelEmb, groupEvery = 4, nQueryDocs = 2, k = 3)),
    ("cosineTopKSq", "graft_all_cos_i8", () =>
      graft.ops.Sim.cosineTopKSq(kernelEmb, nQueries = 4, k = 4, shortlist = 12)),
    ("cosineTopKIvfPq", "graft_pq_encode", () => graft.ops.Sim.cosineTopKIvfPq(kernelEmb,
      nQueries = 4, k = 3, nCells = 4, m = 8, ks = 4, iters = 2, nProbe = 2)),
    ("randomProjection", "graft_dot", () =>
      graft.ops.Sim.randomProjection(kernelEmb, inDim = 64, outDim = 16)),
    ("boilerplate", "graft_seghash", () => Corpus.boilerplate(kernelDocs, segLen = 5, minDocs = 2)),
    ("gopherSignals", "graft_gopher", () => Corpus.gopherSignals(kernelDocs)))

  for ((op, kernel, build) <- kernelReach) {
    test(s"kernel reach: $op runs $kernel in a session without spark.sql.extensions") {
      assert(spark.sparkContext.getConf.getOption("spark.sql.extensions").isEmpty &&
        spark.conf.getOption("spark.sql.extensions").isEmpty)
      val df = build()
      assert(df.collect().nonEmpty, s"$op returned no rows")
      val p = plan(df)
      assert(p.contains(kernel), s"$op did not run $kernel:\n$p")
      CacheScope.flush()
    }
  }
}
