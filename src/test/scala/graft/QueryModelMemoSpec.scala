package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Corpus, EventOps, Relational, Sim}

/** Memo-fed ≡ collect-path parity for every operator that grew an
  * optional pre-collected query-model parameter: feeding the
  * EntrySupport memo back through the parameter must change ZERO
  * result rows versus the operator's own internal collect — the memo
  * exists only to make repeat constructs job-free, never to alter the
  * query. Each case runs the operator
  * both ways on the same sf0.001 fixtures and compares the full
  * result set row-for-row.
  */
class QueryModelMemoSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.embeddings(spark, dir)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("cosineTopKSq: pre-collected query slice is row-identical") {
    val a = Sim.cosineTopKSq(emb, nQueries = 10, k = 5, shortlist = 20)
    val b = Sim.cosineTopKSq(emb, nQueries = 10, k = 5, shortlist = 20,
      queryRows = Some(EntrySupport.embQueryLocal(spark, dir, 10)))
    assert(rows(a) === rows(b))
  }

  test("cosineTopKRp: pre-collected query slice is row-identical") {
    val a = Sim.cosineTopKRp(emb, nQueries = 10, k = 5, shortlist = 40)
    val b = Sim.cosineTopKRp(emb, nQueries = 10, k = 5, shortlist = 40,
      queryRows = Some(EntrySupport.embQueryLocal(spark, dir, 10)))
    assert(rows(a) === rows(b))
  }

  test("maxSimTopK: pre-collected token slice is row-identical") {
    val a = Sim.maxSimTopK(emb, groupEvery = 4, nQueryDocs = 5, k = 5)
    val b = Sim.maxSimTopK(emb, groupEvery = 4, nQueryDocs = 5, k = 5,
      queryRows = Some(EntrySupport.embQueryLocal(spark, dir, 20)))
    assert(rows(a) === rows(b))
  }

  test("knnLabelVote: pre-collected holdout is row-identical") {
    val a = Sim.knnLabelVote(emb, 10, 5)
    val b = Sim.knnLabelVote(emb, 10, 5,
      holdoutRows = Some(EntrySupport.embHoldoutLocal(spark, dir, 10)))
    assert(rows(a) === rows(b))
  }

  test("cosineTopKIvfFrom over the memoized first-nCells slice ≡ cosineTopKIvf") {
    val a = Sim.cosineTopKIvf(emb, nQueries = 10, k = 5, nCells = 8)
    val b = Sim.cosineTopKIvfFrom(emb,
      EntrySupport.embQueryLocal(spark, dir, 8), nQueries = 10, k = 5, nProbe = 1)
    assert(rows(a) === rows(b))
  }

  test("hnswTopK: pre-collected query slice is row-identical") {
    val base = emb.repartition(2)
    val a = graft.ops.Hnsw.hnswTopK(base, nQueries = 10, k = 5, m = 8,
      efConstruction = 64, efSearch = 512)
    val b = graft.ops.Hnsw.hnswTopK(base, nQueries = 10, k = 5, m = 8,
      efConstruction = 64, efSearch = 512,
      queryRows = Some(EntrySupport.embQueryLocal(spark, dir, 10)))
    assert(rows(a) === rows(b))
  }

  test("hnswTopKRouted: memoized routed query model is row-identical") {
    val cents = EntrySupport.pqModel(spark, dir)._1
    val a = graft.ops.Hnsw.hnswTopKRouted(emb, cents, nQueries = 10, k = 5,
      nProbe = 2, m = 8, efConstruction = 64, efSearch = 4096)
    val b = graft.ops.Hnsw.hnswTopKRouted(emb, cents, nQueries = 10, k = 5,
      nProbe = 2, m = 8, efConstruction = 64, efSearch = 4096,
      queryModel = Some(EntrySupport.hnswRoutedQueryLocal(spark, dir, 10, 2)))
    assert(rows(a) === rows(b))
  }

  test("ntileStats: knownSize probe skip is row-identical") {
    val orders = Tables.orders(spark, dir)
    val a = Relational.ntileStats(orders, "o_totalprice", "o_orderkey", n = 10)
    val b = Relational.ntileStats(orders, "o_totalprice", "o_orderkey", n = 10,
      knownSize = Some(EntrySupport.tableCountLocal(spark, dir, "orders")))
    assert(rows(a) === rows(b))
  }

  test("lengthBuckets: knownSize probe skip is row-identical") {
    val docs = Tables.documents(spark, dir)
    val a = Corpus.lengthBuckets(docs, 8)
    val b = Corpus.lengthBuckets(docs, 8,
      knownSize = Some(EntrySupport.tableCountLocal(spark, dir, "documents")))
    assert(rows(a) === rows(b))
  }

  test("rfmSegments: knownUsers probe skip is row-identical") {
    val events = Tables.events(spark, dir)
    val a = EventOps.rfmSegments(events, Tables.D2024_01_20_US)
    val b = EventOps.rfmSegments(events, Tables.D2024_01_20_US,
      knownUsers = Some(EntrySupport.rfmUserCountLocal(
        spark, dir, Tables.D2024_01_20_US)))
    assert(rows(a) === rows(b))
  }

  test("memoized counts match direct counts") {
    assert(EntrySupport.tableCountLocal(spark, dir, "orders") ===
      Tables.orders(spark, dir).count())
    assert(EntrySupport.rfmUserCountLocal(spark, dir, Tables.D2024_01_20_US) ===
      EventOps.rfmPerUser(Tables.events(spark, dir), Tables.D2024_01_20_US).count())
  }

  test("q_dsir_select's memoized ratio model equals the in-plan ratio") {
    import graft.ops.Text
    val docs = Tables.documents(spark, dir)
    val direct = Text.dsirRatio(docs, col("lang") === "en", 256).sorted
    assert(EntrySupport.dsirRatioLocal(spark, dir, 256).sorted === direct)
  }
}
