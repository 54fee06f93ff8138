package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Sim, Text}

/** §7.5 extension semantics on hand-checkable fixtures. */
class TextSimSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("tokenFrequencies counts whitespace tokens, ignores empties") {
    val docs = Seq((0L, "a b a"), (1L, "b  c")).toDF("doc_id", "text")
    val freq = Text.tokenFrequencies(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(freq === Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
  }

  test("exactDedup groups identical content, keeps smallest id") {
    val docs = Seq((5L, "same"), (2L, "same"), (9L, "other"))
      .toDF("doc_id", "text")
    val out = Text.exactDedup(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(2L -> 2L, 9L -> 1L))
  }

  test("heavyHitters finds tokens above the support threshold") {
    val docs = Seq(
      (0L, "spam spam spam spam a"),
      (1L, "spam spam spam b c")
    ).toDF("doc_id", "text")
    // 10 tokens total, 'spam' = 7 → share 0.7
    val hh = Text.heavyHitters(docs, support = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(hh.toSeq === Seq(("spam", 7L, 0.7)))
  }

  test("dot and cosine behave on known vectors") {
    val df = Seq(
      (0, Array(1.0, 0.0), Array(1.0, 0.0)),   // identical → cos 1
      (1, Array(1.0, 0.0), Array(0.0, 1.0)),   // orthogonal → cos 0
      (2, Array(1.0, 1.0), Array(2.0, 2.0))    // parallel → cos 1
    ).toDF("id", "a", "b")
    val out = df.select(
      col("id"),
      round(Sim.dot(col("a"), col("b")) / (Sim.norm(col("a")) * Sim.norm(col("b"))), 6).as("cos"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(out === Map(0 -> 1.0, 1 -> 0.0, 2 -> 1.0))
  }

  test("hyperplane LSH: identical vectors share a bucket, opposites never do") {
    val rnd = new scala.util.Random(3)
    val base = Array.fill(8)(rnd.nextGaussian().toFloat)
    val emb = Seq(
      (0L, base),
      (1L, base.clone()),          // identical → same bucket, always
      (2L, base.map(x => -x))      // antipodal → differs on every plane with |dot|>0
    ).toDF("vec_id", "embedding")
    val buckets = Sim.hyperplaneLshBuckets(emb, dim = 8, nPlanes = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(buckets(0L) === buckets(1L))
    assert(buckets(0L) !== buckets(2L))
    // deterministic across invocations
    val again = Sim.hyperplaneLshBuckets(emb, dim = 8, nPlanes = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again === buckets)
  }

  test("cosineTopK returns k ranked neighbours per query") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (10L, Array(1.0f, 0.05f)),
      (11L, Array(0.0f, 1.0f)),
      (12L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    // queries = vec_id < 2 (ids 0 and 1); k = 2
    val out = Sim.cosineTopK(emb, nQueries = 2, k = 2)
      .select("q_id", "c_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // for q=0: best is 10 (nearly parallel), then 1
    assert(out.contains((0L, 10L, 1L)))
    assert(out.contains((0L, 1L, 2L)))
    // every query got exactly k rows
    assert(out.count(_._1 == 0L) === 2)
    assert(out.count(_._1 == 1L) === 2)
  }

  test("bpeApply: merges apply in rank order, lowest rank first") {
    // merges: (l,o)->"lo" rank 0, (lo,w)->"low" rank 1, (e,r)->"er" rank 2
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    val docs = Seq((1L, "lower low wide")).toDF("doc_id", "text")
    val out = Text.bpeApply(docs, merges).collect().head
    assert(out.getLong(1) === 7L)
    assert(out.getSeq[String](2) === Seq(
      "low", "er",          // l+o -> lo (rank 0 first), lo+w, then e+r
      "low",                // whole word becomes one token
      "w", "i", "d", "e"))  // no applicable merges -> characters
  }

  test("bpeApply: rank order matters — a lower-rank merge can block a higher one") {
    // word "abc": with (b,c) rank 0, a stays alone: a | bc
    // with (a,b) rank 0 instead: ab | c
    val docs = Seq((1L, "abc")).toDF("doc_id", "text")
    val bcFirst = Text.bpeApply(docs, Seq(("b", "c"), ("a", "b"))).collect().head
    assert(bcFirst.getSeq[String](2) === Seq("a", "bc"))
    val abFirst = Text.bpeApply(docs, Seq(("a", "b"), ("b", "c"))).collect().head
    assert(abFirst.getSeq[String](2) === Seq("ab", "c"))
  }

  test("bpeApply: empty merge list = character tokenization; empty corpus survives") {
    val docs = Seq((1L, "hi yo")).toDF("doc_id", "text")
    val out = Text.bpeApply(docs, Seq.empty).collect().head
    assert(out.getSeq[String](2) === Seq("h", "i", "y", "o"))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Text.bpeApply(empty, Seq(("a", "b"))).count() === 0)
  }

  test("bigramLogProb: count-weighted type fold equals the per-instance average") {
    // "a a a b" → bigrams (a,a)×2, (a,b); "a b a b" → (a,b)×2, (b,a).
    // Repeated bigrams within a doc are exactly where the collapsed
    // (doc, bigram, count) algebra could diverge from a per-instance
    // avg — pin the hand-computed instance math.
    val docs = Seq((1L, "a a a b"), (2L, "a b a b")).toDF("doc_id", "text")
    // corpus type counts: (a,a)=2 (a,b)=3 (b,a)=1; context totals: a=5, b=1
    val pAA = math.log(2.0 / 5.0); val pAB = math.log(3.0 / 5.0)
    val pBA = math.log(1.0 / 1.0)
    val exp = Map(
      1L -> (3L, BigDecimal((pAA * 2 + pAB) / 3).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble),
      2L -> (3L, BigDecimal((pAB * 2 + pBA) / 3).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    val got = Text.bigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === exp)
  }
}
