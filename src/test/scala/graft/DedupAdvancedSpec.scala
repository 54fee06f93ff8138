package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

/** Near-dup + multimodal operator semantics on hand-checkable fixtures. */
class DedupAdvancedSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today ok"), // near-dup of 1
    (3L, "completely different words entirely unrelated content here now"),
    (4L, "the quick brown fox jumps over the lazy dog today")     // exact dup of 1
  ).toDF("doc_id", "text")

  test("ngramJaccardPairs finds near and exact dups, not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(corpus, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("exact dup has Jaccard 1.0") {
    val j = Dedup.ngramJaccardPairs(corpus, 0.7)
      .filter($"a" === 1L && $"b" === 4L)
      .collect().head.getDouble(2)
    assert(j === 1.0)
  }

  test("minhash LSH candidates include every high-Jaccard pair") {
    val exact = Dedup.ngramJaccardPairs(corpus, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = Dedup.minhashLshCandidates(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(cands),
      s"missed: ${exact.diff(cands)}") // J≥0.9 with 16 hashes / 4 bands ⇒ P(miss) ≈ (1-0.9^4)^4 ≈ 0.2%... use identical docs: J=1 pairs can never be missed
  }

  test("minhash Jaccard estimate is 1.0 for identical docs, sane for near-dups") {
    val est = Dedup.minhashJaccardEstimates(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est((1L, 4L)) === 1.0) // exact dup: all 16 minhashes agree
    // near-dup (1,2): true J ≈ 0.9; with 16 hashes the estimate is
    // coarse but must be high
    est.get((1L, 2L)).foreach(e => assert(e >= 0.5))
  }

  test("simhash clusters identical token bags together") {
    val out = Dedup.simhashClusters(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(4L) === 1L)  // exact dup clusters to keeper 1
    assert(out(1L) === 1L)
    assert(out(3L) === 3L)  // unrelated doc is its own keeper
  }

  test("simhashBandStats: banding finds every hamming-<=k pair (pigeonhole recall)") {
    // brute-force popcount neighborhood over the fingerprints must
    // equal the banded result EXACTLY — bit-band LSH is an execution
    // strategy with 100% recall, not an approximation
    val toy = (0L until 40L)
      .map(i => (i, (0 until 6).map(j => s"tok${(i * 7 + j * j) % 13}").mkString(" ")))
      .toDF("doc_id", "text")
    // ... and the planted 4-clique corpus over many input partitions,
    // whose one-token tails flip a few near-tied bits per member
    for (docs <- Seq(toy, ScaleInvariantsSpec.textCorpus(spark, 1200L, 300L))) {
      val fps = Dedup.simhashFps(docs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val k = 2
      val expected = fps.keys.map { d =>
        val nbr = fps.keys.filter(o => o != d &&
          java.lang.Long.bitCount(fps(d) ^ fps(o)) <= k).toSeq
        d -> ((nbr.size.toLong, if (nbr.isEmpty) d else math.min(d, nbr.min)))
      }.toMap
      val got = Dedup.simhashBandStats(docs, k).collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(got === expected)
      CacheScope.flush()
    }
  }

  test("simhashBandStats at k=0 reproduces simhashClusters' keepers") {
    val cl = Dedup.simhashClusters(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    CacheScope.flush()
    val banded = Dedup.simhashBandStats(corpus, k = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(banded === cl)
    CacheScope.flush()
  }

  test("df-capped Jaccard equals the uncapped form when loose, never overestimates when tight") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "x1 x2 x3 x4 x5 x6 common common common"),
      (2L, "x1 x2 x3 x4 x5 x6 common common common"),
      (3L, "y1 y2 y3 common common common zz zz zz"),
      (4L, "unrelated words entirely different here now")
    ).toDF("doc_id", "text")
    val uncapped = graft.ops.Dedup.ngramJaccardPairs(corpus, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val loose = graft.ops.Dedup.ngramJaccardPairsCapped(corpus, 0.1, dfCap = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(loose === uncapped)
    assert(uncapped.contains((1L, 2L))) // the exact-dup pair is found
    val tight = graft.ops.Dedup.ngramJaccardPairsCapped(corpus, 0.0, dfCap = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // capped J never exceeds uncapped J for the same pair (sizes still
    // count capped shingles; only the overlap can shrink)
    tight.foreach { case (pair, j) => assert(j <= uncapped.getOrElse(pair, 1.0) + 1e-9) }
  }
}
