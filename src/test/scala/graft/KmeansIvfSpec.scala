package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Sim

/** ANN quality contracts: approximate search is graded by RECALL
  * against the brute-force [[Sim.cosineTopK]] ground truth, not by
  * oracle SQL — k-means in SQL isn't worth mirroring, and recall is
  * the property a user of an ANN index actually relies on.
  *
  * Measured on a CLUSTERED fixture (8 Gaussian blobs in 64d), not the
  * testdata embeddings: those are isotropic random vectors (verified:
  * same-label and cross-label cosine both ≈ 0.00), where neighbours
  * are noise extremes and ANY sub-linear index has recall ≈ its scan
  * fraction — no algorithm distinguishes itself on structureless
  * data. Blobs are what IVF exists for (and what real embedding
  * corpora look like).
  */
class KmeansIvfSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  private val nQ = 10
  private val k = 5

  /** 8 blobs × 60 points, 64-dim, radius 0.15 around unit-ish centers.
    * vec_ids interleave clusters (id % 8 = blob) so the nQ queries span
    * 8 distinct blobs. Seeded — the fixture (and so every assertion
    * below) is deterministic.
    */
  private lazy val emb = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian()))
    val rows = (0 until 480).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat))
    }
    rows.toDF("vec_id", "embedding")
  }

  private lazy val truth: Set[(Long, Long)] =
    Sim.cosineTopK(emb, nQueries = nQ, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recall(found: Array[(Long, Long)]): Double =
    truth.intersect(found.toSet).size.toDouble / truth.size

  test("trained IVF (k-means, nProbe=2) reaches recall@5 >= 0.9 scanning ~1/4 of the corpus") {
    val out = Sim.cosineTopKIvfKmeans(emb,
      nQueries = nQ, k = k, nCells = 8, iters = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val r = recall(out)
    assert(r >= 0.9, s"recall@$k = $r")
  }

  test("bounded-sample training (sampleMod=2, the bench configuration) keeps recall@5 >= 0.9") {
    val out = Sim.cosineTopKIvfKmeans(emb,
      nQueries = nQ, k = k, nCells = 8, iters = 4, nProbe = 2, sampleMod = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val r = recall(out)
    assert(r >= 0.9, s"recall@$k = $r")
  }

  test("k-means training finds the blobs: every blob ends as a non-empty cell") {
    val cents = Sim.kmeansCentroidsSampledLocal(emb, k = 8, iters = 4, sampleMod = 1)
    assert(cents.size === 8)
    // trained centroids must be distinct directions (untrained collapse
    // would leave duplicates / stale inits)
    val dirs = cents.map { case (_, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => math.round(x / n * 100) / 100.0).toSeq
    }
    assert(dirs.distinct.size === 8)
  }

  test("IVF-PQ pure ADC preserves CLUSTER structure: top-5 stays in the query's blob") {
    // 32-bit codes (m=8 × 4 bits) cannot rank WITHIN a tight blob —
    // every member reconstructs to ~the blob center, cos_r ties to
    // 4dp, and the id tiebreak decides (exact-neighbor recall ~0.2,
    // measured). What codes DO preserve is which cluster a candidate
    // belongs to; that is the property pure ADC is used for, so that
    // is what this pins.
    val out = Sim.cosineTopKIvfPq(emb,
      nQueries = nQ, k = k, nCells = 8, m = 8, ks = 16, iters = 4,
      nProbe = 2, sampleMod = 2).collect()
    val inBlob = out.count(r => r.getLong(1) % 8 === r.getLong(0) % 8)
    val frac = inBlob.toDouble / out.length
    assert(frac >= 0.9, s"cluster-level recall = $frac")
  }

  test("IVF-PQ + full-precision refine (shortlist 64) recovers exact recall@5 >= 0.9") {
    // The production two-stage shape: codes shortlist (cheap, m bytes
    // per candidate), full vectors rescore only the shortlist. With
    // the shortlist sized to the blob, exact ranking comes back.
    val out = Sim.cosineTopKIvfPq(emb,
      nQueries = nQ, k = k, nCells = 8, m = 8, ks = 16, iters = 4,
      nProbe = 2, sampleMod = 2, refine = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val r = recall(out)
    assert(r >= 0.9, s"refined PQ recall@$k = $r")
    info(f"IVF-PQ+refine recall@$k = $r%.2f")
  }

  test("PQ model shapes: m codebooks of ks reproduction vectors, dim/m wide") {
    val (cents, cbs) = Sim.pqTrainLocal(emb, nCells = 8, m = 8, ks = 16,
      iters = 2, sampleMod = 2)
    assert(cents.size === 8)
    assert(cbs.size === 8)
    assert(cbs.forall(_.size === 16))
    assert(cbs.forall(_.forall(_.length === 8)))
    // codebooks must actually differentiate (no stale-init collapse)
    assert(cbs.forall(cbj => cbj.map(_.toSeq).distinct.size > 1))
  }
}
