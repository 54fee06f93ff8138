package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Sim

/** IVF index-maintenance laws: adding a batch through
  * [[graft.ops.Sim.cosineTopKIvfIncrement]] (standing pre-assigned
  * from the materialized store + map-side batch assignment under the
  * FROZEN coarse quantizer) must equal re-running
  * [[graft.ops.Sim.cosineTopKIvfFrom]] over the unioned raw
  * embeddings with the same model — assignment is a pure per-row
  * function of (vector, centroids), so maintenance loses nothing vs
  * assigning the world fresh. Plus the planted-copy ranking law and
  * the empty-batch degenerate case.
  */
class IvfIncrementSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def cents = EntrySupport.pqModel(spark, dir)._1

  test("increment ≡ frozen-model rebuild over the unioned corpus; " +
      "store round-trip loses nothing") {
    val emb = Tables.embeddings(spark, dir)
    val batch = EntrySupport.ivfBatch(spark, dir)
    val inc = Sim.cosineTopKIvfIncrement(
        EntrySupport.ivfAssignedStore(spark, dir), batch, cents,
        nQueries = 10, k = 5, nProbe = 2)
      .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
      .collect().map(_.toString).sorted.toSeq
    val rebuild = Sim.cosineTopKIvfFrom(
        emb.select(col("vec_id"), col("embedding"))
          .unionByName(batch), cents, nQueries = 10, k = 5, nProbe = 2)
      .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
      .collect().map(_.toString).sorted.toSeq
    assert(inc === rebuild)
    assert(inc.nonEmpty)

    // the planted lattice over many input partitions, under its own
    // frozen model: its small-id vectors are near-collinear, so rank-1
    // ties at cos 1.0 resolve by c_id on both sides
    val (lat, latCents, latBatch) = ScaleInvariantsSpec.latticeIncrement(spark)
    val storeDir = java.nio.file.Files.createTempDirectory("graft-ivf-lattice").toString
    Sim.ivfAssign(lat, latCents).write.mode("overwrite").partitionBy("cell").parquet(storeDir)
    val latInc = Sim.cosineTopKIvfIncrement(spark.read.parquet(storeDir), latBatch, latCents,
        nQueries = 10, k = 5, nProbe = 4)
      .collect().map(_.toString).sorted.toSeq
    val latRebuild = Sim.cosineTopKIvfFrom(lat.unionByName(latBatch), latCents,
        nQueries = 10, k = 5, nProbe = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(latInc === latRebuild && latInc.size === 50)
  }

  test("a planted exact copy is its original's top hit at cos 1.0") {
    val top = Sim.cosineTopKIvfIncrement(
        EntrySupport.ivfAssignedStore(spark, dir),
        EntrySupport.ivfBatch(spark, dir), cents,
        nQueries = 10, k = 5, nProbe = 2)
      .filter(col("rnk") === 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // queries 1 and 6 (vec_id % 5 == 1) have exact copies at +2M; a
    // copy shares its original's cell exactly (same argmax input), so
    // multi-probe search must surface it as the top hit at cos 1.0
    Seq(1L, 6L).foreach { q =>
      assert(top(q) === ((q + 2000000L, 1.0)),
        s"query $q: expected its planted copy at rank 1, got ${top(q)}")
    }
  }

  test("growing-segment search (sealed graphs + brute-forced batch) ≡ " +
      "the IVF increment at the saturated configuration") {
    val growing = graft.ops.Hnsw.hnswTopKRoutedGrowing(
        Tables.embeddings(spark, dir), EntrySupport.ivfBatch(spark, dir),
        cents, nQueries = 10, k = 5, nProbe = 2,
        m = 8, efConstruction = 64, efSearch = 4096,
        queryModel = Some(EntrySupport.hnswRoutedQueryLocal(spark, dir, 10, 2)))
      .collect().map(_.toString).sorted.toSeq
    val inc = Sim.cosineTopKIvfIncrement(
        EntrySupport.ivfAssignedStore(spark, dir),
        EntrySupport.ivfBatch(spark, dir), cents,
        nQueries = 10, k = 5, nProbe = 2)
      .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
      .collect().map(_.toString).sorted.toSeq
    assert(growing === inc)
    // the planted copies actually flow through the GROWING tier: both
    // rank-1 hits are batch ids
    assert(growing.nonEmpty && inc.nonEmpty)
  }

  test("SemDeDup increment ≡ the full union re-run restricted to batch " +
      "ids; planted copies always discard onto a smaller id") {
    val batch = EntrySupport.ivfBatch(spark, dir)
    val inc = Sim.semanticDedupIncrement(
        EntrySupport.ivfAssignedStore(spark, dir), batch, cents,
        minCos = 0.40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val union = Sim.semanticDedupKeepersFrom(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
          .unionByName(batch), cents, minCos = 0.40)
      .filter(col("vec_id") >= 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(inc === union)
    // every +2M exact copy shares its original's cell at cos 1.0, so
    // it can never keep itself — and its keeper is at most the original
    val copies = inc.filter(_._1 >= 2000000L)
    assert(copies.nonEmpty)
    copies.foreach { case (id, _, keep) =>
      assert(keep <= id - 2000000L,
        s"copy $id must discard onto its original (or smaller), got $keep")
    }
  }

  test("empty batch: increment degenerates to the standing-only search") {
    import spark.implicits._
    val emptyBatch = Seq.empty[(Long, Array[Float])]
      .toDF("vec_id", "embedding")
    val inc = Sim.cosineTopKIvfIncrement(
        EntrySupport.ivfAssignedStore(spark, dir), emptyBatch, cents,
        nQueries = 10, k = 5, nProbe = 2)
      .collect().map(_.toString).sorted.toSeq
    val standing = Sim.cosineTopKIvfFrom(Tables.embeddings(spark, dir),
        cents, nQueries = 10, k = 5, nProbe = 2)
      .select(col("q_id"), col("c_id"), col("cos_r"), col("rnk"))
      .collect().map(_.toString).sorted.toSeq
    assert(inc === standing)
  }
}
