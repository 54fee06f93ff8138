package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Hnsw

/** Sealing the growing segment (VERDICT r16 #4): building the batch's
  * per-cell graphs once, serializing them, loading them back, and
  * searching through the loaded graphs must lose NOTHING vs the
  * growing (brute-force) tier at saturated efSearch — the
  * IvfIncrementSpec law carried through one more physical tier. Plus
  * the store's structural invariants and seal determinism.
  */
class HnswSealSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("seal → persist → load → search ≡ growing search at saturated " +
      "efSearch") {
    val standing = Tables.embeddings(spark, dir)
    val batch = EntrySupport.ivfBatch(spark, dir)
    val cents = EntrySupport.pqModel(spark, dir)._1
    val qm = Some(EntrySupport.hnswRoutedQueryLocal(spark, dir, 10, 2))

    val growing = Hnsw.hnswTopKRoutedGrowing(standing, batch, cents,
        nQueries = 10, k = 5, nProbe = 2, m = 8, efConstruction = 64,
        efSearch = 4096, queryModel = qm)
      .collect().map(_.toSeq).sortBy(_.toString)

    val base = java.nio.file.Files.createTempDirectory("graft-seal").toString
    Hnsw.hnswSealSegment(batch, cents, m = 8, efConstruction = 64)
      .write.parquet(s"$base/seg")
    val sealedRes = Hnsw.hnswTopKRoutedSealedFrom(standing,
        spark.read.parquet(s"$base/seg"), cents,
        nQueries = 10, k = 5, nProbe = 2, m = 8, efConstruction = 64,
        efSearch = 4096, queryModel = qm)
      .collect().map(_.toSeq).sortBy(_.toString)

    assert(sealedRes.length === growing.length && sealedRes.length === 50)
    assert(sealedRes.toSeq === growing.toSeq,
      "the sealed tier must answer exactly like the growing tier")

    // the planted lattice over many input partitions: the sealed
    // segment alone (an empty standing side, which both tiers share)
    // against the growing tier under the lattice's own frozen model
    val (lat, latCents, latBatch) = ScaleInvariantsSpec.latticeIncrement(spark)
    Hnsw.hnswSealSegment(latBatch, latCents, m = 8, efConstruction = 64)
      .write.parquet(s"$base/lattice")
    assert(spark.read.parquet(s"$base/lattice").count() === latBatch.count(),
      "one sealed node per segment vector")
    val latQm = Some(Hnsw.routedQueryModel(lat, latCents, 10, 4).toSeq)
    val noStanding = lat.filter(lit(false))
    val latSealed = Hnsw.hnswTopKRoutedSealedFrom(noStanding, spark.read.parquet(s"$base/lattice"),
        latCents, nQueries = 10, k = 5, nProbe = 4, m = 8, efConstruction = 64,
        efSearch = 1 << 20, queryModel = latQm)
      .collect().map(_.toString).sorted.toSeq
    val latGrowing = Hnsw.hnswTopKRoutedGrowing(noStanding, latBatch, latCents,
        nQueries = 10, k = 5, nProbe = 4, m = 8, efConstruction = 64,
        efSearch = 1 << 20, queryModel = latQm)
      .collect().map(_.toString).sorted.toSeq
    assert(latSealed.nonEmpty && latSealed === latGrowing)
  }

  test("the sealed store is structurally sound and sealing is " +
      "deterministic") {
    val batch = EntrySupport.ivfBatch(spark, dir)
    val cents = EntrySupport.pqModel(spark, dir)._1
    val seg = Hnsw.hnswSealSegment(batch, cents, m = 8, efConstruction = 64)
    val rows = seg.collect()
    assert(rows.length === batch.count(),
      "one sealed node per batch vector — seal cost is segment-sized")
    // adjacency arrays span exactly level+1 layers
    rows.foreach { r =>
      assert(r.getAs[Seq[Seq[Long]]]("nbrs").length ===
        r.getAs[Int]("level") + 1)
    }
    // exactly one entry per non-empty cell
    val entries = seg.groupBy(col("cell"))
      .agg(sum(col("is_entry").cast("long")).as("n"))
      .collect().map(_.getLong(1))
    assert(entries.forall(_ === 1L), "each sealed cell carries one entry")
    // determinism: sealing the same batch twice is byte-for-byte equal
    val again = Hnsw.hnswSealSegment(batch, cents, m = 8, efConstruction = 64)
      .collect().map(_.toString).sorted
    assert(again.toSeq === rows.map(_.toString).sorted.toSeq)
  }
}
