package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Multimodal, Sim}

class MultimodalOpsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq((0L, "abcdefgh", "en", "s", 8L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("frameSample cuts the payload into strided byte chunks") {
    val media = Multimodal.mediaFromDocuments(docs)
    val frames = Multimodal.frameSample(media, nFrames = 4, stride = 2)
      .collect().map(f => f.frame_no -> new String(f.frame_bytes)).toMap
    assert(frames === Map(0 -> "ab", 2 -> "ef")) // every 2nd of 4 chunks
  }

  test("resizeFeatures average-pools to the target dimension") {
    val feats = Seq(Multimodal.MediaFeatures(0L, "image", 1, Array(100.0))).toDS()
    val resized = Multimodal.resizeFeatures(feats, dim = 2).collect().head
    assert(resized.features.length === 2)
    // one image frame: pooling 1 value into 2 buckets repeats it
    assert(resized.features.toSeq === Seq(100.0, 100.0))
  }

  test("l2Normalize yields unit vectors; zero vector unchanged") {
    val df = Seq(
      (0, Array(3.0, 4.0)), (1, Array(0.0, 0.0))
    ).toDF("id", "v")
    val out = df.select(col("id"), Sim.l2Normalize(col("v")).as("u"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(out(0) === Seq(0.6, 0.8))
    assert(out(1) === Seq(0.0, 0.0))
  }

  test("quantizeInt8 round-trips within one quantization step") {
    val df = Seq((0, Array(0.5, -1.0, 0.25))).toDF("id", "v")
    val r = df.select(Sim.quantizeInt8(col("v")).as("s")).collect().head
    val row = r.getStruct(0)
    val scale = row.getDouble(0)
    val q = row.getSeq[Byte](1)
    assert(q === Seq[Byte](64, -127, 32))
    val deq = q.map(_ * scale)
    Seq(0.5, -1.0, 0.25).zip(deq).foreach { case (orig, d) =>
      assert(math.abs(orig - d) <= scale / 2 + 1e-12)
    }
  }
}
