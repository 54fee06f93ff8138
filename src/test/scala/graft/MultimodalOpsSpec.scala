package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Multimodal, Sim}

class MultimodalOpsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq((0L, "abcdefgh", "en", "s", 8L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

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
