package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TopK

/** The bounded-state top-k-per-group aggregate (SURVEY §4.3's reserved
  * custom-Aggregator slot) must agree EXACTLY with the window-rank
  * formulation — same rows, same ranks, same tie-breaks — on random
  * data with deliberate score collisions. Window rank is the oracle
  * here because it is itself oracle-checked in the declared queries.
  */
class TopKAggSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def windowForm(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("rid").asc)
    df.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("g"), col("rnk"), col("score"), col("rid"))
  }

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

  test("both agg forms equal window rank on random data with score ties") {
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 3) {
      val rows = (0 until 400).map { i =>
        ("g" + rnd.nextInt(7), rnd.nextInt(12).toDouble, i.toLong)
      }
      val df = rows.toDF("g", "score", "rid")
      val expected = asSet(windowForm(df, 5))
      assert(asSet(TopK.topKPerGroupTyped(df, "g", "score", "rid", 5)) === expected, s"typed form, trial $trial")
    }
  }

  test("k larger than the group returns the whole group, ranked") {
    val df = Seq(("a", 3.0, 1L), ("a", 1.0, 2L)).toDF("g", "score", "rid")
    val out = TopK.topKPerGroupTyped(df, "g", "score", "rid", 10)
      .orderBy("rnk").collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(out === Array((1L, 1L), (2L, 2L)))
  }

  test("negative scores and exact-tie ids order deterministically") {
    val df = Seq(("a", -1.0, 9L), ("a", -1.0, 2L), ("a", -5.0, 1L))
      .toDF("g", "score", "rid")
    val out = TopK.topKPerGroupTyped(df, "g", "score", "rid", 2)
      .orderBy("rnk").collect().map(r => (r.getDouble(2), r.getLong(3)))
    assert(out === Array((-1.0, 2L), (-1.0, 9L)))
  }

  test("aggregator state never exceeds k entries") {
    val agg = new TopK.TopKAggregator(3)
    val buf = (1 to 100).foldLeft(agg.zero)((b, i) => agg.reduce(b, (i.toDouble, i.toLong)))
    assert(buf.size === 3)
    assert(buf.map(_._1) === Seq(100.0, 99.0, 98.0))
    val merged = agg.merge(buf,
      (200 to 300).foldLeft(agg.zero)((b, i) => agg.reduce(b, (i.toDouble, i.toLong))))
    assert(merged.size === 3)
    assert(merged.map(_._1) === Seq(300.0, 299.0, 298.0))
  }
}
