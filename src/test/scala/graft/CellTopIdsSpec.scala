package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.CellTopIds

/** Kernel laws for the native IVF cell-ranking expression
  * (graft.plans.CellTopIds) — the codegen'd replacement for the
  * k-struct greatest/sort_array forms, whose semantics the reference
  * ranking below restates. The DataFrame-level contract (assignment feeding
  * search, recall) is covered by KmeansIvfSpec and the q_sim_ann
  * oracles; this pins the kernel itself.
  */
class CellTopIdsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def model(cents: Seq[Array[Double]], nProbe: Int) =
    CellTopIds.Model(cents.flatten.toArray, cents.size, nProbe)

  private def arr(xs: Double*) =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(xs.toArray)

  private def l2(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)

  test("ranks cells by rounded cosine desc, id asc on ties") {
    // cells 0 and 2 are the SAME direction (opposite scales) → equal
    // rounded cosine; the tie must keep the smaller id first
    val cents = Seq(
      Array(1.0, 0.0), Array(0.0, 1.0), Array(2.0, 0.0))
    val v = Array(3.0, 1.0)
    val out = CellTopIds.compute(arr(v: _*), l2(v), model(cents, 3))
      .toLongArray.toSeq
    assert(out === Seq(0L, 2L, 1L))
  }

  test("nProbe truncates after ranking; nProbe > k returns all k") {
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0))
    val v = Array(1.0, 0.2)
    assert(CellTopIds.compute(arr(v: _*), l2(v), model(cents, 1))
      .toLongArray.toSeq === Seq(0L))
    assert(CellTopIds.compute(arr(v: _*), l2(v), model(cents, 5))
      .toLongArray.toSeq === Seq(0L, 1L, 2L))
  }

  test("scoring matches the declarative round(dot/norms, 6) to the bit") {
    // random-ish deterministic vectors; reference = the same BigDecimal
    // HALF_UP rounding Spark's round() applies to doubles
    val dim = 8
    def vec(seed: Int) = Array.tabulate(dim)(i =>
      ((seed * 31 + i * 7919) % 997) / 997.0 - 0.5)
    val cents = (0 until 6).map(c => vec(c + 100))
    val m = model(cents, 6)
    for (s <- 0 until 20) {
      val v = vec(s)
      val got = CellTopIds.compute(arr(v: _*), l2(v), m).toLongArray.toSeq
      val ref = cents.zipWithIndex.map { case (c, id) =>
        val dot = v.zip(c).map { case (a, b) => a * b }.sum
        val score = java.math.BigDecimal.valueOf(dot / (l2(v) * l2(c)))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        (score, id.toLong)
      }.sortBy { case (score, id) => (-score, id) }.map(_._2)
      assert(got === ref, s"query seed $s")
    }
  }

  test("expression through SQL: null vector yields null, ids are positions") {
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = Seq(
      (1L, Some(Seq(0.1, 0.9))), (2L, None)).toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(expr("aggregate(transform(v, x -> x*x), 0d, (a, x) -> a + x)")))
      .withColumn("cells", CellTopIds.column(
        col("v"), col("nrm"), typedlit(cents.flatten), lit(2), lit(1)))
    val rows = df.select(col("id"), col("cells")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(rows(1L).map(_.asInstanceOf[scala.collection.Seq[Long]].toList) === Some(List(1L)))
    assert(rows(2L) === None)
  }
}
