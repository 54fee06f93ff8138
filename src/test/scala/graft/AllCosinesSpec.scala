package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.AllCosines

/** Kernel laws for the native all-cosines expression
  * (graft.plans.AllCosines) plus the payload-carrying bounded top-k
  * aggregator. The DataFrame-level contract is covered by the
  * q_knn_vote oracle; this pins the kernel math and the op's parity
  * with the broadcast-nested-loop form it replaced.
  */
class AllCosinesSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def arr(xs: Double*) =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(xs.toArray)

  private def l2(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)

  test("compute matches the per-pair fold dot / norm product") {
    val dim = 8
    def vec(seed: Int) = Array.tabulate(dim)(i =>
      ((seed * 37 + i * 7919) % 997) / 997.0 - 0.5)
    val qs = (0 until 5).map(c => vec(c + 50))
    val m = AllCosines.Model(qs.flatten.toArray, qs.size)
    for (s <- 0 until 10) {
      val v = vec(s)
      val got = AllCosines.compute(arr(v: _*), l2(v), m).toDoubleArray.toSeq
      val ref = qs.map { q =>
        // same fold order as the kernel: sequential index order
        var dot = 0.0
        for (i <- 0 until dim) dot += v(i) * q(i)
        dot / (l2(v) * l2(q))
      }
      assert(got === ref, s"candidate seed $s")
    }
  }

  test("expression through SQL: null vector yields null") {
    val qs = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val rows = Seq((1L, Some(Seq(3.0, 4.0))), (2L, None)).toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(expr("aggregate(transform(v, x -> x*x), 0d, (a, x) -> a + x)")))
      .withColumn("cos", AllCosines.column(
        col("v"), col("nrm"), typedlit(qs.flatten), lit(2)))
      .select(col("id"), col("cos")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val got = rows(1L).get.asInstanceOf[scala.collection.Seq[Double]]
    assert(math.abs(got(0) - 0.6) < 1e-12 && math.abs(got(1) - 0.8) < 1e-12)
    assert(rows(2L) === None)
  }

  test("TopKPayloadAggregator: bounded insert keeps (score desc, id asc), payload rides") {
    val agg = new AllCosinesSpec.TopKPayloadAggregator(3)
    val items = Seq(
      (0.5, 10L, 100L), (0.9, 3L, 300L), (0.9, 1L, 111L),
      (0.1, 7L, 700L), (0.7, 2L, 200L), (0.9, 5L, 500L))
    val direct = items.foldLeft(agg.zero)(agg.reduce)
    assert(direct === Seq((0.9, 1L, 111L), (0.9, 3L, 300L), (0.9, 5L, 500L)))
    // merge of split halves equals the all-at-once fold
    val (h1, h2) = items.splitAt(3)
    val merged = agg.merge(h1.foldLeft(agg.zero)(agg.reduce),
      h2.foldLeft(agg.zero)(agg.reduce))
    assert(merged === direct)
  }

  /** The broadcast-nested-loop form the kernel replaced: every
    * (holdout, labeled) pair carries both vectors and is scored by the
    * HOF dot fold, [[AllCosinesSpec.TopKPayloadAggregator]] keeps each holdout's
    * k best (payload = label), and the vote (count desc, label asc)
    * runs on the driver.
    */
  private def bnljKnnLabelVote(emb: DataFrame, modulus: Int, k: Int): DataFrame = {
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    def side(df: DataFrame, id: String, label: String, v: String, n: String) =
      df.select(col("vec_id").as(id), col("label").as(label), col("v").as(v),
        sqrt(dot(col("v"), col("v"))).as(n))
    val asDouble = emb.select(
      col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val holdout = pmod(col("vec_id"), lit(modulus.toLong)) === 0
    side(asDouble.filter(!holdout), "c_id", "c_label", "cv", "cn")
      .join(broadcast(side(asDouble.filter(holdout), "q_id", "q_label", "qv", "qn")), lit(true))
      .select(
        col("q_id"), col("q_label"), col("c_id"), col("c_label").cast("long"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4).as("cos_r"))
      .as[(Long, Int, Long, Long, Double)]
      .groupByKey { case (qId, qLabel, _, _, _) => (qId, qLabel) }
      .mapValues { case (_, _, cId, cLabel, cos) => (cos, cId, cLabel) }
      .agg(new AllCosinesSpec.TopKPayloadAggregator(k).toColumn.name("top"))
      .map { case ((qId, qLabel), top) =>
        val (pred, votes) = top.groupBy(_._3).map { case (l, ns) => (l, ns.size) }
          .maxBy { case (l, n) => (n, -l) }
        (qId, qLabel, pred.toInt, votes.toLong, if (pred == qLabel) 1L else 0L)
      }
      .toDF("vec_id", "label", "pred_label", "votes", "correct")
  }

  test("knnLabelVote: kernel path and BNLJ fallback agree row-for-row") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = graft.ops.Sim.knnLabelVote(emb, 10, 5)
      .orderBy(col("vec_id")).collect().toSeq
    val b = bnljKnnLabelVote(emb, 10, 5)
      .orderBy(col("vec_id")).collect().toSeq
    assert(a.nonEmpty && a === b)
  }
}

object AllCosinesSpec {

  /** [[graft.ops.TopK.TopKAggregator]] with a rider: each (score, id)
    * entry carries an opaque Long payload that plays no part in the
    * ordering (score DESC, id ASC) but travels with its row through the
    * bounded buffer — the shape a kNN vote needs (payload = neighbor's
    * class label). Same O(k) partial state per group per task; the
    * reference vote below uses it.
    */
  final class TopKPayloadAggregator(k: Int)
      extends Aggregator[(Double, Long, Long), Seq[(Double, Long, Long)], Seq[(Double, Long, Long)]] {
    require(k > 0, "top-k needs k > 0")
    private def better(a: (Double, Long, Long), b: (Double, Long, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    private def insertP(buf: Seq[(Double, Long, Long)], x: (Double, Long, Long)): Seq[(Double, Long, Long)] =
      if (buf.size >= k && better(buf.last, x)) buf
      else {
        val (front, back) = buf.span(better(_, x))
        (front :+ x) ++ back.take(k - front.size - 1)
      }
    override def zero: Seq[(Double, Long, Long)] = Vector.empty
    override def reduce(b: Seq[(Double, Long, Long)], a: (Double, Long, Long)): Seq[(Double, Long, Long)] =
      insertP(b, a)
    override def merge(b1: Seq[(Double, Long, Long)], b2: Seq[(Double, Long, Long)]): Seq[(Double, Long, Long)] =
      b2.foldLeft(b1)(insertP)
    override def finish(r: Seq[(Double, Long, Long)]): Seq[(Double, Long, Long)] = r
    override def bufferEncoder: Encoder[Seq[(Double, Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long, Long)]]()
    override def outputEncoder: Encoder[Seq[(Double, Long, Long)]] = bufferEncoder
  }
}
