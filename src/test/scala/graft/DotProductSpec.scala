package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Sim
import graft.plans.DotProduct

/** The native graft_dot expression must agree exactly with the HOF
  * formulation it replaced, kept here as the reference.
  */
class DotProductSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** The built-in left fold: interpreted HOF lambdas, index order. */
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  test("native dot equals HOF dot on random vectors, bit for bit") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble()), Array.fill(64)(rnd.nextDouble()))
    }
    val df = rows.toDF("id", "a", "b")
      .select(col("id"), col("a").cast("array<double>"), col("b").cast("array<double>"))
    val out = df.select(
      col("id"),
      hofDot(col("a"), col("b")).as("hof"),
      Sim.dot(col("a"), col("b")).as("native"))
      .collect()
    out.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(1), r.getDouble(2)) === 0,
        s"row ${r.getLong(0)}")
    }
  }

  test("null array yields null") {
    val df = Seq((Some(Array(1.0, 2.0)), None: Option[Array[Double]]))
      .toDF("a", "b")
    val r = df.select(DotProduct.column(col("a"), col("b"))).collect().head
    assert(r.isNullAt(0))
  }

  test("native dot participates in whole-stage codegen") {
    // literal inputs constant-fold to a LocalTableScan, so build from
    // range() to get a real codegen stage
    val df = spark.range(4).select(
      array(col("id").cast("double"), lit(2.0)).as("a"),
      array(lit(3.0), col("id").cast("double")).as("b"))
      .select(col("a"), col("b"), DotProduct.column(col("a"), col("b")).as("d"))
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("graft_dot"), plan)
    // id=i: [i,2]·[3,i] = 5i
    assert(df.collect().map(_.getDouble(2)).sorted === Array(0.0, 5.0, 10.0, 15.0))
  }
}
