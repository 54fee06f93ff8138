package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ExpressionColumns.{column => toColumn, expression => toExpr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All cosines of one vector against a driver-resident query matrix —
  * the scoring pass of brute-force kNN when ONE side is small enough
  * to be a model (a holdout/query set) and the other is the corpus.
  *
  * Why a custom Expression (same §4.3 family as [[DotProduct]] /
  * [[CellTopIds]]): the relational form is a broadcast nested-loop
  * join whose OUTPUT rows each carry both dense vectors — at dim=64
  * that materializes ~1 KB per scored pair before the projection can
  * reduce it to one double, so the join shuffles hundreds of MB to
  * compute a few MB of scores. This kernel keeps the query matrix as
  * a reference object (shipped once per task, exactly the
  * [[CellTopIds.Model]] pattern), runs one compiled q×dim loop per
  * corpus row, and emits a bare array<double> — the pair stream that
  * explodes from it is (id, idx, score), never the vectors.
  *
  * Semantics: score(c) = dot(v, row_c) / (nrm · ‖row_c‖), unrounded
  * (callers apply Spark `round()` downstream so oracle parity is in
  * one place). NULL vector or NULL norm → NULL.
  *
  * Children: (vec array<double>, nrm double, matFlat array<double>
  * FOLDABLE row-major k×dim, k int FOLDABLE).
  */
case class AllCosines(vec: Expression, nrm: Expression,
                      matFlat: Expression, kExpr: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(vec, nrm, matFlat, kExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    def isDblArr(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true; case _ => false
    }
    if (!isDblArr(vec.dataType) || nrm.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_all_cos expects (array<double>, double, ...), got " +
          s"(${vec.dataType.simpleString}, ${nrm.dataType.simpleString})")
    else if (!isDblArr(matFlat.dataType) || !matFlat.foldable ||
      kExpr.dataType != IntegerType || !kExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_all_cos model args (matFlat array<double>, k int) must be foldable literals")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = vec.nullable || nrm.nullable

  override def prettyName: String = "graft_all_cos"

  @transient private lazy val model: AllCosines.Model = {
    val flat = matFlat.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    val k = kExpr.eval(null).asInstanceOf[Int]
    AllCosines.Model(flat, k)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val n = nrm.eval(input)
    if (v == null || n == null) null
    else AllCosines.compute(v.asInstanceOf[ArrayData], n.asInstanceOf[Double], model)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("cosModel", model, classOf[AllCosines.Model].getName)
    val vEv = vec.genCode(ctx)
    val nEv = nrm.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    val call = s"graft.plans.AllCosines.compute(${vEv.value}, ${nEv.value}, $m)"
    if (nullable) {
      ev.copy(code =
        code"""
          |${vEv.code}
          |${nEv.code}
          |boolean ${ev.isNull} = ${vEv.isNull} || ${nEv.isNull};
          |$arrCls ${ev.value} = null;
          |if (!${ev.isNull}) {
          |  ${ev.value} = $call;
          |}
        """.stripMargin)
    } else {
      ev.copy(code =
        code"""
          |${vEv.code}
          |${nEv.code}
          |$arrCls ${ev.value} = $call;
        """.stripMargin, isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AllCosines =
    copy(vec = newChildren(0), nrm = newChildren(1),
      matFlat = newChildren(2), kExpr = newChildren(3))
}

object AllCosines {

  /** `graft_all_cos(vec, nrm, matFlat, k)` as a Column, resolved without any function registry. */
  def column(vec: Column, nrm: Column, matFlat: Column, k: Column): Column =
    toColumn(AllCosines(toExpr(vec), toExpr(nrm), toExpr(matFlat), toExpr(k)))

  /** Planning-time model: row-major k×dim query matrix with
    * precomputed L2 norms — shipped to generated code as a reference
    * object, never re-evaluated per row.
    */
  case class Model(flat: Array[Double], k: Int) extends Serializable {
    val dim: Int = if (k > 0) flat.length / k else 0
    val norms: Array[Double] = {
      val a = new Array[Double](k)
      var c = 0
      while (c < k) {
        var s = 0.0; var i = 0
        while (i < dim) { val x = flat(c * dim + i); s += x * x; i += 1 }
        a(c) = math.sqrt(s); c += 1
      }
      a
    }
  }

  /** One compiled pass: k dot products against the matrix rows. */
  def compute(v: ArrayData, nrm: Double, m: Model): ArrayData = {
    val dim = math.min(m.dim, v.numElements())
    val out = new Array[Double](m.k)
    var c = 0
    while (c < m.k) {
      var dot = 0.0; var i = 0
      val off = c * m.dim
      while (i < dim) { dot += v.getDouble(i) * m.flat(off + i); i += 1 }
      out(c) = dot / (nrm * m.norms(c))
      c += 1
    }
    new GenericArrayData(out)
  }
}
