package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ExpressionColumns.{column => toColumn, expression => toExpr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Top-`nProbe` IVF cells for one vector against a driver-resident
  * centroid matrix, best first — the inner loop of coarse-quantizer
  * assignment (nProbe=1) and multi-probe selection.
  *
  * Why a custom Expression (third §4.3 slot, same family as
  * [[DotProduct]] / [[GopherStats]]): the declarative form is
  * `greatest(k structs)` / `sort_array(array(k structs))` where every
  * struct holds a [[DotProduct]] against one centroid literal — at
  * k=64, dim=64 the generated code for that single projection blows
  * past Janino's method budget, whole-stage codegen bails, and the
  * whole expression runs INTERPRETED: measured 214 s to assign 1M
  * vectors (64 cells × 64 dims) where this kernel runs the same
  * argmax as one compiled loop over a reference-object matrix in
  * ~4 s.
  *
  * Semantics — EXACTLY the k-struct form's, which the q_sim_ann
  * oracle restates in SQL:
  * score(cell) = round(dot(v, c) / (nrm · ‖c‖), 6) with Spark
  * `round()` rounding (BigDecimal.valueOf → HALF_UP); cells ranked
  * (score DESC, cell_id ASC); ids are the centroid-model positions.
  * NULL vector or NULL norm → NULL.
  *
  * Children: (vec array<double>, nrm double, centsFlat array<double>
  * FOLDABLE, k int FOLDABLE, nProbe int FOLDABLE). The flat matrix is
  * row-major k×dim; it is evaluated ONCE at planning into a
  * [[CellTopIds.Model]] shipped to generated code as a reference
  * object — never re-evaluated per row.
  */
case class CellTopIds(vec: Expression, nrm: Expression, centsFlat: Expression,
                      kExpr: Expression, nProbeExpr: Expression)
    extends Expression {

  override def children: Seq[Expression] =
    Seq(vec, nrm, centsFlat, kExpr, nProbeExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    def isDblArr(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true; case _ => false
    }
    if (!isDblArr(vec.dataType) || nrm.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_cell_top expects (array<double>, double, ...), got " +
          s"(${vec.dataType.simpleString}, ${nrm.dataType.simpleString})")
    else if (!isDblArr(centsFlat.dataType) || !centsFlat.foldable ||
      kExpr.dataType != IntegerType || !kExpr.foldable ||
      nProbeExpr.dataType != IntegerType || !nProbeExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_cell_top model args (centsFlat array<double>, k int, nProbe int) must be foldable literals")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = vec.nullable || nrm.nullable

  override def prettyName: String = "graft_cell_top"

  @transient private lazy val model: CellTopIds.Model = {
    val flat = centsFlat.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    val k = kExpr.eval(null).asInstanceOf[Int]
    val nProbe = nProbeExpr.eval(null).asInstanceOf[Int]
    CellTopIds.Model(flat, k, nProbe)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val n = nrm.eval(input)
    if (v == null || n == null) null
    else CellTopIds.compute(v.asInstanceOf[ArrayData],
      n.asInstanceOf[Double], model)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("cellModel", model, classOf[CellTopIds.Model].getName)
    val vEv = vec.genCode(ctx)
    val nEv = nrm.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    val call = s"graft.plans.CellTopIds.compute(${vEv.value}, ${nEv.value}, $m)"
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
      newChildren: IndexedSeq[Expression]): CellTopIds =
    copy(vec = newChildren(0), nrm = newChildren(1), centsFlat = newChildren(2),
      kExpr = newChildren(3), nProbeExpr = newChildren(4))
}

object CellTopIds {

  /** `graft_cell_top(vec, nrm, centsFlat, k, nProbe)` as a Column, resolved without any function registry. */
  def column(vec: Column, nrm: Column, centsFlat: Column, k: Column,
             nProbe: Column): Column =
    toColumn(CellTopIds(toExpr(vec), toExpr(nrm), toExpr(centsFlat), toExpr(k),
      toExpr(nProbe)))

  /** Planning-time model: row-major k×dim centroid matrix with
    * precomputed L2 norms. Small (k×dim doubles) and serializable —
    * shipped once per task via the codegen reference array.
    */
  case class Model(flat: Array[Double], k: Int, nProbe: Int)
      extends Serializable {
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

  /** Exactly Spark round(x, 6): BigDecimal.valueOf → HALF_UP. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One compiled pass: k dot products, HALF_UP 6dp rounding (the
    * cross-engine determinism contract of the declarative form), and
    * an insertion top-nProbe ranked (score DESC, id ASC).
    */
  def compute(v: ArrayData, nrm: Double, m: Model): ArrayData = {
    val dim = math.min(m.dim, v.numElements())
    val np = math.min(m.nProbe, m.k)
    val topIds = new Array[Long](np)
    val topScores = new Array[Double](np)
    var filled = 0
    var c = 0
    while (c < m.k) {
      var dot = 0.0; var i = 0
      val off = c * m.dim
      while (i < dim) { dot += v.getDouble(i) * m.flat(off + i); i += 1 }
      val score = round6(dot / (nrm * m.norms(c)))
      // insertion position: before any entry with lower score (strict:
      // equal scores keep the earlier/smaller id, which arrived first)
      var pos = filled
      while (pos > 0 && topScores(pos - 1) < score) pos -= 1
      if (pos < np) {
        val last = math.min(filled, np - 1)
        var j = last
        while (j > pos) {
          topIds(j) = topIds(j - 1); topScores(j) = topScores(j - 1); j -= 1
        }
        topIds(pos) = c; topScores(pos) = score
        if (filled < np) filled += 1
      }
      c += 1
    }
    val out = new Array[Long](filled)
    System.arraycopy(topIds, 0, out, 0, filled)
    new GenericArrayData(out)
  }
}
