package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ExpressionColumns.{column => toColumn, expression => toExpr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization encoding of one vector against driver-resident
  * per-subspace codebooks: for each of `m` subspaces, the code
  * minimizing round(‖sv‖² − 2·sv·bv + ‖bv‖², 6) with smallest-code
  * tiebreak — the fourth §4.3 native-kernel slot, same family as
  * [[DotProduct]] / [[GopherStats]] / [[CellTopIds]].
  *
  * Why a kernel: the declarative form folds m×ks `least(struct(round(…
  * dist …), code))` structs, and Spark's `round()` on DOUBLE allocates
  * a BigDecimal PER EVALUATION — at m=8, ks=16 that is 128 BigDecimal
  * round-trips per input row before any of the actual arithmetic. This
  * kernel computes the m×ks distances as primitive loops and exploits
  * round's monotonicity to round only the near-ties of each minimum:
  * round6(d) == round6(dmin) requires d − dmin < 1e-6 (+2 ulps), so
  * the argmin over ROUNDED distances equals "first code, ascending,
  * within the guard band whose rounded value equals round6(dmin)" —
  * identical winner to rounding all ks candidates (the declarative
  * form's semantics, hash-pinned by the q_sim_ann_pq oracle), for
  * typically 1-2 BigDecimal calls per subspace instead of ks.
  *
  * Children: (vec array<double>, cbFlat array<double> FOLDABLE —
  * row-major m×ks×(dim/m) reproduction vectors, m int FOLDABLE,
  * ks int FOLDABLE). Returns array<int> of m codes; NULL vector →
  * NULL. The codebook matrix is evaluated once at planning into a
  * [[PqEncode.Model]] (with the same in-order-fold ‖bv‖² the oracle
  * literals use) and shipped to generated code as a reference object.
  */
case class PqEncode(vec: Expression, cbFlat: Expression,
                    mExpr: Expression, ksExpr: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(vec, cbFlat, mExpr, ksExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    def isDblArr(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true; case _ => false
    }
    if (!isDblArr(vec.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"graft_pq_encode expects array<double> vector, got ${vec.dataType.simpleString}")
    else if (!isDblArr(cbFlat.dataType) || !cbFlat.foldable ||
      mExpr.dataType != IntegerType || !mExpr.foldable ||
      ksExpr.dataType != IntegerType || !ksExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_pq_encode model args (cbFlat array<double>, m int, ks int) must be foldable literals")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = vec.nullable

  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val model: PqEncode.Model = {
    val flat = cbFlat.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    val m = mExpr.eval(null).asInstanceOf[Int]
    val ks = ksExpr.eval(null).asInstanceOf[Int]
    PqEncode.Model(flat, m, ks)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) null
    else PqEncode.compute(v.asInstanceOf[ArrayData], model)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pqModel", model, classOf[PqEncode.Model].getName)
    val vEv = vec.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    val call = s"graft.plans.PqEncode.compute(${vEv.value}, $m)"
    if (nullable) {
      ev.copy(code =
        code"""
          |${vEv.code}
          |boolean ${ev.isNull} = ${vEv.isNull};
          |$arrCls ${ev.value} = null;
          |if (!${ev.isNull}) {
          |  ${ev.value} = $call;
          |}
        """.stripMargin)
    } else {
      ev.copy(code =
        code"""
          |${vEv.code}
          |$arrCls ${ev.value} = $call;
        """.stripMargin, isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqEncode =
    copy(vec = newChildren(0), cbFlat = newChildren(1),
      mExpr = newChildren(2), ksExpr = newChildren(3))
}

object PqEncode {

  /** `graft_pq_encode(vec, cbFlat, m, ks)` as a Column, resolved without any function registry. */
  def column(vec: Column, cbFlat: Column, m: Column, ks: Column): Column =
    toColumn(PqEncode(toExpr(vec), toExpr(cbFlat), toExpr(m), toExpr(ks)))

  /** Planning-time model: row-major m×ks×d reproduction vectors with
    * their ‖bv‖² pre-folded in index order — the identical doubles the
    * oracle SQL embeds (same fold as `Sim.l2sq`).
    */
  case class Model(flat: Array[Double], m: Int, ks: Int)
      extends Serializable {
    val d: Int = if (m > 0 && ks > 0) flat.length / (m * ks) else 0
    val bn2: Array[Double] = {
      val a = new Array[Double](m * ks)
      var c = 0
      while (c < m * ks) {
        var s = 0.0; var i = 0
        while (i < d) { val x = flat(c * d + i); s += x * x; i += 1 }
        a(c) = s; c += 1
      }
      a
    }
  }

  /** Exactly Spark round(x, 6): BigDecimal.valueOf → HALF_UP. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Guard band for the monotone-round shortcut: candidates whose
    * rounded distance can equal round6(dmin) lie within 1e-6 of dmin
    * (round is monotone and maps into a 1e-6 grid); the small slack
    * absorbs representation ulps.
    */
  private val Band = 1.0000001e-6

  def compute(v: ArrayData, mo: Model): ArrayData = {
    val codes = new Array[Int](mo.m)
    val dists = new Array[Double](mo.ks)
    var j = 0
    while (j < mo.m) {
      // distances for all ks codes of subspace j, expanded exactly as
      // the declarative form: ‖sv‖² − 2·sv·bv + ‖bv‖² (a − 2b) + c
      var sn = 0.0
      var i = 0
      val vOff = j * mo.d
      while (i < mo.d) { val x = v.getDouble(vOff + i); sn += x * x; i += 1 }
      var dmin = Double.MaxValue
      var c = 0
      while (c < mo.ks) {
        val off = (j * mo.ks + c) * mo.d
        var dot = 0.0; i = 0
        while (i < mo.d) { dot += v.getDouble(vOff + i) * mo.flat(off + i); i += 1 }
        val dist = sn - 2.0 * dot + mo.bn2(j * mo.ks + c)
        dists(c) = dist
        if (dist < dmin) dmin = dist
        c += 1
      }
      // winner = smallest code whose ROUNDED distance equals the
      // rounded minimum — identical to argmin over all-rounded values
      val r = round6(dmin)
      var win = -1
      c = 0
      while (win < 0 && c < mo.ks) {
        if (dists(c) <= dmin + Band && round6(dists(c)) == r) win = c
        c += 1
      }
      codes(j) = win
      j += 1
    }
    new GenericArrayData(codes)
  }
}
