package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ExpressionColumns.{column => toColumn, expression => toExpr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All cosines of one INT8-coded vector against a driver-resident
  * int8-coded query matrix — the SQ8 shortlist scan of
  * `Sim.cosineTopKSq`, scoring entirely in the quantized domain.
  *
  * Why a separate kernel from [[AllCosines]]: the whole point of
  * scalar quantization at 100 TB is that the RESIDENT index is
  * 1 byte/element (8× smaller than the double math) and the scan
  * arithmetic is integer multiply-accumulate. Dequantizing the codes
  * back to doubles before scoring pays full-precision memory AND
  * full-precision compute plus the quantization error, i.e. the
  * opposite of the trade SQ buys. This
  * kernel reads the byte codes directly from Tungsten array storage,
  * accumulates the dot in a long, and divides by the two code norms.
  *
  * Per-vector scales cancel out of the cosine (cos(s_q·q, s_c·c) =
  * cos(q, c) for positive scales), so the quantized-domain cosine
  * needs ONLY the codes — the scale column in the index exists for
  * dot-product / L2 scoring, not for this kernel.
  *
  * Exactness: |code| ≤ 127, so every dot term ≤ 16129 and a d=4096
  * dot ≤ 6.6e7 — exact in a long and exactly representable as a
  * double, which makes the score reproducible bit-for-bit across
  * engines regardless of accumulation order (the oracle computes the
  * same integer dot in SQL).
  *
  * Semantics: out(c) = dot(codes, row_c) / (‖codes‖ · ‖row_c‖),
  * unrounded (callers round downstream). NULL codes → NULL. A
  * zero-code vector yields ±Infinity/NaN exactly as the double
  * division does in the oracle engine.
  *
  * Children: (codes array<tinyint>, matFlat array<int> FOLDABLE
  * row-major k×dim query codes, k int FOLDABLE).
  */
case class AllCosinesI8(codes: Expression, matFlat: Expression,
                        kExpr: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(codes, matFlat, kExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    val codesOk = codes.dataType match {
      case ArrayType(ByteType, _) => true; case _ => false
    }
    val matOk = matFlat.dataType match {
      case ArrayType(IntegerType, _) => true; case _ => false
    }
    if (!codesOk)
      TypeCheckResult.TypeCheckFailure(
        s"graft_all_cos_i8 expects array<tinyint> codes, got ${codes.dataType.simpleString}")
    else if (!matOk || !matFlat.foldable ||
      kExpr.dataType != IntegerType || !kExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_all_cos_i8 model args (matFlat array<int>, k int) must be foldable literals")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = codes.nullable

  override def prettyName: String = "graft_all_cos_i8"

  @transient private lazy val model: AllCosinesI8.Model = {
    val flat = matFlat.eval(null).asInstanceOf[ArrayData].toIntArray()
    val k = kExpr.eval(null).asInstanceOf[Int]
    AllCosinesI8.Model(flat, k)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = codes.eval(input)
    if (v == null) null
    else AllCosinesI8.compute(v.asInstanceOf[ArrayData], model)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("sqModel", model, classOf[AllCosinesI8.Model].getName)
    val cEv = codes.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    val call = s"graft.plans.AllCosinesI8.compute(${cEv.value}, $m)"
    if (nullable) {
      ev.copy(code =
        code"""
          |${cEv.code}
          |boolean ${ev.isNull} = ${cEv.isNull};
          |$arrCls ${ev.value} = null;
          |if (!${ev.isNull}) {
          |  ${ev.value} = $call;
          |}
        """.stripMargin)
    } else {
      ev.copy(code =
        code"""
          |${cEv.code}
          |$arrCls ${ev.value} = $call;
        """.stripMargin, isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AllCosinesI8 =
    copy(codes = newChildren(0), matFlat = newChildren(1),
      kExpr = newChildren(2))
}

object AllCosinesI8 {

  /** `graft_all_cos_i8(codes, matFlat, k)` as a Column, resolved without any function registry. */
  def column(codes: Column, matFlat: Column, k: Column): Column =
    toColumn(AllCosinesI8(toExpr(codes), toExpr(matFlat), toExpr(k)))

  /** Planning-time model: row-major k×dim int8 query-code matrix with
    * precomputed code norms — shipped to generated code once as a
    * reference object.
    */
  case class Model(flat: Array[Int], k: Int) extends Serializable {
    val dim: Int = if (k > 0) flat.length / k else 0
    val norms: Array[Double] = {
      val a = new Array[Double](k)
      var c = 0
      while (c < k) {
        var s = 0L; var i = 0
        while (i < dim) { val x = flat(c * dim + i).toLong; s += x * x; i += 1 }
        a(c) = math.sqrt(s.toDouble); c += 1
      }
      a
    }
  }

  /** One compiled pass: the candidate's code norm plus k integer dot
    * products — all reads are 1-byte Tungsten array loads, all
    * accumulation is long arithmetic the JIT can unroll/vectorize.
    */
  def compute(v: ArrayData, m: Model): ArrayData = {
    // hard shape check (matches the query-matrix require at planning):
    // truncating a mismatched candidate would return plausible-but-
    // wrong cosines (prefix dot over a prefix norm) instead of failing
    require(v.numElements() == m.dim,
      s"graft_all_cos_i8: candidate code length ${v.numElements()} != model dim ${m.dim}")
    val dim = m.dim
    var cs = 0L
    var i = 0
    while (i < dim) { val x = v.getByte(i).toLong; cs += x * x; i += 1 }
    val cn = math.sqrt(cs.toDouble)
    val out = new Array[Double](m.k)
    var c = 0
    while (c < m.k) {
      var dot = 0L; var j = 0
      val off = c * m.dim
      while (j < dim) { dot += v.getByte(j).toLong * m.flat(off + j); j += 1 }
      out(c) = dot.toDouble / (cn * m.norms(c))
      c += 1
    }
    new GenericArrayData(out)
  }
}
