package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ExpressionColumns.{column => toColumn, expression => toExpr}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two `array<double>` columns.
  *
  * Why a custom Expression (SURVEY §4.3 kept this slot open): the
  * built-in formulation `aggregate(zip_with(a, b, _*_), 0d, _+_)` is
  * semantically fine but higher-order-function lambdas are interpreted
  * — each element allocates and dispatches through the lambda
  * evaluator. For similarity search the dot product IS the inner loop
  * (corpus × queries × dimensions multiplies), so this is the one hot
  * path where an interpreted expression can't be reshaped away with
  * explode/aggregate tricks. `doGenCode` emits a tight primitive loop
  * that whole-stage codegen inlines straight into the scan stage.
  *
  * Semantics: left-fold in index order over min(len(a), len(b)) —
  * identical to the HOF form on equal-length inputs (the embedding
  * case; DotProductSpec keeps that fold as its reference); NULL if either array is NULL. Null ELEMENTS are not expected
  * (embedding vectors are dense) and read as 0.0.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** `graft_dot(a, b)` as a Column, resolved without any function registry. */
  def column(a: Column, b: Column): Column = toColumn(DotProduct(toExpr(a), toExpr(b)))
}
