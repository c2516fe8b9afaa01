package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Dot product of two numeric arrays in double precision — a native
  * Catalyst `Expression` WITH `doGenCode`, so embedding similarity stays
  * inside whole-stage codegen (no interpreted higher-order functions, no
  * UDF boxing) — this is the hot path of all-pairs / top-k similarity
  * over `array<float>` embedding columns at scale.
  *
  * Summation is a strict left fold in element order
  * (`acc += a(i) * b(i)`), each product computed in double — bit-identical
  * to `aggregate(zip_with(a, b, (x, y) => x * y), 0d, _ + _)` and to
  * DuckDB's `list_sum(list_transform(...))` evaluation, so results are
  * oracle-checkable cross-engine.
  *
  * Accepts `array<float>` or `array<double>` on either side (mixed ok).
  */
case class DotDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"dot_double requires array<float|double> args, got " +
          s"${left.dataType} and ${right.dataType}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val aF = elemType(left) == FloatType
    val bF = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x: Double = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y: Double = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      def get(arr: String, e: Expression) = elemType(e) match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case _ => s"$arr.getDouble($i)"
      }
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${get(a, left)} * ${get(b, right)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotDouble {
  /** Column API of `dot_double(a, b)`. */
  def dot_double(a: Column, b: Column): Column =
    column(DotDouble(expression(a), expression(b)))
}
