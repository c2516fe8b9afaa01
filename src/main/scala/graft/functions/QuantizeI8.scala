package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType}

/** Symmetric per-vector int8 quantization of an embedding array — the
  * storage-scale transform for embedding lakes (float32 → int8 is a 4x
  * at-rest and shuffle-payload cut; at 100 TB of embeddings that is
  * the difference between one scan tier and the next).
  *
  * code_i = round(127 * x_i / s), s = max |x_i| (all-zero input → all
  * zero codes; the scale is recoverable map-side as
  * `greatest(array_max(v), -array_min(v))` with built-ins, so
  * dequantization `code * s / 127` needs no extra stored column).
  *
  * A native Catalyst `Expression` WITH `doGenCode` (same policy as
  * `DotDouble`: no interpreted higher-order functions on hot paths).
  * Arithmetic is double throughout — floats widened exactly — and
  * rounding is ties-away-from-zero, matching both Spark's `round` and
  * DuckDB's `round` on DOUBLE, so quantized codes are oracle-checkable
  * cross-engine. Null elements quantize to 0.
  */
case class QuantizeI8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"quantize_i8 requires array<float|double>, got $dt")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val xs = new Array[Double](n)
    var s = 0.0
    var i = 0
    while (i < n) {
      val x =
        if (a.isNullAt(i)) 0.0
        else if (isFloat) a.getFloat(i).toDouble
        else a.getDouble(i)
      xs(i) = x
      val ax = math.abs(x)
      if (ax > s) s = ax
      i += 1
    }
    val out = new Array[Byte](n)
    if (s > 0.0) {
      i = 0
      while (i < n) {
        val t = 127.0 * xs(i) / s
        out(i) =
          (if (t >= 0) math.floor(t + 0.5) else math.ceil(t - 0.5)).toByte
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val xs = ctx.freshName("xs")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val get =
        if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double[] $xs = new double[$n];
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = $a.isNullAt($i) ? 0.0 : $get;
         |  $xs[$i] = x;
         |  double ax = java.lang.Math.abs(x);
         |  if (ax > $s) $s = ax;
         |}
         |byte[] $out = new byte[$n];
         |if ($s > 0.0) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $t = 127.0 * $xs[$i] / $s;
         |    $out[$i] = (byte)($t >= 0
         |      ? java.lang.Math.floor($t + 0.5)
         |      : java.lang.Math.ceil($t - 0.5));
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object QuantizeI8 {
  /** Column API of `quantize_i8(v)`. */
  def quantize_i8(v: Column): Column = column(QuantizeI8(expression(v)))
}
