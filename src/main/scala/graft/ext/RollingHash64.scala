package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial (Karp–Rabin) rolling hash over a string's UTF-8 bytes:
  * `h = Σ h·B + byte` with 64-bit wrapping arithmetic, B = 1000003.
  *
  * A native Catalyst `Expression` WITH `doGenCode`, so document
  * fingerprinting stays inside whole-stage codegen (no UDF
  * serialization, no codegen fence) — this is the hot path of corpus
  * fingerprinting at 100 TB. The same recurrence extends to windowed
  * (true "rolling") hashes for shingle streams.
  *
  * Deterministic and platform-independent (pure integer arithmetic on
  * UTF-8 bytes).
  */
case class RollingHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_hash64 requires a string argument, got ${child.dataType}")
  }

  override def nullSafeEval(input: Any): Any =
    RollingHash64.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * ${RollingHash64.Base}L + ($bytes[$i] & 0xFFL);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object RollingHash64 {
  final val Base = 1000003L

  def hash(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * Base + (bytes(i) & 0xFFL)
      i += 1
    }
    h
  }

  /** Column API of `rolling_hash64(str)`. */
  def rolling_hash64(c: Column): Column = column(RollingHash64(expression(c)))
}
