package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, IntegerType, LongType}

/** Membership probe against a Bloom-filter bitmap: true iff ALL `k`
  * bit positions `(h1 + i*h2) mod mBits` (i = 0..k-1, Kirsch &
  * Mitzenmacher double hashing — the library-wide hash-family policy,
  * see `graft.ext.Dedup`) are set in `bitmap`.
  *
  * The bitmap child must be FOLDABLE binary (a `lit(bytes)`): codegen
  * pins it once as a reference object in the generated class — the
  * task-binary broadcast pattern, same as `SignBands`' plane matrix —
  * so the probe is a pure per-row loop over k bit tests, no join, no
  * shuffle. That is the whole point at 100 TB: testing an incoming
  * batch against a billion-key corpus costs one map-side pass over the
  * batch instead of a batch×corpus join.
  *
  * Determinism: h1/h2 are md5-derived (non-negative 32-bit), positions
  * are plain integer arithmetic — an oracle replays membership exactly
  * (false positives included) as "all k positions appear in the
  * corpus's distinct-position set".
  */
case class BloomContains(bitmap: Expression, h1: Expression,
    h2: Expression, k: Expression, mBits: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(bitmap, h1, h2, k, mBits)

  override def nullable: Boolean = h1.nullable || h2.nullable

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (!bitmap.foldable || bitmap.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        "bloom_contains requires a foldable binary bitmap")
    else if (h1.dataType != LongType || h2.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_contains requires bigint h1/h2, got " +
          s"${h1.dataType}/${h2.dataType}")
    else if (!k.foldable || k.dataType != IntegerType ||
        !mBits.foldable || mBits.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        "bloom_contains requires foldable int k/mBits")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val bytes: Array[Byte] = {
    val b = bitmap.eval().asInstanceOf[Array[Byte]]
    require(b != null && b.length * 8 >= nM,
      s"bloom bitmap has ${if (b == null) 0 else b.length * 8} bits, " +
        s"needs $nM")
    b
  }
  @transient private lazy val nK: Int = k.eval().asInstanceOf[Int]
  @transient private lazy val nM: Int = {
    val m = mBits.eval().asInstanceOf[Int]
    require(m > 0 && m % 8 == 0, s"mBits must be a positive multiple of 8, got $m")
    m
  }

  override def eval(input: InternalRow): Any = {
    val a = h1.eval(input)
    val b = h2.eval(input)
    if (a == null || b == null) return null
    val v1 = a.asInstanceOf[Long]
    val v2 = b.asInstanceOf[Long]
    var i = 0
    while (i < nK) {
      val p = ((v1 + i.toLong * v2) % nM).toInt
      if ((bytes(p >>> 3) >> (p & 7) & 1) == 0) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c1 = h1.genCode(ctx)
    val c2 = h2.genCode(ctx)
    val bm = ctx.addReferenceObj("bloomBits", bytes, "byte[]")
    val i = ctx.freshName("i")
    val p = ctx.freshName("p")
    ev.copy(code = code"""
      ${c1.code}
      ${c2.code}
      boolean ${ev.isNull} = ${c1.isNull} || ${c2.isNull};
      boolean ${ev.value} = true;
      if (!${ev.isNull}) {
        for (int $i = 0; $i < $nK; $i++) {
          int $p = (int) ((${c1.value} + (long) $i * ${c2.value}) % $nM);
          if ((($bm[$p >>> 3] >> ($p & 7)) & 1) == 0) {
            ${ev.value} = false;
            break;
          }
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(bitmap = newChildren(0), h1 = newChildren(1),
      h2 = newChildren(2), k = newChildren(3), mBits = newChildren(4))
}

object BloomContains {
  /** Column API of `bloom_contains(bitmap, h1, h2, k, mBits)`. */
  def bloom_contains(bitmap: Array[Byte], h1: Column, h2: Column,
      k: Int, mBits: Int): Column =
    column(BloomContains(expression(lit(bitmap)), expression(h1),
      expression(h2), expression(lit(k)), expression(lit(mBits))))
}
