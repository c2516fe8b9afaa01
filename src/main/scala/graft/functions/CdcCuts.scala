package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunk boundaries: the 0-based codepoint positions
  * `e` where the base-257 mod-1,000,003 polynomial hash of the
  * `window` codepoints ending at `e` is ≡ 0 (mod `maskMod`) — the
  * Gear/Rabin boundary rule of the LBFS/restic storage-dedup family.
  *
  * A native Catalyst `Expression` with `doGenCode`, replacing the
  * equivalent higher-order-function pipeline
  * (`transform(filter(sequence…))` with a nested `aggregate` slice
  * fold): HOF lambdas run interpreted, and the nested fold is
  * O(len·window) per row — this is ONE O(len) pass with a true
  * rolling update `h ← (h − c_out·B^(W−1))·B + c_in (mod M)`, kept
  * inside whole-stage codegen. The rolling recurrence maintains
  * exactly the per-window fold value, so results are bit-identical
  * to the HOF form and to the DuckDB oracle's `list_reduce` replay
  * (all intermediates far inside non-negative int64).
  *
  * Positions are Unicode codepoints (what Spark's `split(s, "")`,
  * `substring`, and DuckDB's `string_split`/`ascii` count) — on the
  * pure-ASCII corpus these coincide with bytes.
  */
case class CdcCuts(str: Expression, window: Expression,
    maskMod: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(str, window, maskMod)
  override def nullable: Boolean = str.nullable
  override def prettyName: String = "cdc_cuts"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (str.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"cdc_cuts requires a string argument, got ${str.dataType}")
    else if (!window.foldable || window.dataType != IntegerType ||
        !maskMod.foldable || maskMod.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        "cdc_cuts requires foldable int window/maskMod")
    else {
      val w = window.eval().asInstanceOf[Int]
      val m = maskMod.eval().asInstanceOf[Int]
      if (w < 2 || m < 2)
        TypeCheckResult.TypeCheckFailure(
          s"cdc_cuts requires window >= 2 and maskMod >= 2, got $w/$m")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  private lazy val w: Int = window.eval().asInstanceOf[Int]
  private lazy val m: Int = maskMod.eval().asInstanceOf[Int]
  // B^(window-1) mod M: the outgoing codepoint's positional weight
  private lazy val pow: Long = {
    var p = 1L
    var i = 1
    while (i < w) { p = p * CdcCuts.B % CdcCuts.M; i += 1 }
    p
  }

  private[functions] def cuts(s: UTF8String): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    val out = new java.util.ArrayList[java.lang.Long]()
    var h = 0L
    var i = 0
    while (i < n) {
      val c = cps(i).toLong
      h =
        if (i < w) (h * CdcCuts.B + c) % CdcCuts.M
        else ((h + CdcCuts.M - cps(i - w) * pow % CdcCuts.M) % CdcCuts.M
          * CdcCuts.B + c) % CdcCuts.M
      if (i >= w - 1 && h % m == 0) out.add(i.toLong)
      i += 1
    }
    val arr = new Array[Long](out.size())
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    new GenericArrayData(arr)
  }

  override def eval(input: InternalRow): Any = {
    val s = str.eval(input)
    if (s == null) null else cuts(s.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val v = str.genCode(ctx)
    val self = ctx.addReferenceObj("cdcCuts", this,
      classOf[CdcCuts].getName)
    val compute = s"${ev.value} = $self.genCuts(${v.value});"
    if (nullable) {
      ev.copy(code = code"""
        ${v.code}
        boolean ${ev.isNull} = ${v.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          $compute
        }""")
    } else {
      ev.copy(code = code"""
        ${v.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        $compute""",
        isNull = org.apache.spark.sql.catalyst.expressions.codegen
          .FalseLiteral)
    }
  }

  /** Codegen entry point (must be public for Janino). */
  def genCuts(s: UTF8String): ArrayData = cuts(s)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(str = newChildren(0), window = newChildren(1),
      maskMod = newChildren(2))
}

/** The whole chunking in one expression: the same rolling boundary
  * pass as [[CdcCuts]] PLUS the substring assembly, emitting the
  * chunk strings directly as `array<string>`.
  *
  * Exists because the built-in-HOF assembly over `cdc_cuts` collapses
  * badly: Catalyst's projection collapse inlines the cuts/bounds
  * aliases into EVERY element lambda of the chunk `transform`, so the
  * O(len) rolling pass re-ran O(chunks)× per row (plus twice more in
  * the Generate's inferred non-empty filter) — measured 7.2 s for
  * `dedup_cdc` at sf0.1 vs sub-second with this single-pass form.
  * Semantics are identical (CdcChunksSpec diffs the two and the
  * sequential reference).
  */
case class CdcChunks(str: Expression, window: Expression,
    maskMod: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(str, window, maskMod)
  override def nullable: Boolean = str.nullable
  override def prettyName: String = "cdc_chunks"
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (str.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"cdc_chunks requires a string argument, got ${str.dataType}")
    else if (!window.foldable || window.dataType != IntegerType ||
        !maskMod.foldable || maskMod.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        "cdc_chunks requires foldable int window/maskMod")
    else {
      val w = window.eval().asInstanceOf[Int]
      val m = maskMod.eval().asInstanceOf[Int]
      if (w < 2 || m < 2)
        TypeCheckResult.TypeCheckFailure(
          s"cdc_chunks requires window >= 2 and maskMod >= 2, got $w/$m")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  private lazy val w: Int = window.eval().asInstanceOf[Int]
  private lazy val m: Int = maskMod.eval().asInstanceOf[Int]
  private lazy val pow: Long = {
    var p = 1L
    var i = 1
    while (i < w) { p = p * CdcCuts.B % CdcCuts.M; i += 1 }
    p
  }

  private[functions] def chunks(s: UTF8String): ArrayData = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val n = cps.length
    val out = new java.util.ArrayList[UTF8String]()
    var h = 0L
    var start = 0 // codepoint index where the current chunk begins
    var i = 0
    while (i < n) {
      val c = cps(i).toLong
      h =
        if (i < w) (h * CdcCuts.B + c) % CdcCuts.M
        else ((h + CdcCuts.M - cps(i - w) * pow % CdcCuts.M) % CdcCuts.M
          * CdcCuts.B + c) % CdcCuts.M
      if (i >= w - 1 && h % m == 0) {
        out.add(UTF8String.fromString(
          new String(cps, start, i + 1 - start)))
        start = i + 1
      }
      i += 1
    }
    if (start < n || n == 0)
      out.add(UTF8String.fromString(new String(cps, start, n - start)))
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }

  override def eval(input: InternalRow): Any = {
    val s = str.eval(input)
    if (s == null) null else chunks(s.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val v = str.genCode(ctx)
    val self = ctx.addReferenceObj("cdcChunks", this,
      classOf[CdcChunks].getName)
    val compute = s"${ev.value} = $self.genChunks(${v.value});"
    if (nullable) {
      ev.copy(code = code"""
        ${v.code}
        boolean ${ev.isNull} = ${v.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          $compute
        }""")
    } else {
      ev.copy(code = code"""
        ${v.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        $compute""",
        isNull = org.apache.spark.sql.catalyst.expressions.codegen
          .FalseLiteral)
    }
  }

  /** Codegen entry point (must be public for Janino). */
  def genChunks(s: UTF8String): ArrayData = chunks(s)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(str = newChildren(0), window = newChildren(1),
      maskMod = newChildren(2))
}

object CdcCuts {
  final val B = 257L
  final val M = 1000003L

  /** Column API of `cdc_cuts(str, window, maskMod)`. */
  def cdc_cuts(str: Column, window: Int, maskMod: Int): Column =
    column(CdcCuts(expression(str), expression(lit(window)),
      expression(lit(maskMod))))

  /** Column API of `cdc_chunks(str, window, maskMod)`. */
  def cdc_chunks(str: Column, window: Int, maskMod: Int): Column =
    column(CdcChunks(expression(str), expression(lit(window)),
      expression(lit(maskMod))))
}
