package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.sql.graft.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE merge-list REPLAY over one word, map-side: start from the
  * word's characters (word-final char carries `</w>`), apply each
  * learned merge in order with the textbook greedy left-to-right
  * non-overlap rule, return the final symbol array.
  *
  * This is the APPLY side of `graft.ext.BpeTrain` — per-word work
  * that needs no global state beyond the (driver-held, vocab-bounded)
  * merge list, so it belongs in ONE codegen'd projection. The replay
  * code lives in the companion object, which `BpeTrain`'s driver-side
  * training loop calls too (one merge per round over the top-K
  * words), so training and encoding share one copy. BpeTrainSpec pins
  * this expression equal to a relational replay (lead window +
  * gaps-and-islands even-offset + two keyed joins per merge, the
  * DuckDB oracle's shape) symbol-for-symbol, including greedy
  * behavior inside equal-symbol runs (merge at positions p, p+2, ...
  * of a candidate run, exactly the even-offset rule).
  *
  * Children: (word string, mergesFlat array<string> FOLDABLE
  * [l0, r0, l1, r1, ...] in learned order). Returns array<string>.
  */
case class BpeReplay(word: Expression, mergesFlat: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(word, mergesFlat)

  override def nullable: Boolean = word.nullable

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (word.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bpe_replay requires a string word, got ${word.dataType}")
    else if (!mergesFlat.foldable ||
        !mergesFlat.dataType.isInstanceOf[ArrayType] ||
        mergesFlat.dataType.asInstanceOf[ArrayType]
          .elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        "bpe_replay requires a foldable array<string> merge list")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val mergeArr: Array[String] = {
    val a = mergesFlat.eval().asInstanceOf[ArrayData]
    val out = (0 until a.numElements())
      .map(i => a.getUTF8String(i).toString).toArray
    require(out.length % 2 == 0,
      s"merge list length ${out.length} must be even (l,r pairs)")
    out
  }

  private def toArrayData(syms: Array[String]): GenericArrayData =
    new GenericArrayData(
      syms.map(s => UTF8String.fromString(s): Any))

  override def eval(input: InternalRow): Any = {
    val w = word.eval(input)
    if (w == null) return null
    toArrayData(
      BpeReplay.replay(w.asInstanceOf[UTF8String].toString, mergeArr))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val v = word.genCode(ctx)
    val self = ctx.addReferenceObj("bpeReplay", this,
      classOf[BpeReplay].getName)
    val compute =
      s"""
         |${ev.value} = $self.genReplay(${v.value});
       """.stripMargin
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
  def genReplay(w: UTF8String): ArrayData =
    toArrayData(BpeReplay.replay(w.toString, mergeArr))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(word = newChildren(0), mergesFlat = newChildren(1))
}

object BpeReplay {
  /** A word's starting symbols: its characters, the word-final one
    * carrying the `</w>` marker so merges never cross words. */
  private[graft] def initSyms(w: String): Array[String] = {
    val n = w.length
    Array.tabulate(n)(i =>
      if (i == n - 1) w.substring(i) + "</w>" else w.substring(i, i + 1))
  }

  /** One merge: every adjacent (l, r) becomes l+r, greedy
    * left-to-right and non-overlapping. */
  private[graft] def mergeOnce(syms: Array[String], l: String, r: String)
      : Array[String] = {
    val out = new java.util.ArrayList[String](syms.length)
    var j = 0
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
        out.add(l + r); j += 2
      } else { out.add(syms(j)); j += 1 }
    }
    out.toArray(new Array[String](out.size()))
  }

  /** The replay itself — shared by eval and the generated code (which
    * calls back into it through a reference object; the loop is
    * data-dependent string work, where inlined Java would buy nothing
    * over a direct call). BpeTrain's training loop runs the same two
    * steps, one merge per round. `mergesFlat` is [l0, r0, l1, r1, ...]
    * in learned order.
    */
  private[functions] def replay(w: String, mergesFlat: Array[String])
      : Array[String] = {
    var syms = initSyms(w)
    var m = 0
    while (m < mergesFlat.length) {
      syms = mergeOnce(syms, mergesFlat(m), mergesFlat(m + 1))
      m += 2
    }
    syms
  }

  /** Column API of `bpe_replay(word, mergesFlat)`: merges as
    * [l0, r0, l1, r1, ...] in learned order.
    */
  def bpe_replay(word: Column, mergesFlat: Seq[String]): Column =
    column(BpeReplay(expression(word), expression(typedlit(mergesFlat))))
}
