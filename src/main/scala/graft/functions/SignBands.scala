package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, typedlit}
import org.apache.spark.sql.graft.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** All sign-LSH band keys of an embedding vector in ONE codegen'd pass:
  * band j's key has bit p set iff `dot(vec, plane_{j*rowsPerBand+p}) > 0`.
  *
  * Exists because composing the same thing from `bands * rowsPerBand`
  * separate dot-product expressions (one per plane) blows the generated
  * method past JIT/codegen limits and falls back to per-expression
  * interpreted eval — measured ~30x slower on the banded-projection
  * stage. Here the whole plane matrix lives in one reference object and
  * the generated code is a single three-level loop.
  *
  * Each dot product is a strict left fold in double, element order —
  * bit-identical to `graft.functions.DotDouble` and to DuckDB's
  * `list_sum(list_transform(...))`, so bucket assignments reproduce
  * cross-engine.
  *
  * Children: (vec array<float|double>, planesFlat array<double> FOLDABLE
  * row-major [plane][dim], bands int FOLDABLE, rowsPerBand int FOLDABLE).
  * Returns array<long> of length `bands`.
  */
case class SignBands(vec: Expression, planes: Expression,
    bands: Expression, rowsPerBand: Expression) extends Expression {

  override def children: Seq[Expression] =
    Seq(vec, planes, bands, rowsPerBand)

  override def nullable: Boolean = vec.nullable

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    def vecOk(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (!vecOk(vec.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"sign_bands requires array<float|double> vector, got ${vec.dataType}")
    else if (!planes.foldable || !planes.dataType.isInstanceOf[ArrayType] ||
        planes.dataType.asInstanceOf[ArrayType].elementType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        "sign_bands requires a foldable array<double> plane matrix")
    else if (!bands.foldable || bands.dataType != IntegerType ||
        !rowsPerBand.foldable || rowsPerBand.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        "sign_bands requires foldable int bands/rowsPerBand")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val nBands: Int =
    bands.eval().asInstanceOf[Int]
  @transient private lazy val nRows: Int =
    rowsPerBand.eval().asInstanceOf[Int]
  @transient private lazy val planeArr: Array[Double] = {
    val a = planes.eval().asInstanceOf[ArrayData].toDoubleArray()
    require(nBands > 0 && nRows > 0 && a.length % (nBands * nRows) == 0,
      s"plane matrix length ${a.length} not divisible by " +
        s"$nBands bands x $nRows rows")
    a
  }
  @transient private lazy val dim: Int = planeArr.length / (nBands * nRows)
  private def vecIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dim)
    val isF = vecIsFloat
    val keys = new Array[Long](nBands)
    var j = 0
    while (j < nBands) {
      var key = 0L
      var p = 0
      while (p < nRows) {
        val base = (j * nRows + p) * dim
        var acc = 0.0
        var i = 0
        while (i < n) {
          // A null element contributes 0.0 — deterministic on both
          // eval paths (an UnsafeArrayData null slot reads as 0);
          // corpora with nullable elements should drop/impute them
          // upstream, since a SQL-mirror oracle would propagate NULL.
          val x: Double =
            if (a.isNullAt(i)) 0.0
            else if (isF) a.getFloat(i).toDouble else a.getDouble(i)
          acc += x * planeArr(base + i)
          i += 1
        }
        if (acc > 0) key |= (1L << p)
        p += 1
      }
      keys(j) = key
      j += 1
    }
    new GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val pl = ctx.addReferenceObj("planes", planeArr, "double[]")
    val keys = ctx.freshName("keys")
    val n = ctx.freshName("n")
    val j = ctx.freshName("j")
    val p = ctx.freshName("p")
    val i = ctx.freshName("i")
    val acc = ctx.freshName("acc")
    val key = ctx.freshName("key")
    val base = ctx.freshName("base")
    // isNullAt guard mirrors eval(): null elements contribute 0.0.
    val get =
      if (vecIsFloat)
        s"(${v.value}.isNullAt($i) ? 0.0d : (double) ${v.value}.getFloat($i))"
      else
        s"(${v.value}.isNullAt($i) ? 0.0d : ${v.value}.getDouble($i))"
    val compute =
      s"""
         |int $n = java.lang.Math.min(${v.value}.numElements(), $dim);
         |long[] $keys = new long[$nBands];
         |for (int $j = 0; $j < $nBands; $j++) {
         |  long $key = 0L;
         |  for (int $p = 0; $p < $nRows; $p++) {
         |    int $base = ($j * $nRows + $p) * $dim;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += $get * $pl[$base + $i];
         |    }
         |    if ($acc > 0) $key |= (1L << $p);
         |  }
         |  $keys[$j] = $key;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
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

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0), planes = newChildren(1),
      bands = newChildren(2), rowsPerBand = newChildren(3))
}

object SignBands {
  /** Column API of `sign_bands(vec, planesFlat, bands, rowsPerBand)`:
    * planes row-major `[plane][dim]`, flattened.
    */
  def sign_bands(vec: Column, planesFlat: Seq[Double], bands: Int,
      rowsPerBand: Int): Column =
    column(SignBands(expression(vec), expression(typedlit(planesFlat)),
      expression(lit(bands)), expression(lit(rowsPerBand))))
}
