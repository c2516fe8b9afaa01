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
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Product-quantization assignment in ONE codegen'd pass: for each of
  * the `m` subspaces of an int8 code vector, the id of the codebook
  * centroid minimizing integer L2 distance — computed as
  * argmax_c (2·dot(a_sm, cent_c) − |cent_c|²), ties to the SMALLEST
  * centroid id (strictly-greater comparison scanning c ascending).
  *
  * Exists because composing the same thing from m·nCentroids unrolled
  * per-centroid score expressions blows up generated-code size — at
  * the sim_pq operating point (m=32, nCentroids=64, sub=2 → ~12k
  * expression nodes in one projection) Janino's quadratic
  * local-variable bookkeeping exhausts the heap before the method even
  * compiles. Here the whole codebook lives in one reference object and
  * the generated code is a fixed three-level loop, same shape as
  * [[SignBands]] (which exists for the identical reason on the LSH
  * path).
  *
  * All arithmetic is exact 64-bit integer math — dot and norm of int8
  * codes are far below 2^63 — so assignments replay bit-for-bit in a
  * SQL oracle doing the same integer argmax.
  *
  * Children: (codes array<int>, cbFlat array<int> FOLDABLE row-major
  * [sm][centroid][dim] of length m·nCentroids·sub, nCentroids int
  * FOLDABLE, sub int FOLDABLE). Returns array<int> of length m.
  */
case class PqBestCodes(codes: Expression, cbFlat: Expression,
    nCentroids: Expression, sub: Expression) extends Expression {

  override def children: Seq[Expression] =
    Seq(codes, cbFlat, nCentroids, sub)

  override def nullable: Boolean = codes.nullable

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!codes.dataType.isInstanceOf[ArrayType] ||
        codes.dataType.asInstanceOf[ArrayType].elementType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"pq_best_codes requires array<int> codes, got ${codes.dataType}")
    else if (!cbFlat.foldable || !cbFlat.dataType.isInstanceOf[ArrayType] ||
        cbFlat.dataType.asInstanceOf[ArrayType].elementType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        "pq_best_codes requires a foldable array<int> codebook")
    else if (!nCentroids.foldable || nCentroids.dataType != IntegerType ||
        !sub.foldable || sub.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        "pq_best_codes requires foldable int nCentroids/sub")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val nc: Int = nCentroids.eval().asInstanceOf[Int]
  @transient private lazy val nd: Int = sub.eval().asInstanceOf[Int]
  @transient private lazy val cbArr: Array[Int] = {
    val a = cbFlat.eval().asInstanceOf[ArrayData].toIntArray()
    require(nc > 0 && nd > 0 && a.length % (nc * nd) == 0,
      s"codebook length ${a.length} not divisible by " +
        s"$nc centroids x $nd dims")
    a
  }
  @transient private lazy val m: Int = cbArr.length / (nc * nd)
  // |cent|² per (sm, c), precomputed once per task
  @transient private lazy val normArr: Array[Long] = {
    val out = new Array[Long](m * nc)
    var i = 0
    while (i < out.length) {
      var s = 0L
      var d = 0
      while (d < nd) {
        val x = cbArr(i * nd + d).toLong
        s += x * x
        d += 1
      }
      out(i) = s
      i += 1
    }
    out
  }

  override def eval(input: InternalRow): Any = {
    val v = codes.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val best = new Array[Int](m)
    var sm = 0
    while (sm < m) {
      var bestSc = Long.MinValue
      var bestC = 0
      var c = 0
      while (c < nc) {
        val base = (sm * nc + c) * nd
        var dot = 0L
        var d = 0
        while (d < nd) {
          dot += a.getInt(sm * nd + d).toLong * cbArr(base + d)
          d += 1
        }
        val sc = 2L * dot - normArr(sm * nc + c)
        if (sc > bestSc) { bestSc = sc; bestC = c }
        c += 1
      }
      best(sm) = bestC
      sm += 1
    }
    new GenericArrayData(best)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val v = codes.genCode(ctx)
    val cb = ctx.addReferenceObj("pqCodebook", cbArr, "int[]")
    val nrm = ctx.addReferenceObj("pqNorms", normArr, "long[]")
    val best = ctx.freshName("best")
    val sm = ctx.freshName("sm")
    val c = ctx.freshName("c")
    val d = ctx.freshName("d")
    val dot = ctx.freshName("dot")
    val sc = ctx.freshName("sc")
    val bestSc = ctx.freshName("bestSc")
    val bestC = ctx.freshName("bestC")
    val base = ctx.freshName("base")
    val compute =
      s"""
         |int[] $best = new int[$m];
         |for (int $sm = 0; $sm < $m; $sm++) {
         |  long $bestSc = java.lang.Long.MIN_VALUE;
         |  int $bestC = 0;
         |  for (int $c = 0; $c < $nc; $c++) {
         |    int $base = ($sm * $nc + $c) * $nd;
         |    long $dot = 0L;
         |    for (int $d = 0; $d < $nd; $d++) {
         |      $dot += (long) ${v.value}.getInt($sm * $nd + $d)
         |        * $cb[$base + $d];
         |    }
         |    long $sc = 2L * $dot - $nrm[$sm * $nc + $c];
         |    if ($sc > $bestSc) { $bestSc = $sc; $bestC = $c; }
         |  }
         |  $best[$sm] = $bestC;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($best);
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
    copy(codes = newChildren(0), cbFlat = newChildren(1),
      nCentroids = newChildren(2), sub = newChildren(3))
}

object PqBestCodes {
  /** Column API of `pq_best_codes(codes, cbFlat, nCentroids, sub)`:
    * codebook row-major `[sm][centroid][dim]`, flattened.
    */
  def pq_best_codes(codes: Column, cbFlat: Seq[Int], nCentroids: Int,
      sub: Int): Column =
    column(PqBestCodes(expression(codes), expression(typedlit(cbFlat)),
      expression(lit(nCentroids)), expression(lit(sub))))
}
