package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.ext.RollingHash64
import graft.functions.{BloomContains, BpeReplay, CdcChunks, CdcCuts, DotDouble,
  KmvDistinct, PqBestCodes, QuantizeI8, SignBands}

/** Spark extensions entry point: installs the library's native
  * Catalyst expressions as SQL functions, and its optimizer rules and
  * planner strategy. Enable with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (as `GraftSession` does, or programmatically via the builder's
  * `withExtensions`) — the one installation path for the SQL names.
  * The Column API (`DotDouble.dot_double`, ...) builds the same
  * expressions directly and needs no installed name.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.functions

  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, cls, builder) <- functions)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    // Keyless BETWEEN joins → binned equi-joins (opt-in via
    // spark.graft.rangeJoin.binWidth; see plans/RangeJoinRewrite).
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // Native sort-merge as-of join (plans/AsOfJoinPlan): plans the
    // AsOfJoinNode logical operator as AsOfJoinExec.
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // Left-only filters commute with the as-of join; push them below
    // the custom node so the standard rules can carry them to the
    // scan (custom operators otherwise BLOCK all predicate pushdown).
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinFilterPushdown)
    // Unused payload columns drop below the node too — the
    // references-all contract otherwise forces a wide dimension's
    // every column through the shuffle.
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinColumnPruning)
    // Self-join-vs-own-aggregate → single-scan window (opt-in via
    // spark.graft.aggJoinToWindow; see plans/AggJoinToWindow). Runs
    // post-hoc on the ANALYZED plan — before column pruning makes the
    // join's two copies of the shared subtree structurally diverge.
    ext.injectPostHocResolutionRule(_ => graft.plans.AggJoinToWindow)
  }
}

object GraftExtensions {
  /** Every graft SQL function: name, expression class, builder. */
  private val functions
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("rolling_hash64", classOf[RollingHash64], c => RollingHash64(c(0))),
    ("dot_double", classOf[DotDouble], c => DotDouble(c(0), c(1))),
    ("quantize_i8", classOf[QuantizeI8], c => QuantizeI8(c(0))),
    ("sign_bands", classOf[SignBands],
      c => SignBands(c(0), c(1), c(2), c(3))),
    ("pq_best_codes", classOf[PqBestCodes],
      c => PqBestCodes(c(0), c(1), c(2), c(3))),
    ("bloom_contains", classOf[BloomContains],
      c => BloomContains(c(0), c(1), c(2), c(3), c(4))),
    ("bpe_replay", classOf[BpeReplay], c => BpeReplay(c(0), c(1))),
    ("cdc_cuts", classOf[CdcCuts], c => CdcCuts(c(0), c(1), c(2))),
    ("cdc_chunks", classOf[CdcChunks], c => CdcChunks(c(0), c(1), c(2))),
    ("kmv_distinct", classOf[KmvDistinct], kmvDistinctBuilder))

  /** SQL builder for `kmv_distinct(col, k)`. The k argument must be
    * collapsed to an Int when the call is built (it sizes the
    * aggregate's bounded state), so every malformed call — wrong
    * arity, non-foldable k, NULL, non-numeric, k < 2 — is rejected
    * HERE with a clean AnalysisException naming the function, rather
    * than surfacing as IndexOutOfBounds/ClassCast/NPE from the naive
    * `children(1).eval()` unpack. */
  private[graft] def kmvDistinctBuilder(
      children: Seq[Expression]): Expression = {
    def fail(msg: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" -> s"kmv_distinct: $msg"))
    if (children.length != 2)
      fail(s"expects exactly 2 arguments (column, k), got ${children.length}")
    val kExpr = children(1)
    if (!kExpr.foldable)
      fail("k must be a foldable (literal) expression")
    val kVal = kExpr.eval()
    if (kVal == null) fail("k must not be NULL")
    val k = kVal match {
      case n: java.lang.Number =>
        // no silent truncation: intValue() would wrap 2^32+2 to 2
        // and floor 2.9 to 2 — both must be rejected, not resized
        val l = n.longValue()
        if (n.doubleValue() != l)
          fail(s"k must be an integer, got $n")
        if (l < Int.MinValue || l > Int.MaxValue)
          fail(s"k out of Int range: $l")
        l.toInt
      case other => fail(
        s"k must be numeric, got ${other.getClass.getSimpleName}")
    }
    if (k < 2) fail(s"k must be >= 2, got $k")
    KmvDistinct(children(0), k)
  }
}
