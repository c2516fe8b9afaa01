package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit pins for the PqBestCodes expression itself (the sim_pq
  * integration is covered by ExtOpsSpec + the oracle): codegen and
  * interpreted eval agree, the argmin-L2 semantics match a driver-side
  * recomputation, ties go to the smallest centroid id, and nulls
  * propagate.
  */
class PqBestCodesSpec extends SparkSpec {
  
  // m=2 subspaces, nc=3 centroids, sub=2 dims; row-major [sm][c][d]
  private val cb = Seq(
    0, 0, /**/ 10, 0, /**/ 0, 10, // sm 0
    -5, -5, /**/ 5, 5, /**/ 0, 0) // sm 1
  private val nc = 3
  private val sub = 2

  private def bruteBest(a: Seq[Int]): Seq[Int] =
    (0 until 2).map { sm =>
      (0 until nc).minBy { c =>
        val base = (sm * nc + c) * sub
        (0 until sub).map { d =>
          val diff = a(sm * sub + d).toLong - cb(base + d)
          diff * diff
        }.sum
      }
    }

  test("matches a driver-side argmin-L2 on both eval paths") {
    val rows = Seq(
      Seq(9, 1, 4, 4), Seq(-1, 8, -6, -4), Seq(0, 0, 0, 0),
      Seq(127, -127, 3, 3), Seq(-2, -2, -2, -2))
    val s0 = spark; import s0.implicits._
    val df = rows.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "a")
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try {
        val got = df
          .select(col("id"), PqBestCodes.pq_best_codes(col("a"), cb, nc, sub))
          .orderBy("id").collect()
          .map(_.getSeq[Int](1).toSeq)
        assert(got.toSeq == rows.map(bruteBest), s"mode $codegen")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("ties pick the smallest centroid id") {
    // equidistant from centroids (10,0) and (0,10) in sm 0 and from
    // (-5,-5)/(5,5)/(0,0) in sm 1 at the origin
    val s0 = spark; import s0.implicits._
    val got = Seq((1L, Seq(5, 5, 0, 0))).toDF("id", "a")
      .select(PqBestCodes.pq_best_codes(col("a"), cb, nc, sub))
      .head().getSeq[Int](0).toSeq
    // sm 0: all three centroids tie at L2 50 from (5,5) -> smallest
    // id 0 wins; sm 1: c0/c1 tie at 50 but c2 is exact (0) -> 2
    assert(got == Seq(0, 2))
  }

  test("null codes row yields null, not a crash") {
    val s0 = spark; import s0.implicits._
    val got = Seq((1L, Option.empty[Seq[Int]]),
        (2L, Some(Seq(1, 1, 1, 1)))).toDF("id", "a")
      .select(col("id"), PqBestCodes.pq_best_codes(col("a"), cb, nc, sub)
        .as("bc"))
      .orderBy("id").collect()
    assert(got(0).isNullAt(1))
    assert(got(1).getSeq[Int](1).length == 2)
  }
}
