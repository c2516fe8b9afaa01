package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit pins for the CdcCuts expression itself (the dedup_cdc
  * integration is covered by CdcSpec's sequential-reference diff +
  * the oracle): the rolling update agrees with a per-window fold on
  * BOTH eval paths, nulls propagate, and bad arguments fail analysis
  * cleanly.
  */
class CdcCutsSpec extends SparkSpec {

  // per-window fold reference (the definition the rolling pass must
  // reproduce bit for bit)
  private def foldCuts(s: String, w: Int, m: Int): Seq[Long] =
    (w - 1 until s.length).filter { e =>
      var h = 0L
      (e - w + 1 to e).foreach(i => h = (h * 257L + s(i).toLong) % 1000003L)
      h % m == 0
    }.map(_.toLong)

  test("rolling pass matches the per-window fold on both eval paths, " +
      "including short strings and varied window/mask") {
    val s0 = spark; import s0.implicits._
    val texts = Seq("spark join window batch stream sort merge hash",
      "aaaaaaaaaaaaaaaaaaaaaaaa", "short", "x", "",
      "the quick brown fox jumps over the lazy dog " * 4)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN");
         (w, m) <- Seq((8, 32), (4, 16), (2, 2))) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try {
        val got = df.select(col("id"), CdcCuts.cdc_cuts(col("t"), w, m))
          .orderBy("id").collect().map(_.getSeq[Long](1).toSeq)
        val exp = texts.map(foldCuts(_, w, m))
        assert(got.toSeq == exp, s"mode $codegen w=$w m=$m")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("cdc_chunks emits exactly the substrings between cdc_cuts " +
      "boundaries on both eval paths (single-pass == assembled)") {
    val s0 = spark; import s0.implicits._
    val texts = Seq("spark join window batch stream sort merge hash " +
        "key table scan row group filter order part small big slow",
      "aaaaaaaaaaaaaaaaaaaaaaaa", "short", "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    def assemble(t: String, w: Int, m: Int): Seq[String] = {
      val cuts = foldCuts(t, w, m).map(_.toInt)
      val bounds = (-1 +: cuts) ++
        (if (cuts.nonEmpty && cuts.last == t.length - 1) Nil
         else Seq(t.length - 1))
      bounds.sliding(2).collect {
        case Seq(a, b) => t.substring(a + 1, b + 1)
      }.toSeq
    }
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN");
         (w, m) <- Seq((8, 32), (4, 8))) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try {
        val got = df.select(col("id"), CdcCuts.cdc_chunks(col("t"), w, m))
          .orderBy("id").collect().map(_.getSeq[String](1).toSeq)
        val exp = texts.map(assemble(_, w, m))
        assert(got.toSeq == exp, s"mode $codegen w=$w m=$m: $got vs $exp")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("null input yields null, not a crash") {
    val s0 = spark; import s0.implicits._
    val got = Seq((1L, Option.empty[String]), (2L, Some("abcdefghij")))
      .toDF("id", "t")
      .select(col("id"), CdcCuts.cdc_cuts(col("t"), 8, 32))
      .orderBy("id").collect()
    assert(got(0).isNullAt(1) && !got(1).isNullAt(1))
  }

  test("non-foldable or out-of-range window/maskMod fail analysis " +
      "with a clean message") {
    val s0 = spark; import s0.implicits._
    val df = Seq((1L, "abc")).toDF("id", "t")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("cdc_cuts(t, 1, 32)")).collect()
    }
    assert(e1.getMessage.contains("cdc_cuts"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("cdc_cuts(t, id, 32)")).collect()
    }
    assert(e2.getMessage.contains("cdc_cuts"), e2.getMessage)
  }
}
