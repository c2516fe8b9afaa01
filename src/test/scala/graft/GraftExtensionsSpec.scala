package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col

class GraftExtensionsSpec extends SparkSpec {
  // A fresh session carries only what the extensions install: no
  // function registered at runtime on the shared session reaches it.
  private lazy val fresh: SparkSession = spark.newSession()

  test("extensions register native expressions for SQL use") {
    val r = fresh.sql(
      """SELECT rolling_hash64('hi') AS rh,
                dot_double(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
                quantize_i8(array(1.0D, -2.0D, 0.5D)) AS q,
                sign_bands(array(1.0D, 1.0D),
                  array(1.0D, 0.0D, 0.0D, 1.0D, -1.0D, 0.0D), 1, 3) AS sb,
                pq_best_codes(array(1, 2, -3, 4),
                  array(0, 0, 1, 2, -3, 4, 5, 5), 2, 2) AS pq,
                bloom_contains(X'FFFFFFFFFFFFFFFF', 1L, 2L, 3, 64) AS bc,
                bpe_replay('low', array('l', 'o', 'lo', 'w</w>')) AS bpe,
                cdc_cuts('abcdefghij', 4, 4) IS NOT NULL AS cuts,
                array_join(cdc_chunks('abcdefghij', 4, 4), '') AS chunks""")
      .head()
    assert(r.getLong(0) ==
      graft.ext.RollingHash64.hash("hi".getBytes("UTF-8")))
    assert(r.getDouble(1) == 11.0)
    assert(r.getSeq[Byte](2) == Seq[Byte](64, -127, 32))
    // planes (1,0), (0,1), (-1,0) against vec (1,1): signs +,+,- ->
    // one band of 3 rows packs bits 1,1,0
    assert(r.getSeq[Long](3) == Seq(3L))
    // subspace (1,2) is nearest centroid 1 = (1,2); (-3,4) centroid 0
    assert(r.getSeq[Int](4) == Seq(1, 0))
    assert(r.getBoolean(5))
    assert(r.getSeq[String](6) == Seq("low</w>"))
    assert(r.getBoolean(7))
    // the chunks partition the string
    assert(r.getString(8) == "abcdefghij")
    assert(fresh.sql("SELECT kmv_distinct(t, 16) FROM VALUES ('a'), " +
      "('b'), ('a') AS v(t)").head.getLong(0) == 2L)
  }

  test("the Column API returns what each function's SQL form returns, " +
      "on a session with no runtime registrations") {
    import fresh.implicits._
    import graft.functions._
    val df = Seq(
      ("low lower lowest", Seq(1.0, 2.0, -0.5, 0.25),
        Seq(0.5, -1.0, 2.0, 4.0), Seq(1, 2, -3, 4), 17L, -5L, "lowest"),
      ("", Seq(0.0, 0.0, 0.0, 0.0), Seq(1.0, 1.0, 1.0, 1.0),
        Seq(0, 0, 0, 0), 0L, 1L, "l"),
      ("the quick brown fox jumps over the lazy dog",
        Seq(-3.0, 7.5, 1.0, -0.125), Seq(2.0, 2.0, -2.0, 1.0),
        Seq(5, 5, -4, 9), Long.MaxValue, Long.MinValue, "wool"))
      .toDF("t", "v", "w", "a", "h1", "h2", "word")
    val planes = Seq(1.0, 0.0, 0.0, 1.0, -1.0, 0.5, 0.25, -1.0,
      0.0, 1.0, 1.0, 0.0, 2.0, -1.0, 0.5, 0.5, -0.5, 0.0, 1.0, 1.0,
      0.0, 0.0, -1.0, 1.0)
    val cb = Seq(0, 0, 1, 2, -3, 4, 5, 5)
    val bitmap = Array.tabulate[Byte](8)(i => (0x5A ^ (i * 37)).toByte)
    val bitmapHex = bitmap.map(b => f"${b & 0xFF}%02X").mkString
    val merges = Seq("l", "o", "lo", "w", "low", "e", "o", "o")
    def sqlArray(xs: Seq[Any]): String = xs.map {
      case s: String => s"'$s'"
      case d: Double => s"${d}D"
      case x => x.toString
    }.mkString("array(", ", ", ")")
    val cases: Seq[(String, Column, String)] = Seq(
      ("rolling_hash64", graft.ext.RollingHash64.rolling_hash64(col("t")),
        "rolling_hash64(t)"),
      ("dot_double", DotDouble.dot_double(col("v"), col("w")),
        "dot_double(v, w)"),
      ("quantize_i8", QuantizeI8.quantize_i8(col("v")), "quantize_i8(v)"),
      ("sign_bands", SignBands.sign_bands(col("v"), planes, 2, 3),
        s"sign_bands(v, ${sqlArray(planes)}, 2, 3)"),
      ("pq_best_codes", PqBestCodes.pq_best_codes(col("a"), cb, 2, 2),
        s"pq_best_codes(a, ${sqlArray(cb)}, 2, 2)"),
      ("bloom_contains",
        BloomContains.bloom_contains(bitmap, col("h1"), col("h2"), 3, 64),
        s"bloom_contains(X'$bitmapHex', h1, h2, 3, 64)"),
      ("bpe_replay", BpeReplay.bpe_replay(col("word"), merges),
        s"bpe_replay(word, ${sqlArray(merges)})"),
      ("cdc_cuts", CdcCuts.cdc_cuts(col("t"), 4, 4), "cdc_cuts(t, 4, 4)"),
      ("cdc_chunks", CdcCuts.cdc_chunks(col("t"), 4, 4),
        "cdc_chunks(t, 4, 4)"))
    for ((name, api, sql) <- cases) {
      val viaApi = df.select(api.as("x")).collect().map(_.get(0)).toSeq
      val viaSql = df.selectExpr(s"$sql AS x").collect().map(_.get(0)).toSeq
      assert(viaApi == viaSql, name)
      assert(viaApi.exists(_ != null), name)
    }
  }

  test("kmv_distinct builder rejects malformed calls with a clean " +
      "AnalysisException naming the function, not IOOBE/CCE/NPE") {
    import org.apache.spark.sql.AnalysisException
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[AnalysisException](spark.sql(sql).collect())
      assert(e.getMessage.contains("kmv_distinct") &&
        e.getMessage.contains(frag), s"$sql -> ${e.getMessage}")
    }
    bad("SELECT kmv_distinct('x')", "exactly 2 arguments")
    bad("SELECT kmv_distinct('x', 2, 3)", "exactly 2 arguments")
    bad("SELECT kmv_distinct(t, id % 7) FROM (SELECT 'a' t, 1 id)",
      "foldable")
    bad("SELECT kmv_distinct('x', CAST(NULL AS INT))", "NULL")
    bad("SELECT kmv_distinct('x', 'many')", "numeric")
    bad("SELECT kmv_distinct('x', 1)", ">= 2")
    // no silent truncation: intValue() would wrap 2^32+2 to k=2 and
    // floor 2.9 to k=2 — both must reject, not run with a tiny sketch
    bad("SELECT kmv_distinct('x', 4294967298)", "out of Int range")
    bad("SELECT kmv_distinct('x', CAST(2.9 AS DOUBLE))", "integer")
    // and the well-formed call still works through the same builder
    assert(spark.sql("SELECT kmv_distinct(t, 16) FROM VALUES ('a'), " +
      "('b'), ('a') AS v(t)").head.getLong(0) == 2L)
  }
}
