package graft.ext

import graft.SparkSpec

/** ExactQuantiles must agree with Spark's exact `percentile` (the
  * memory-unbounded aggregate it replaces) on every distribution shape
  * that stresses a different code path: smooth data, heavy ties
  * (min==max shortcut), skew that forces recursion, and tiny inputs
  * where interpolation fractions matter.
  */
class ExactQuantilesSpec extends SparkSpec {
  private lazy val implicits = spark.implicits
  import implicits._

  private def sparkExact(values: Seq[Double], ps: Seq[Double]): Seq[Double] = {
    val df = values.toDF("v")
    val row = df.selectExpr(
      ps.map(p => s"percentile(v, ${p}d)").mkString("array(", ",", ")") +
        " AS q").head()
    row.getSeq[Double](0)
  }

  private def check(values: Seq[Double], ps: Seq[Double],
      buckets: Int = 64, refineLimit: Long = 1 << 20): Unit = {
    val got = ExactQuantiles.percentiles(values.toDF("v"), "v", ps,
      buckets, refineLimit)
    val want = sparkExact(values, ps)
    got.zip(want).zip(ps).foreach { case ((g, w), p) =>
      // interpolation formula variants (`a + (b-a)f` here, matching
      // DuckDB quantile_cont, vs Spark's `a(1-f) + bf`) are
      // algebraically equal but differ by ~|a|·eps — far below the
      // 6dp oracle rounding, but above a strict few-ulp bound
      val tol = math.max(math.ulp(w) * 4, math.abs(w) * 1e-12)
      assert(math.abs(g - w) <= tol, s"p=$p got=$g want=$w")
    }
  }

  private val quartiles = Seq(0.25, 0.5, 0.75)

  test("smooth uniform data matches exact percentile") {
    val rnd = new scala.util.Random(7)
    check(Seq.fill(5000)(rnd.nextDouble() * 1e5), quartiles)
  }

  test("interpolation fractions on tiny inputs (n = 1..9)") {
    val rnd = new scala.util.Random(11)
    for (n <- 1 to 9)
      check(Seq.fill(n)(rnd.nextDouble() * 100), Seq(0.1, 0.25, 0.5, 0.9))
  }

  test("heavy ties: 99% one value exercises the min==max shortcut") {
    val vs = Seq.fill(3000)(42.0) ++ Seq.fill(15)(7.0) ++ Seq.fill(15)(99.0)
    check(vs, quartiles)
  }

  test("all-equal column") {
    check(Seq.fill(100)(5.5), quartiles)
  }

  test("skew forcing recursion: refineLimit below the hot bucket size") {
    // 90% of mass inside one bucket of the 8-bucket first level → the
    // hot bucket exceeds refineLimit=64 and must recurse, not sort.
    val rnd = new scala.util.Random(13)
    val vs = Seq.fill(900)(rnd.nextDouble()) ++          // dense [0,1)
      Seq.fill(100)(1.0 + rnd.nextDouble() * 999.0)       // sparse tail
    check(vs, Seq(0.25, 0.5, 0.75, 0.95), buckets = 8, refineLimit = 64)
  }

  test("nulls are ignored, matching percentile semantics") {
    val df = Seq[Option[Double]](Some(1.0), None, Some(2.0), Some(3.0),
      None, Some(4.0)).toDF("v")
    val got = ExactQuantiles.percentiles(df, "v", Seq(0.5))
    assert(got == Seq(2.5))
  }

  test("groupedPercentiles matches exact grouped percentile across " +
      "mixed group shapes (ties, skew, singletons)") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.tabulate(4000) { i =>
      val g = s"g${i % 5}"
      val v = (i % 5) match {
        case 0 => rnd.nextDouble() * 1e5          // smooth
        case 1 => 42.0                             // all ties
        case 2 => if (rnd.nextBoolean()) 1.0 else rnd.nextDouble() * 1e6
        case 3 => rnd.nextGaussian()               // negatives
        case _ => rnd.nextDouble()
      }
      (g, v)
    } :+ (("solo", 7.5))                           // n = 1 group
    val df = rows.toDF("g", "v")
    val ps = Seq(0.1, 0.5, 0.9)
    // compare against Spark's exact percentile per group
    val want = df.groupBy("g").agg(
      org.apache.spark.sql.functions
        .expr("percentile(v, array(0.1d, 0.5d, 0.9d))").as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val gotQ = ExactQuantiles
      .groupedPercentiles(df, "g", "v", ps, buckets = 64,
        refineLimit = 128)
      .collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(gotQ.keySet == want.keySet)
    for (g <- want.keySet; i <- ps.indices) {
      val w = want(g)(i) // same formula-variant tolerance as check()
      assert(math.abs(gotQ(g)(i) - w) <=
        math.max(math.ulp(w) * 4, math.abs(w) * 1e-12),
        s"group $g p=${ps(i)}")
    }
  }

  test("groupedPercentilesMulti: two value columns in shared scans " +
      "match per-column exact percentiles, flattened p-index order") {
    val rnd = new scala.util.Random(23)
    val rows = Seq.tabulate(3000) { i =>
      (s"g${i % 3}", rnd.nextDouble() * 1e4, rnd.nextGaussian() * 50)
    }
    val df = rows.toDF("g", "a", "b")
    val want = df.groupBy("g").agg(
      org.apache.spark.sql.functions
        .expr("percentile(a, 0.5d)").as("a50"),
      org.apache.spark.sql.functions
        .expr("percentile(b, array(0.25d, 0.9d))").as("bq"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getSeq[Double](2))).toMap
    val got = ExactQuantiles.groupedPercentilesMulti(df, "g",
        Seq("a" -> Seq(0.5), "b" -> Seq(0.25, 0.9)),
        buckets = 64, refineLimit = 256)
      .collect()
      .map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet == want.keySet)
    for (g <- want.keySet) {
      val (a50, bq) = want(g)
      val ws = Seq(a50, bq(0), bq(1))
      got(g).zip(ws).foreach { case (gv, w) =>
        assert(math.abs(gv - w) <=
          math.max(math.ulp(w) * 4, math.abs(w) * 1e-12), s"group $g")
      }
    }
  }

  test("groupedPercentilesMulti: a group where one column is all-null " +
      "yields null for that column only") {
    val df = Seq(("g1", Some(1.0), Option.empty[Double]),
      ("g1", Some(2.0), None), ("g1", Some(3.0), None),
      ("g2", Some(4.0), Some(10.0)), ("g2", Some(6.0), Some(20.0)))
      .toDF("g", "a", "b")
    val got = ExactQuantiles.groupedPercentilesMulti(df, "g",
        Seq("a" -> Seq(0.5), "b" -> Seq(0.5)))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(got("g1") == (Some(2.0), None))
    assert(got("g2") == (Some(5.0), Some(15.0)))
  }

  /** Whether any SQL execution of `work` broadcast a table — the
    * histogram pass joins its stats by broadcast; the small-input
    * windowed pass joins nothing. */
  private def broadcasts(work: graft.SparkSpec.Work): Boolean =
    work.plans.exists(_.contains("BroadcastExchange"))

  test("small input: groupedPercentiles under refineLimit fires no " +
      "histogram pass") {
    val df = Seq.tabulate(1000)(i => (s"g${i % 4}", (i * 37 % 1000)
      .toDouble)).toDF("g", "v")
    val work = sparkWorkOf(ExactQuantiles.groupedPercentiles(df, "g",
      "v", Seq(0.5, 0.9)).collect())
    assert(work.plans.nonEmpty && !broadcasts(work),
      work.plans.mkString("\n----\n"))
  }

  test("small-input gate boundary: ranged rows exactly refineLimit " +
      "(windowed pass) and refineLimit + 1 (histogram path) both match " +
      "exact percentile — ties, singletons, nulls, an all-null column") {
    val rnd = new scala.util.Random(29)
    val rows: Seq[(String, Option[Double], Option[Double])] =
      Seq.tabulate(60)(i => ("smooth",
        if (i % 7 == 0) None else Some(rnd.nextDouble() * 100),
        Some(rnd.nextGaussian()))) ++
      // x: three tied values; y: constant (min == max, not ranged)
      Seq.tabulate(30)(i => ("ties", Some((i % 3).toDouble),
        if (i % 4 == 0) None else Some(7.0))) ++
      Seq(("solo", Some(3.5), Some(-1.0))) ++
      // x all-null in this group
      Seq.tabulate(20)(i => ("xnull", None, Some((i % 5).toDouble)))
    val df = rows.toDF("g", "x", "y")
    val xs = Seq(0.0, 0.3, 0.5, 0.9, 1.0)
    val ys = Seq(0.25, 0.75)
    val ranged = Seq[((String, Option[Double], Option[Double])) =>
        Option[Double]](_._2, _._3)
      .map(f => rows.groupMap(_._1)(f).values.map(_.flatten)
        .filter(v => v.nonEmpty && v.min != v.max).map(_.size).sum)
      .sum
    val want = df.groupBy("g").agg(
        org.apache.spark.sql.functions.expr(
          s"percentile(x, array(${xs.map(p => s"${p}d").mkString(",")}))"),
        org.apache.spark.sql.functions.expr(
          s"percentile(y, array(${ys.map(p => s"${p}d").mkString(",")}))"))
      .collect().map(r => r.getString(0) ->
        (Option(r.getSeq[Double](1)).getOrElse(xs.map(_ => Double.NaN)) ++
          Option(r.getSeq[Double](2)).getOrElse(ys.map(_ => Double.NaN))))
      .toMap
    for ((limit, windowed) <- Seq(ranged.toLong -> true,
        (ranged - 1).toLong -> false)) {
      var got = Map.empty[String, Seq[Double]]
      val work = sparkWorkOf {
        got = ExactQuantiles.groupedPercentilesMulti(df, "g",
            Seq("x" -> xs, "y" -> ys), buckets = 4, refineLimit = limit)
          .collect().map(r => r.getString(0) -> (1 to xs.size + ys.size)
            .map(i => if (r.isNullAt(i)) Double.NaN else r.getDouble(i)))
          .toMap
      }
      assert(broadcasts(work) != windowed,
        s"refineLimit $limit over $ranged ranged rows took the wrong path")
      assert(got.keySet == want.keySet)
      for (g <- want.keySet; (w, v) <- want(g).zip(got(g)))
        assert(if (w.isNaN) v.isNaN else math.abs(v - w) <=
          math.max(math.ulp(w) * 4, math.abs(w) * 1e-12),
          s"refineLimit $limit group $g: got ${got(g)} want ${want(g)}")
    }
  }

  test("property: random multisets (duplicates, negatives, extreme " +
      "magnitudes) match exact percentile at random cut points") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val valueGen = Gen.frequency(
      (5, Gen.choose(-1e6, 1e6)),
      (3, Gen.choose(0, 20).map(_.toDouble)),       // heavy ties
      (1, Gen.oneOf(1e-12, -1e-12, 1e15, -1e15)))   // extremes
    for (round <- 0 until 6) {
      val n = sample(Gen.choose(1, 400), 100 + round)
      val values = (0 until n).map(i =>
        sample(valueGen, round * 1000L + i))
      val ps = (0 until 3).map(i =>
        sample(Gen.choose(0.0, 1.0), 7000L + round * 10 + i))
      check(values, ps, buckets = 32, refineLimit = 16)
    }
  }

  test("round6 mirrors Spark round(x, 6)") {
    val vals = Seq(123456.1234565, 0.0000005, 42.0, 1.9999994999,
      98765.4321005)
    val viaSpark = vals.toDF("v")
      .selectExpr("round(v, 6) AS r").collect().map(_.getDouble(0)).toSeq
    assert(vals.map(ExactQuantiles.round6) == viaSpark)
  }
}
