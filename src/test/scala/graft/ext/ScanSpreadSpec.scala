package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Pins the r17 scale-adaptive scan spreading: the conditional
  * round-robin fires only on under-parallel scans, is the IDENTITY
  * when the input already has >= cluster-parallelism partitions (the
  * production case — no corpus reshuffle at scale), and passes
  * streaming frames through.
  */
class ScanSpreadSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("an under-parallel input is repartitioned to the cluster's " +
      "default parallelism") {
    val narrow = (1 to 100).toDF("x").coalesce(1)
    val out = ScanSpread.spread(narrow)
    assert(out.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // rows unchanged
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == (1 to 100))
  }

  test("a wide input passes through untouched — no round-robin " +
      "exchange at production parallelism") {
    val p = spark.sparkContext.defaultParallelism
    val wide = (1 to 100).toDF("x").repartition(p + 1)
    val out = ScanSpread.spread(wide)
    assert(out eq wide) // identity, not just equal
  }

  test("streaming frames pass through") {
    val stream = spark.readStream.format("rate").load()
    assert(ScanSpread.spread(stream) eq stream)
  }

  test("a derived (exchange-bearing) frame passes through untouched " +
      "and the probe runs NO Spark job (r18 guard — ADVICE r17: .rdd " +
      "under AQE executes upstream shuffle stages)") {
    val a = (1 to 50).toDF("x").coalesce(1)
    val b = (1 to 50).toDF("x").coalesce(1)
    val joined = a.join(b, "x")
    val agg = a.groupBy("x").count()
    val shuffled = a.repartition(3)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(ScanSpread.spread(joined) eq joined)
      assert(ScanSpread.spread(agg) eq agg)
      assert(ScanSpread.spread(shuffled) eq shuffled)
      // listener bus is async; give it a beat before asserting
      Thread.sleep(300)
      assert(jobs.get() == 0,
        s"spread() ran ${jobs.get()} job(s) probing derived frames")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a scan under select/filter still spreads (the guard must not " +
      "disable the kept r17 call sites, which all pass scan-shaped " +
      "frames)") {
    val narrow = (1 to 100).toDF("x").coalesce(1)
      .select(col("x"), (col("x") * 2).as("y")).filter(col("x") > 1)
    val out = ScanSpread.spread(narrow)
    assert(out.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("workParts is the larger of core parallelism and the " +
      "configured shuffle width") {
    val df = (1 to 3).toDF("x")
    val expect = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(ScanSpread.workParts(df) == expect)
  }
}
