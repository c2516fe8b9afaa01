package graft.tools

import org.apache.spark.sql.functions.max

import graft.SparkSpec

/** QProfile's per-pass counts come from one listener and close on a
  * fence job, so they do not depend on listener-bus lag: a
  * deterministic query reports the same jobs, stages and tasks on
  * every pass, and the same jobs `sparkWorkOf` sees.
  */
class QProfileSpec extends SparkSpec {

  test("two passes of one deterministic query report identical jobs, " +
      "stages and tasks, and as many jobs as sparkWorkOf") {
    val s = spark
    def query(): Long = {
      val keyed = s.range(0, 20000, 1, 4)
        .selectExpr("id % 97 AS k", "id").localCheckpoint(true)
      keyed.groupBy("k").count()
        .join(keyed.groupBy("k").agg(max("id")), "k").count()
    }
    val profiler = new QProfile.Profiler(spark)
    try {
      val Seq(a, b) = Seq.fill(2)(profiler.profile(query()))
      assert(a.rows == 97 && b.rows == 97)
      assert(a.jobs.size > 1 && a.stages >= a.jobs.size && a.tasks > 0, a)
      assert((a.jobs.size, a.stages, a.tasks) ==
        (b.jobs.size, b.stages, b.tasks))
      assert(a.jobs.map(_.site) == b.jobs.map(_.site))
      assert(a.jobs.forall(j => j.end >= j.start))
      assert(sparkWorkOf(query()).jobs.size == a.jobs.size)
      assert(profiler.profile(sys.error("boom")).rows == -1L)
    } finally spark.sparkContext.removeSparkListener(profiler)
  }
}
