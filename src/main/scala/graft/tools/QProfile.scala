package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

import graft.GraftSession

/** Per-query profiler: times each named query warm (min of `passes`),
  * counting Spark jobs / stages / tasks per pass, and optionally writes
  * `.explain("formatted")` to plans/<tag>/<query>_<suffix>.txt. The
  * session is `GraftSession`'s, so plan shapes match what the bench
  * measures. With exactly one query named it also prints the
  * trivial-action floor and the best pass's jobs (start offset,
  * duration, gap since the previous job ended, tasks, call site).
  *
  * Usage: QProfile <sfDir> <plansDirOrNONE> <suffix> <passes> <q1,q2,...|ALL>
  */
object QProfile {
  /** One Spark job: start/end times (ms), the stages and tasks it
    * completed, and its longest stage that ran on ≤ 2 tasks — the
    * "serial hotspot" indicator (a 1-split scan doing amplified work).
    */
  final case class Job(id: Int, start: Long, site: String,
      var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
      var serMs: Long = 0L)

  /** One profiled pass: wall seconds, rows (-1 when it threw) and the
    * jobs it fired, in start order.
    */
  final case class Pass(secs: Double, rows: Long, jobs: Seq[Job]) {
    def stages: Int = jobs.map(_.stages).sum
    def tasks: Int = jobs.map(_.tasks).sum
    def serMs: Long = jobs.map(_.serMs).maxOption.getOrElse(0L)
  }

  /** The profiling listener. Each pass is closed by a fence job: the
    * listener bus delivers events in order, so once the fence's start
    * arrives every earlier job start and stage completion has been
    * seen, and counts do not depend on bus lag. The fence job and its
    * stage are not counted.
    */
  private[tools] final class Profiler(spark: SparkSession)
      extends SparkListener {
    private val sc = spark.sparkContext
    private val fenceTag = s"qprofile-fence-${java.util.UUID.randomUUID}"
    @volatile private var fenced = new CountDownLatch(1)
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    // stage -> the job that submitted it, recorded at job start
    private val owner = mutable.HashMap[Int, Int]()
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (Option(e.properties)
          .exists(_.getProperty("spark.job.description") == fenceTag))
        fenced.countDown()
      else synchronized {
        // the result stage (highest id) is named after the call site
        jobs(e.jobId) = Job(e.jobId, e.time,
          e.stageInfos.maxByOption(_.stageId).fold("?")(_.name))
        e.stageIds.foreach(owner(_) = e.jobId)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        owner.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += si.numTasks
          if (si.numTasks <= 2)
            for (t0 <- si.submissionTime; t1 <- si.completionTime)
              j.serMs = math.max(j.serMs, t1 - t0)
        }
      }

    private def fence(): Unit = {
      fenced = new CountDownLatch(1)
      sc.setJobDescription(fenceTag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      require(fenced.await(30, TimeUnit.SECONDS),
        "listener bus did not deliver the fence job within 30 s")
    }

    /** Runs `body` (which returns a row count) as one profiled pass. */
    def profile(body: => Long): Pass = {
      fence()
      synchronized { jobs.clear(); owner.clear() }
      val t0 = System.nanoTime()
      val rows = try body catch { case _: Throwable => -1L }
      val secs = (System.nanoTime() - t0) / 1e9
      fence()
      synchronized { Pass(secs, rows, jobs.values.map(_.copy()).toSeq) }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val plansDir = args(1)
    val suffix = args(2)
    val passes = args(3).toInt
    val spark = GraftSession.local()
    // extra session confs: SPARK_GRAFT_EXTRA_CONF="k=v,k2=v2"
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(",")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    val profiler = new Profiler(spark)
    val names0 = args(4)
    val names =
      if (names0 == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else names0.split(",").toSeq
    val trace = names.size == 1
    if (trace) {
      for (_ <- 1 to 3) spark.range(1).count()
      val floor = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); spark.range(1).count()
        (System.nanoTime() - t0) / 1e6
      }.min
      println(f"[trace] trivial-action floor: $floor%.1f ms")
    }
    for (q <- names) {
      val fn = graft.SparkEntry.queries(q)
      // warmup pass (JIT + codegen cache + index build)
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        println(s"[qprof] $q WARMUP FAILED: ${e.getMessage.take(200)}") }
      val times = (1 to passes).map { _ =>
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = true))
        profiler.profile(fn(spark, sfDir).count())
      }
      // a failed pass (rows = -1) must not win the min (ADVICE r17: a
      // fast-failing pass used to be reported as the best warm time)
      val ok = times.filter(_.rows >= 0)
      if (ok.isEmpty)
        println(f"[qprof] $q%-34s FAILED all $passes passes")
      else {
        val best = ok.minBy(_.secs)
        println(f"[qprof] $q%-34s min=${best.secs}%6.2fs " +
          f"jobs=${best.jobs.size}%3d stages=${best.stages}%3d " +
          f"tasks=${best.tasks}%5d ser=${best.serMs}%5dms " +
          f"rows=${best.rows}" +
          (if (ok.size < times.size)
            s" (${times.size - ok.size} failed passes excluded)" else ""))
        if (trace) {
          val base = best.jobs.headOption.map(_.start).getOrElse(0L)
          var prevEnd = base
          best.jobs.foreach { j =>
            val gap = j.start - prevEnd
            prevEnd = math.max(prevEnd, j.end)
            println(f"[trace]   job ${j.id}%3d +${j.start - base}%6dms " +
              f"dur=${j.end - j.start}%5dms gap=$gap%5dms " +
              f"tasks=${j.tasks}%3d ${j.site}")
          }
        }
      }
      if (plansDir != "NONE") {
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val dir = java.nio.file.Paths.get(plansDir)
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.writeString(
            dir.resolve(s"${q}_$suffix.txt"), txt)
        } catch { case e: Throwable =>
          println(s"[qprof] $q explain failed: ${e.getMessage.take(200)}")
        }
      }
    }
    spark.stop()
  }
}
