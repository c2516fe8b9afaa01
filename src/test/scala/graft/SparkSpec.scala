package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlImplicits = spark.implicits

  /** What `body` ran on Spark: the call sites (stage details) of the
    * jobs it fired and the physical plans of the SQL executions it
    * started. Both are tagged with a job group; a fence job in the same
    * group closes the window — the listener bus delivers events in
    * order, so once the fence's start arrives every earlier event has
    * been seen.
    */
  def sparkWorkOf(body: => Unit): SparkSpec.Work = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val fence = new java.util.concurrent.CountDownLatch(1)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "fence")
            fence.countDown()
          else jobs.add(e.stageInfos.map(_.details).mkString("\n"))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.jobGroupId.contains(group) =>
          plans.add(x.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "")
      try body
      finally {
        sc.setJobDescription("fence")
        sc.parallelize(Seq(1), 1).count()
        sc.clearJobGroup()
      }
      assert(fence.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    SparkSpec.Work(jobs.toArray.toSeq.map(_.toString),
      plans.toArray.toSeq.map(_.toString))
  }

  /** Wait for a persisted index's streaming-ingest lease to release:
    * ingestStream holds .MAINT_LEASE for the query's lifetime and a
    * daemon deletes it within ~1 s of termination — maintenance ops
    * right after q.stop() poll here instead of racing the release.
    */
  def awaitLeaseRelease(dir: String, timeoutMs: Long = 15000): Unit = {
    val lease = new java.io.File(dir, ".MAINT_LEASE")
    val deadline = System.currentTimeMillis() + timeoutMs
    while (lease.exists() && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(!lease.exists(),
      s"stream lease at $lease not released within ${timeoutMs}ms")
  }
}

object SparkSpec {
  /** Jobs (call sites) and SQL plans a block ran; see `sparkWorkOf`. */
  case class Work(jobs: Seq[String], plans: Seq[String])

  /** local[4] whatever `SPARK_GRAFT_CPUS` says (the test command
    * exports the host's core count): specs pin partition counts and
    * plan shapes at 4.
    */
  lazy val session: SparkSession = GraftSession.local(cpus = 4)
}
