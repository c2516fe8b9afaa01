package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw Spark events of a traced run, attributed to ops afterwards by
  * time (summarize.py): the listener bus is asynchronous, but every
  * event carries the time it happened, so late delivery is harmless.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  /** (jobId, start ms, end ms, stage ids) */
  val jobStarts = new ConcurrentLinkedQueue[(Int, Long, Seq[Int])]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  /** per completed stage: id, tasks, submit ms, complete ms, and the
    * aggregated task metrics */
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  /** per finished query execution: phase start ms and durations */
  val queries = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.add((e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.add((e.jobId, e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    stages.add(Map(
      "stage" -> si.stageId, "tasks" -> si.numTasks,
      "t0" -> si.submissionTime.getOrElse(-1L),
      "t1" -> si.completionTime.getOrElse(-1L),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "in_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "in_records" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
      "sw_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "sr_bytes" -> (if (m == null) 0L
        else m.shuffleReadMetrics.totalBytesRead),
      "spill_bytes" -> (if (m == null) 0L
        else m.memoryBytesSpilled + m.diskBytesSpilled)))
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def dur(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) -1L else ph.values.map(_.startTimeMs).min
    queries.add(Map("t0" -> start, "analysis_ms" -> dur("analysis"),
      "optimization_ms" -> dur("optimization"),
      "planning_ms" -> dur("planning")))
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  def jobs: Seq[Map[String, Any]] = {
    val ends = jobEnds.asScala.toMap
    jobStarts.asScala.toSeq.map { case (id, t0, st) =>
      Map("job" -> id, "t0" -> t0, "t1" -> ends.getOrElse(id, -1L),
        "stages" -> st)
    }
  }
}

object Counters {
  def register(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** GC notifications: the heap in use after each collection (the live
  * heap plus not-yet-collected old garbage) and the pause lengths.
  * JMX-only, so it runs in untraced runs too.
  */
final class HeapWatch extends NotificationListener {
  @volatile var peakMb = 0.0
  @volatile var armed = false
  val pauses = new ConcurrentLinkedQueue[(Long, Long)]() // (end ms, ms)
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val gc = info.getGcInfo
      val used = gc.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      if (armed) {
        peakMb = math.max(peakMb, used / 1048576.0)
        // concurrent cycles run beside the application: not a pause
        if (!info.getGcName.contains("Concurrent"))
          pauses.add((jvmStart + gc.getEndTime, gc.getDuration))
      }
    }

  /** Start measuring: from here on, post-GC heaps and pauses count. */
  def arm(): Unit = { peakMb = 0.0; armed = true }
}
