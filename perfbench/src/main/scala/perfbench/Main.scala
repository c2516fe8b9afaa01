package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** One workload of the closed loop. `setup` is the timed set-up body,
  * run several times, each into a fresh directory (the first on a cold
  * JVM, as a user's set-up runs; the last one serves the ops);
  * `warmUp` runs next, untimed, over the last set-up's state, so that
  * no timed op runs cold; `op` is one timed op plus its untimed output
  * check.
  */
trait Workload {
  def setup(dir: String): Unit
  def warmUp(): Unit
  def op(index: Int, spec: JsonNode): Unit
  /** End-of-run facts (disk use), recorded untimed. */
  def finish(): Map[String, Double] = Map.empty
  /** Failed set-up checks; any one makes the run incorrect. */
  val setupErrors = scala.collection.mutable.ArrayBuffer[String]()
  /** Where outputs kept for the DuckDB checks go. */
  var checks = ""
}

/** The benchmark's JVM side: one process, one client, one workload.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --out DIR
  *          --seconds S --trace 0|1
  *
  * Writes `DIR/result.json` (ops, set-up times, heap, and in a traced
  * run spans and raw Spark events); `summarize.py` turns it into
  * metrics.
  */
object Main {
  val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("")).take(300)

  def nowS(): Double = System.nanoTime() / 1e9

  /** Set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.rangeJoin.binWidth", "auto")
      .config("spark.graft.aggJoinToWindow", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Known-noise loggers, capped as graft.Bench caps them: truncated-
    // lineage unpersist WARNs, late task metrics against GC'd
    // accumulators ("non-existent accumulator" ERROR stacks), and
    // FileStreamSink's glob-path probe.
    Seq("org.apache.spark.rdd" -> Level.ERROR,
      "org.apache.spark.scheduler.DAGScheduler" -> Level.FATAL,
      "org.apache.spark.util.AccumulatorContext" -> Level.ERROR,
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink" ->
        Level.ERROR,
      "org.apache.spark.storage.BlockManager" -> Level.ERROR)
      .foreach { case (l, v) => Configurator.setLevel(l, v) }
    spark
  }

  /** Drop the previous op's cached/checkpointed blocks (blocking, so no
    * removal lands inside the next timed op), as graft.Bench does
    * between queries.
    */
  def release(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val fence = System.nanoTime() + 5000000000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty &&
        System.nanoTime() < fence)
      Thread.sleep(5)
    sc.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val inputs = new File(opts("inputs")).getAbsolutePath
    val out = new File(opts("out")).getAbsolutePath
    val seconds = opts("seconds").toDouble
    val rec = new Recorder(opts("trace") == "1")
    val cpus = math.min(Runtime.getRuntime.availableProcessors, 4)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val heap = new HeapWatch
    val spark = session(cpus, out)
    val counters = if (rec.tracing) Some(Counters.register(spark)) else None
    val plan = json.readTree(new File(s"$inputs/plan.json"))
    val cfg = json.readTree(new File(opts("config"))).get(name)
    val wl: Workload = name match {
      case "etl_mapping" => new EtlWorkload(spark, inputs, cfg, rec)
      case "battery_multiaction" =>
        new BatteryWorkload(spark, inputs, cfg, rec)
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    wl.checks = s"$out/checks"
    val setupS = (1 to SetupReps).map { r =>
      val dir = s"$out/work/rep$r"
      Files.createDirectories(Paths.get(dir))
      release(spark)
      val t0 = nowS()
      wl.setup(dir)
      nowS() - t0
    }
    release(spark)
    val tWarm = nowS()
    wl.warmUp()
    release(spark)
    val warmS = nowS() - tWarm

    heap.arm()
    val tLoop = nowS()
    // closed loop: repeat the plan's op-mix cycle for `seconds`, then
    // finish the current cycle
    val cycle = plan.get("ops")
    val tEnd = nowS() + seconds
    var i = 0
    while (nowS() < tEnd || i % cycle.size != 0) {
      wl.op(i, cycle.get(i % cycle.size))
      release(spark)
      i += 1
    }
    val heapPeak = heap.peakMb
    val loopS = nowS() - tLoop
    val end = wl.finish()
    // let the asynchronous listener bus deliver the last events
    if (counters.nonEmpty) Thread.sleep(1500)

    val result = Map(
      "workload" -> name,
      "cpus" -> cpus,
      "session_s" -> sessionS,
      "warm_s" -> warmS,
      "setup_rep_s" -> setupS,
      "loop_s" -> loopS,
      "heap_live_peak_mb" -> heapPeak,
      "gc_pauses" -> heap.pauses.asScala.toSeq.map(p => Seq(p._1, p._2)),
      "end" -> end,
      "setup_errors" -> wl.setupErrors,
      "ops" -> rec.ops.map(o => Map("i" -> o.index, "kind" -> o.kind,
        "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok, "error" -> o.error,
        "rows" -> o.rows, "facts" -> o.facts)),
      "spans" -> rec.spans.map(s => Seq(s.id, s.parent, s.op, s.name,
        s.t0, s.t1)),
      "jobs" -> counters.map(_.jobs).getOrElse(Nil),
      "stages" -> counters.map(_.stages.asScala.toSeq).getOrElse(Nil),
      "queries" -> counters.map(_.queries.asScala.toSeq).getOrElse(Nil))
    json.writeValue(new File(s"$out/result.json"), result)
    spark.stop()
  }
}
