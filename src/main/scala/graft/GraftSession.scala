package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: `Bench`, `Verify`, every tool and the
  * test session build through it, so a tool plans what the bench
  * measures and what Verify checks.
  */
private[graft] object GraftSession {
  /** Local cores, `SPARK_GRAFT_CPUS` (default 4). Verify at sf0.01
    * measured faster on 4 than on 16 (tiny partitions, task overhead
    * dominates); big scale factors want more. Results are
    * partitioning-invariant (ShuffleInvarianceSpec pins the battery),
    * so this is purely a wall-clock knob.
    */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** `local[cpus]` (or `master`, a deployment setting) with
    * shuffle.partitions = cpus, UTC, no UI, `GraftExtensions`, both
    * graft opt-ins (keyless range-join rewrite, agg-join-to-window)
    * and a throwaway warehouse dir.
    */
  def local(cpus: Int = GraftSession.cpus, master: Option[String] = None)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.rangeJoin.binWidth", "auto")
      .config("spark.graft.aggJoinToWindow", "true")
      .config("spark.sql.warehouse.dir", java.nio.file.Files
        .createTempDirectory("graft-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    capNoise()
    spark
  }

  /** Loggers whose output is known noise, capped so a real warning
    * (and the bench's last stdout lines) stays readable:
    *  - `rdd`: the fence's blocking unpersist frees localCheckpoint
    *    blocks whose lineage is truncated by design, one WARN per
    *    block (hundreds per run).
    *  - `DAGScheduler` / `AccumulatorContext`: "Failed to update
    *    accumulator ... non-existent accumulator" bursts are late or
    *    cancelled task completions (AQE re-optimization, the fence's
    *    cancel) reporting SQLMetrics after their execution's
    *    accumulators were GC'd. Metrics display only: a real job
    *    failure surfaces as the query's own exception.
    *  - `FileStreamSink`: `hasMetadata` stats the literal glob string
    *    of any globbed read and logs the FileNotFoundException with
    *    the caller's stack at WARN.
    */
  private def capNoise(): Unit = Seq(
      "org.apache.spark.rdd" -> Level.ERROR,
      "org.apache.spark.scheduler.DAGScheduler" -> Level.FATAL,
      "org.apache.spark.util.AccumulatorContext" -> Level.ERROR,
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink" ->
        Level.ERROR)
    .foreach { case (logger, level) => Configurator.setLevel(logger, level) }

  /** Between-query fence, run before each query outside its timer.
    *  1. Cancel what is still running: it is abandoned work from a
    *     finished query, and letting it run steals CPU from the next
    *     timed query (measured +39% on dedup_incremental).
    *  2. Drain for up to 5 s.
    *  3. `dropPin`: the caller pins the previous query's DataFrame
    *     (its QueryExecution and SQLMetrics accumulators, which
    *     AccumulatorContext holds only weakly) until now, so a
    *     straggler cannot report against GC'd accumulators.
    *  4. Blocking unpersist of every persisted or checkpointed RDD:
    *     queries share no state, and the async variant lets block
    *     removal land inside the next timed query (BENCH_SF1.md
    *     measured in-battery graph_pagerank at 8x its warm time).
    *     Never System.gc() here: it kicks ContextCleaner into
    *     removeBlocks/removeBroadcast storms inside the next timed
    *     query (measured total 44 s -> 137 s, graph_pagerank 1.8 s ->
    *     11.2 s).
    */
  def fence(spark: SparkSession)(dropPin: => Unit): Unit = {
    val sc = spark.sparkContext
    sc.cancelAllJobs()
    val deadline = System.nanoTime() + 5000000000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty &&
        System.nanoTime() < deadline)
      Thread.sleep(10)
    dropPin
    sc.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
  }
}
