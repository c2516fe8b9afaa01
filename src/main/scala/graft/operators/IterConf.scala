package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ISOLATED execution scope for fixed-shape iteration bodies
  * (PageRank, k-core, label-prop, BFS): runs the loop with AQE
  * disabled and the shuffle partition count derived from the loop's
  * OWN state size — on a dedicated LOOP SESSION, never by mutating the
  * caller's session.
  *
  * Why the conf (r17 optimization round, guide §1.2/§2.2/§2.4): AQE
  * executes every Exchange as its own query-stage JOB — submit,
  * re-optimize the remaining plan, codegen the new stage, broadcast a
  * task binary — the right trade for one big adaptive query, but an
  * iterative loop pays that driver latency per exchange per round
  * while its plan shape never changes. Measured on the bench (sf0.1,
  * local[32]): the CC loop inside dedup_groups ran ~30 serial 1-task
  * jobs with 15-90 ms driver gaps between them — more than half the
  * query. AQE-off ALONE is worse (each tiny exchange then runs
  * spark.sql.shuffle.partitions near-empty tasks and joins plan as
  * unconsolidated SMJ: measured 2.15 s -> 4.73 s), so the partition
  * count must come with it: loop state is skinny keyed rows of KNOWN
  * count, so partitions = ceil(stateRows / RowsPerPartition) — the
  * explicit form of the coalescing AQE would have done at runtime,
  * without the per-stage replanning. Loops that fire one action per
  * round (connected components, k-center) gain nothing from the scope
  * and run on the caller's adaptive session instead (r18 measurements
  * in ConnectedComponents).
  *
  * Why the isolation (r18 — ADVICE r17 / VERDICT r17 #6): the r17
  * implementation SET those confs on the shared session and restored
  * them in a finally — any query planned concurrently on the same
  * SparkSession while a loop ran got AQE off and ~1 shuffle partition,
  * and interleaved scopes could restore each other's values. Now each
  * loop runs on a pooled `SparkSession.newSession()` CLONE (same
  * SparkContext, same cached blocks, runtime confs re-synced from the
  * parent on acquire) whose conf no other query can observe. Loop
  * inputs — always small checkpointed frames — cross sessions via a
  * global temp view ([[rebind]]): the ANALYZED plan is re-homed, no
  * row conversion, no recompute, no plan change.
  *
  * Scale posture (NOT a local-mode constant): [[RowsPerPartition]] is
  * 2M rows ≈ 30-60 MB of (long, long)/(long, double) state — inside
  * the guide's 100 MB-1 GB band after join/agg amplification. A
  * billion-node graph gets ~500 partitions; 477 near-dup nodes at
  * sf0.1 get 1. The cap at the session's shuffle.partitions ceiling
  * never RAISES parallelism above what the deployment sized. AQE's
  * wins (coalescing corpus-sized scans, skew-splitting giant mining
  * joins) apply OUTSIDE the loop, where AQE stays on; loop
  * aggregations (min/sum by key) partial-aggregate map-side, so a
  * hot key ships one row per map partition, not its mass. The lazy
  * AQE-inside-the-loop alternative measured slower (OPTIMIZATION_r18
  * Wave 3: graph_pagerank 2.27 s isolated vs 4.01 s lazy).
  */
object IterConf {

  /** Loop-session pool: one isolated clone per parent session, reused
    * across loop invocations (SessionState construction is not free),
    * re-synced to the parent's runtime confs on every acquire. Entries
    * are taken EXCLUSIVELY — two concurrent loops on one parent each
    * get their own clone — which is the point of the isolation. Keys
    * are weak (by identity), so a parent session nobody else holds is
    * collected together with its clones.
    */
  private val pool: java.util.concurrent.ConcurrentMap[SparkSession,
      java.util.concurrent.ConcurrentLinkedQueue[SparkSession]] =
    new com.google.common.collect.MapMaker().weakKeys().makeMap()

  private def acquire(parent: SparkSession): SparkSession = {
    val child = Option(pool.get(parent)).flatMap(q => Option(q.poll()))
      .getOrElse(parent.newSession())
    // re-sync runtime confs so the loop plans exactly as the parent
    // would (ANSI, codegen thresholds, graft.* toggles), before the
    // two loop overrides go on top
    val want = parent.conf.getAll
    for ((k, _) <- child.conf.getAll if !want.contains(k))
      try child.conf.unset(k)
      catch { case scala.util.control.NonFatal(_) => () }
    for ((k, v) <- want)
      try { if (child.conf.get(k, null) != v) child.conf.set(k, v) }
      catch { case scala.util.control.NonFatal(_) => () }
    child
  }

  private def release(parent: SparkSession, child: SparkSession): Unit = {
    pool.computeIfAbsent(parent,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[SparkSession]())
      .add(child)
    ()
  }

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Re-home `df`'s ANALYZED plan onto `target` (same SparkContext):
    * a global temp view carries the plan across sessions — no row
    * conversion, no recompute, no plan change (the optimizer strips
    * the view alias). Identity when `df` already belongs to `target`.
    */
  def rebind(df: DataFrame, target: SparkSession): DataFrame = {
    if (df.sparkSession eq target) return df
    val name = s"graft_loop_rebind_${viewSeq.incrementAndGet()}"
    df.createOrReplaceGlobalTempView(name)
    val db = target.conf.get("spark.sql.globalTempDatabase", "global_temp")
    // Dataset creation analyzes eagerly, so the view can drop at once
    try target.table(s"$db.$name")
    finally { df.sparkSession.catalog.dropGlobalTempView(name); () }
  }

  /** Loop state rows per shuffle partition. */
  private val RowsPerPartition = 2000000L

  /** Loop partition count: ceil(stateRows / [[RowsPerPartition]]), capped
    * by the session's configured shuffle width. */
  private[graft] def loopParts(parent: SparkSession,
      stateRows: Long): Long = {
    val ceiling = parent.conf.get("spark.sql.shuffle.partitions").toLong
    math.max(1L, math.min(ceiling,
      (math.max(stateRows, 1L) + RowsPerPartition - 1) /
        RowsPerPartition))
  }

  /** Run `body` over the loop-session rebinds of `inputs`, on an
    * isolated clone configured with AQE off and the state-derived
    * partition count. The PARENT session is never touched. Any
    * DataFrame escaping in `body`'s result stays bound to the loop
    * session — callers must [[rebind]] escaping frames back to the
    * parent (or go through [[materializeLoop]], which does).
    */
  def loopScope[T](parent: SparkSession, stateRows: Long,
      inputs: Seq[DataFrame])(body: Seq[DataFrame] => T): T = {
    val child = acquire(parent)
    try {
      child.conf.set("spark.sql.adaptive.enabled", "false")
      child.conf.set("spark.sql.shuffle.partitions",
        loopParts(parent, stateRows).toString)
      body(inputs.map(rebind(_, child)))
    } finally {
      try {
        parent.conf.getOption("spark.sql.adaptive.enabled") match {
          case Some(v) => child.conf.set("spark.sql.adaptive.enabled", v)
          case None => child.conf.unset("spark.sql.adaptive.enabled")
        }
        child.conf.set("spark.sql.shuffle.partitions",
          parent.conf.get("spark.sql.shuffle.partitions"))
      } catch { case scala.util.control.NonFatal(_) => () }
      release(parent, child)
    }
  }

  /** Build-and-materialize a lazy loop result in the isolated loop
    * scope: `body` must end in a LAZY localCheckpoint; the count()
    * here executes the whole fixed-shape loop as pipelined stages
    * under the loop conf, and the caller gets the cached result
    * re-homed on ITS session.
    */
  def materializeLoop(spark: SparkSession, stateRows: Long,
      inputs: Seq[DataFrame])(body: Seq[DataFrame] => DataFrame)
      : DataFrame =
    loopScope(spark, stateRows, inputs) { reb =>
      val df = body(reb)
      df.count()
      rebind(df, spark)
    }
}
