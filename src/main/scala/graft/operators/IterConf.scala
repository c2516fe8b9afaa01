package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ISOLATED execution scope for fixed-shape iteration bodies (CC,
  * PageRank, k-core, label-prop, BFS, BPE merge, k-center): runs the
  * loop with AQE disabled and the shuffle partition count derived from
  * the loop's OWN state size — on a dedicated LOOP SESSION, never by
  * mutating the caller's session.
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
  * count, so partitions = ceil(stateRows / rowsPerPartition) — the
  * explicit form of the coalescing AQE would have done at runtime,
  * without the per-stage replanning.
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
  * Scale posture (NOT a local-mode constant): rowsPerPartition
  * defaults to 2M rows ≈ 30-60 MB of (long, long)/(long, double)
  * state — inside the guide's 100 MB-1 GB band after join/agg
  * amplification; override with spark.graft.loop.rowsPerPartition.
  * A billion-node graph gets ~500 partitions; 477 near-dup nodes at
  * sf0.1 get 1. The cap at the session's shuffle.partitions ceiling
  * never RAISES parallelism above what the deployment sized. AQE's
  * wins (coalescing corpus-sized scans, skew-splitting giant mining
  * joins) apply OUTSIDE the loop, where AQE stays on; loop
  * aggregations (min/sum by key) partial-aggregate map-side, so a
  * hot key ships one row per map partition, not its mass. Opt out
  * with spark.graft.loop.aqe=true to keep AQE inside loops too (the
  * pre-r17 lazy path — also how PlanShapeSpec pins loop plan shapes).
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

  /** True when the session opted out of loop materialization
    * (spark.graft.loop.aqe=true) — operators whose pre-r17 final
    * frame was NOT checkpointed use this to keep that plan visible. */
  def lazyLoop(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.loop.aqe").exists(_.toBoolean)

  /** Loop partition count: ceil(stateRows / rowsPerPartition), capped
    * by the session's configured shuffle width. */
  private[graft] def loopParts(parent: SparkSession,
      stateRows: Long): Long = {
    val rowsPer = parent.conf
      .getOption("spark.graft.loop.rowsPerPartition")
      .map(_.toLong).getOrElse(2000000L)
    val ceiling = parent.conf.get("spark.sql.shuffle.partitions").toLong
    math.max(1L, math.min(ceiling,
      (math.max(stateRows, 1L) + rowsPer - 1) / rowsPer))
  }

  /** Hand `body` the ISOLATED scoped session itself (AQE off,
    * state-derived partition count) — for query bodies that must
    * CONSTRUCT their whole plan under the scoped conf, not just
    * execute a loop over rebound inputs: under AQE, every lazy
    * localCheckpoint in a plan compiles `toRdd` at CALL time, which
    * materializes its upstream exchanges as serial query-stage jobs
    * during query CONSTRUCTION (measured r18: pipeline_ingest_gates_fast
    * ran 49 serial ~1-task jobs at a ~100 ms/job driver floor). Under
    * the scoped conf the same construction compiles without executing,
    * and the final action runs the whole checkpoint cascade as a
    * handful of pipelined jobs. The caller materializes inside the
    * scope and [[rebind]]s escaping frames to the parent. The parent
    * session is never touched.
    */
  def scopedSession[T](parent: SparkSession, stateRows: Long,
      minParts: Long = 1L)(body: SparkSession => T): T = {
    val child = acquire(parent)
    try {
      child.conf.set("spark.sql.adaptive.enabled", "false")
      child.conf.set("spark.sql.shuffle.partitions",
        math.max(minParts, loopParts(parent, stateRows)).toString)
      body(child)
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

  /** Run `body` over the loop-session rebinds of `inputs`, on an
    * isolated clone configured with AQE off and the state-derived
    * partition count. The PARENT session is never touched. Any
    * DataFrame escaping in `body`'s result stays bound to the loop
    * session — callers must [[rebind]] escaping frames back to the
    * parent (or go through [[materializeLoop]], which does). With
    * spark.graft.loop.aqe=true this is `body(inputs)` on the parent,
    * un-reconfigured — the pre-r17 behavior.
    */
  def loopScope[T](parent: SparkSession, stateRows: Long,
      inputs: Seq[DataFrame])(body: Seq[DataFrame] => T): T =
    if (lazyLoop(parent)) body(inputs)
    else scopedSession(parent, stateRows) { child =>
      body(inputs.map(rebind(_, child)))
    }

  /** Build-and-materialize a lazy loop result in the isolated loop
    * scope: `body` must end in a LAZY localCheckpoint; the count()
    * here executes the whole fixed-shape loop as pipelined stages
    * under the loop conf, and the caller gets the cached result
    * re-homed on ITS session. With spark.graft.loop.aqe=true this is
    * the IDENTITY on `body(input)` — the lazy frame is returned
    * un-executed and the loop runs under the caller's first action
    * with the session's normal AQE (the pre-r17 behavior; also how
    * PlanShapeSpec pins the loop plan shape).
    */
  def materializeLoop(spark: SparkSession, stateRows: Long,
      inputs: Seq[DataFrame])(body: Seq[DataFrame] => DataFrame)
      : DataFrame =
    if (lazyLoop(spark)) body(inputs)
    else loopScope(spark, stateRows, inputs) { reb =>
      val df = body(reb)
      df.count()
      rebind(df, spark)
    }
}
