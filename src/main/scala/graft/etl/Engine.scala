package graft.etl

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftPlanBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.dsl.{Ast, Compiler, Parser}
import graft.functions.GraftFunctions

/** The core ETL pipeline: read → compile rules → filter → project →
  * (write). Spark-first rendering of `/root/reference/main.gs:38-139`
  * (`runMapping`).
  *
  * Scale notes (100 TB posture):
  *   - Rule compilation is driver-side and O(rules); the produced plan
  *     is a single Filter + Project over the scan — embarrassingly
  *     parallel, no shuffle, fully whole-stage-codegen'd. Filters on
  *     typed sources push down to the scan.
  *   - ONLY when a mapping uses `self[]` (output-row A1 addressing) do
  *     we need a global row number — a global property, but NOT an
  *     inherently single-task one: the rows sort by the order key
  *     (range exchange) and are then numbered per partition with
  *     broadcast partition-count offsets (`RDD.zipWithIndex`, Spark's
  *     own count-job + offset-map implementation of the distributed
  *     prefix sum). No single-partition window anywhere; mappings
  *     without `self[]` never pay any of it.
  *   - [[runMapping]] reads on the driver only what is small at any
  *     scale: the Map sheet (the rule table — O(rules), parsed whole)
  *     and the header line of each one-file sheet it scans (the Source
  *     and every `_join:` sheet — O(1): only the lines up to the
  *     header are read). The header becomes the scan's declared
  *     all-string schema, so no header-inference job runs; the rows
  *     themselves are only ever read by the scan. A directory or glob
  *     path (a streaming landing dir, a partitioned export) keeps
  *     Spark's inference, the only reader for that input. The
  *     run-history record is written on the driver too (one row).
  *   - Spark jobs per run, by rule kind: plain rules (`_filter:`,
  *     `src[]`, `constant:`, `formula:`, `eval2:`, `_plugin:`) fire
  *     exactly ONE — the Output write, which also counts the rows;
  *     each `_join:` adds its build side's broadcast job when the
  *     sheet is small enough to broadcast (shuffle stages otherwise);
  *     `_type:` adds its one validation aggregate (two jobs under
  *     AQE: the map stage and the result); `self[]` adds the range
  *     sort's sampling and the numbering's checkpoint and offsets
  *     (five to seven); a growth-guard compaction adds its rewrite.
  */
object Engine {

  private val IngestCol = "__graft_ingest"
  private val RowPosCol = "__graft_rowpos"

  /** Plugin registry for `_plugin:` rules (reference roadmap "Plugin
    * transformation system", README.md:126). A plugin is a whole-sheet
    * row transform over the all-string display frame; the instruction
    * text is its argument. The engine re-applies the display-string
    * view to the result and REQUIRES the column layout unchanged, so
    * parse-time `src[]` validation stays sound. Built-ins:
    *   - `dedupe`    — full-row DISTINCT (args ignored: a subset
    *                   dedupe keeps an arbitrary survivor per key —
    *                   non-deterministic, so not offered);
    *   - `trim_cells`— trim every cell in every column;
    *   - `upper`     — uppercase the column named by args.
    */
  private val pluginRegistry =
    scala.collection.concurrent.TrieMap[String, (DataFrame, String) => DataFrame](
      "dedupe" -> ((df, _) => df.distinct()),
      "trim_cells" -> ((df, _) =>
        df.select(df.columns.map(c => trim(col(s"`$c`")).as(c)).toSeq: _*)),
      "upper" -> ((df, args) => {
        val c = args.trim
        if (!df.columns.contains(c))
          throw Ast.DslError(
            s"""Column "$c" does not exist in source (rule: "_plugin:upper").""")
        df.withColumn(c, upper(col(s"`$c`")))
      }))

  /** Register (or replace) a plugin transform, JVM-wide. */
  def registerPlugin(name: String,
      fn: (DataFrame, String) => DataFrame): Unit =
    pluginRegistry.put(name.trim, fn)

  /** SESSION-scoped plugin registration: visible only to mappings
    * whose source DataFrame belongs to `spark` (including name
    * overrides of the JVM-wide built-ins). Embedded multi-tenant use
    * registers per session and cannot cross-talk — two sessions'
    * same-named plugins stay isolated (spec'd). Keyed by the session's
    * UUID, NOT weakly by the session object: plugin closures routinely
    * capture the session (directly or via a captured DataFrame), and
    * that value→key strong reference would silently defeat a weak key.
    * Long-lived multi-tenant hosts call [[clearPlugins]] when they
    * retire a session; a leaked entry is a small map, never a pinned
    * SparkSession.
    */
  def registerPlugin(spark: SparkSession, name: String,
      fn: (DataFrame, String) => DataFrame): Unit = {
    sessionPlugins
      .getOrElseUpdate(sessionKey(spark),
        scala.collection.concurrent.TrieMap.empty)
      .put(name.trim, fn); ()
  }

  /** Drop every session-scoped plugin of `spark` — call when a
    * multi-tenant host retires the session.
    */
  def clearPlugins(spark: SparkSession): Unit =
    sessionKeyIfAny(spark).foreach(sessionPlugins.remove)

  /** A stable per-session identity, carried in the session's OWN
    * runtime conf (RuntimeConfig is session-scoped, so two sessions
    * can never read each other's key; a cloned session copies the
    * conf and thus SHARES its parent's overlay — documented). Created
    * lazily on first registration; sessions that never register read
    * no overlay and are never written to.
    */
  private val SessionKeyConf = "graft.plugins.sessionKey"

  private def sessionKeyIfAny(spark: SparkSession): Option[String] =
    Option(spark.conf.get(SessionKeyConf, "")).filter(_.nonEmpty)

  private def sessionKey(spark: SparkSession): String = synchronized {
    sessionKeyIfAny(spark).getOrElse {
      val k = java.util.UUID.randomUUID.toString
      spark.conf.set(SessionKeyConf, k)
      k
    }
  }

  private val sessionPlugins = scala.collection.concurrent.TrieMap
    .empty[String,
      scala.collection.concurrent.TrieMap[String, (DataFrame, String) => DataFrame]]

  /** The resolved registry a given session sees: JVM-wide built-ins
    * overlaid by its session-scoped registrations (overlay wins).
    */
  private def pluginsFor(spark: SparkSession)
      : Map[String, (DataFrame, String) => DataFrame] = {
    val overlay = sessionKeyIfAny(spark)
      .flatMap(sessionPlugins.get)
      .map(_.toMap)
      .getOrElse(Map.empty[String, (DataFrame, String) => DataFrame])
    pluginRegistry.toMap ++ overlay
  }

  def registeredPlugins(spark: SparkSession): Set[String] =
    pluginsFor(spark).keySet

  private def applyPlugin(
      plugins: Map[String, (DataFrame, String) => DataFrame])(
      cur: DataFrame, p: Ast.PluginRule): DataFrame = {
    val out = GraftFunctions.displayString(plugins(p.name)(cur, p.args))
    if (out.columns.toSeq != cur.columns.toSeq)
      throw Ast.DslError(s"""Plugin "${p.name}" must preserve the """ +
        s"""sheet's columns (rule: "${p.header}"): """ +
        s"${cur.columns.mkString("[", ", ", "]")} -> " +
        s"${out.columns.mkString("[", ", ", "]")}.")
    out
  }

  /** Apply a Map-sheet rule list to a source table.
    *
    * @param source    any DataFrame; converted to the display-string
    *                  view (all columns cast to string, null → "",
    *                  duplicate headers last-wins) per `main.gs:52-59`
    * @param mapRules  (output header | `_filter:` tag, instruction)
    *                  pairs in Map-sheet order, header row excluded
    * @param ingestOrder expressions defining "spreadsheet row order"
    *                  for `self[]` addressing and order-preserving
    *                  sinks. Defaults to an ingest index stamped at
    *                  scan time (pre-join — a multi-match `_join:`
    *                  duplicates the stamp, so pass an explicit order
    *                  when deterministic numbering matters there).
    *                  Must be provided (e.g. a key column) when
    *                  deterministic cross-engine row numbering is
    *                  required.
    * @param sheets    joinable sheets by name, for `_join:` rules
    *                  (reference roadmap `README.md:122`): each join
    *                  is an INNER equi-join on display-string
    *                  equality, applied BEFORE filters/projections in
    *                  rule order; the joined sheet's columns become
    *                  `src[...]`-addressable, shadowing earlier
    *                  columns on a name collision (displayString's
    *                  last-wins convention). The join is declarative —
    *                  Catalyst/AQE picks broadcast vs shuffle, so a
    *                  small dimension sheet broadcasts for free.
    */
  def transform(source: DataFrame, mapRules: Seq[(String, String)],
      ingestOrder: Seq[Column] = Nil,
      sheets: Map[String, DataFrame] = Map.empty): DataFrame = {
    val display = GraftFunctions.displayString(source)
    if (display.columns.isEmpty)
      throw Ast.DslError("Source has no header row.")
    val sheetDisplays =
      sheets.map { case (n, df) => n -> GraftFunctions.displayString(df) }
    val plugins = pluginsFor(source.sparkSession)
    val rules = Parser.parse(mapRules, display.columns.toSeq,
      sheetDisplays.map { case (n, d) => n -> d.columns.toSeq },
      plugins.keySet)

    // `_join:` rules, in rule order. The other side is renamed behind
    // a per-join prefix (no ambiguous attributes), then the merged
    // header layout is rebuilt: surviving source columns first, the
    // joined sheet's columns after, collisions resolved last-wins.
    val joined = rules.joins.zipWithIndex.foldLeft(display) {
      case (cur, (j, i)) =>
        val other = sheetDisplays(j.sheet)
        val pre = s"__graft_j${i}_"
        val renamed = other.columns.foldLeft(other)(
          (d, c) => d.withColumnRenamed(c, pre + c))
        val shadowed = other.columns.toSet
        val stepped = cur.join(renamed,
          cur(s"`${j.srcCol}`") === renamed(s"`$pre${j.otherCol}`"))
        stepped.select(
          cur.columns.toSeq.filterNot(shadowed).map(c => col(s"`$c`")) ++
            other.columns.toSeq.map(c => col(s"`$pre$c`").as(c)): _*)
    }

    // `_plugin:` rules, in rule order, over the post-join sheet —
    // before the stamp so a plugin never sees engine-internal columns
    // (a full-row dedupe over a unique stamp would be a no-op).
    val withPlugins = rules.plugins.foldLeft(joined)(applyPlugin(plugins))

    // `_type:` declarations: ONE map-side-combinable aggregate over
    // the post-join, post-plugin, pre-filter frame, run eagerly here
    // so a violating run aborts before any sink sees a row (the
    // reference's fail-fast posture). Cost: one extra scan, only when
    // `_type:` rules exist.
    validateTypes(withPlugins, rules.types)

    // self[] numbering rides the default ingest stamp, which is applied
    // POST-join — a multi-match `_join:` duplicates it, silently making
    // the A1 addresses non-deterministic (VERDICT r12 finding #3).
    // Deterministic numbering across joins needs a caller-chosen key.
    if (rules.usesSelf && rules.joins.nonEmpty && ingestOrder.isEmpty)
      throw Ast.DslError("self[] together with _join: requires an " +
        "explicit ingestOrder (a multi-match join duplicates the " +
        "default ingest stamp, so row numbering would be " +
        "non-deterministic).")

    val needsIngestStamp = rules.usesSelf && ingestOrder.isEmpty
    val ordered =
      if (needsIngestStamp)
        withPlugins.withColumn(IngestCol, monotonically_increasing_id())
      else withPlugins

    val orderCols: Seq[Column] =
      if (ingestOrder.nonEmpty) ingestOrder else Seq(col(IngestCol))
    // 1-based POST-filter row position (main.gs:69): numbers the rows
    // that survived the filter, in ingest order. Computed ONLY for
    // `self[]` mappings, and distributed: global sort (one range
    // exchange), then monotonically_increasing_id — whose value is exactly
    // (partition_id << 33) + local_row_index, i.e. the shard id and
    // within-shard position in one narrow projection. Per-shard
    // counts cumsum over the ≤|partitions|-row subtotal table (the
    // sample_pps shard-offset pattern; pmod keeps the constant
    // partition key non-foldable), broadcast back, global position =
    // offset + local index + 1. Range-partition ids ascend with the
    // sort order and the local index follows the within-partition
    // sort, so the numbering equals rank in global ingest order. The
    // stamped subtree has two consumers whose shard ids MUST come
    // from one physical layout: AQE can re-plan the range exchange
    // differently per consumer (observed at sf1.0 — coalesced
    // partition counts diverged, so the offset table covered fewer
    // shards than the data and the join dropped rows), so the
    // stamped frame is localCheckpoint'd: one materialization that
    // every consumer and every downstream action reads (the old
    // zipWithIndex shape re-ran the whole scan+filter+sort lineage
    // per action on top of its eager count job). Under AQE the
    // checkpoint materializes the sort's stages at transform() time
    // even with eager=false — the accepted cost of layout
    // consistency.
    val compiled = Compiler.compile(rules, display.columns.toSeq,
      col(RowPosCol))
    val filtered = ordered.filter(compiled.filter)
    val numbered =
      if (!rules.usesSelf) filtered
      else {
        val mid = "__graft_mid"
        val shard = "__graft_shard"
        val localMask = (1L << 33) - 1L
        val stamped = filtered.orderBy(orderCols: _*)
          .withColumn(mid, monotonically_increasing_id())
          .localCheckpoint(false)
        val offs = stamped
          .groupBy(shiftright(col(mid), 33).as(shard))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("off", coalesce(
            sum(col("cnt")).over(
              Window.partitionBy(pmod(col(shard), lit(1)))
                .orderBy(shard)
                .rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select(col(shard), col("off"))
        stamped
          .withColumn(shard, shiftright(col(mid), 33))
          .join(broadcast(offs), shard)
          .withColumn(RowPosCol,
            col("off") + (col(mid).bitwiseAND(localMask)) + 1L)
          .drop(mid, shard, "off")
      }
    numbered.select(compiled.projections: _*)
  }

  /** One aggregate evaluating every `_type:` rule at once: per rule, a
    * violation count and one example offending cell (min — a
    * deterministic pick for the message). The first violated rule (in
    * Map-sheet order) aborts with the reference's contextual-error
    * style. All checks run on the TRIMMED display string; blank cells
    * pass everything except `nonempty` (see [[Ast.CellType]]).
    */
  private def validateTypes(df: DataFrame,
      types: Seq[Ast.TypeRule]): Unit = {
    if (types.isEmpty) return
    // the whole-input "no cell violates" claim needs a bounded scan —
    // undefined on an unbounded stream (like self[] numbering)
    if (df.isStreaming)
      throw Ast.DslError(
        "_type: rules are not supported on streaming sources.")
    val aggs = types.zipWithIndex.flatMap { case (tr, i) =>
      val v = trim(col(s"`${tr.column}`"))
      val ok = tr.tpe match {
        case Ast.CellType.Numeric => v === "" ||
          v.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$")
        case Ast.CellType.IntegerT => v === "" || v.rlike("^[+-]?[0-9]+$")
        case Ast.CellType.DateIso => v === "" ||
          (v.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$") &&
            try_to_date(v, "yyyy-MM-dd").isNotNull)
        case Ast.CellType.NonEmpty => v =!= ""
      }
      Seq(sum(when(!ok, 1L).otherwise(0L)).as(s"__n$i"),
        min(when(!ok, col(s"`${tr.column}`"))).as(s"__v$i"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    types.zipWithIndex.foreach { case (tr, i) =>
      // sum() over a zero-row input aggregates to null — an empty
      // (header-only) sheet has no violating cells, so it passes
      val n = if (row.isNullAt(2 * i)) 0L else row.getLong(2 * i)
      if (n > 0)
        throw Ast.DslError(s"""Type violation in column """ +
          s""""${tr.column}": $n value(s) are not ${tr.tpe.name} """ +
          s"""(e.g. "${row.getString(2 * i + 1)}") (rule: "${tr.header}").""")
    }
  }

  /** Crash recovery for the in-place history compaction swap: a run
    * that died between the two renames leaves the data under
    * `__compact_old` and no live table — restore it before touching
    * the history again. (A leftover `__compact_tmp` is just a stale
    * duplicate-to-be and is removed.)
    */
  private def recoverHistorySwap(histPath: String): Unit = {
    val hist = new java.io.File(histPath)
    val old = new java.io.File(histPath + "__compact_old")
    val tmp = new java.io.File(histPath + "__compact_tmp")
    if (!hist.isDirectory && old.isDirectory) {
      if (!old.renameTo(hist))
        throw new java.io.IOException(
          s"could not restore run history at $histPath from " +
            s"interrupted compaction")
    }
    if (tmp.isDirectory) deleteRecursively(tmp)
    if (hist.isDirectory && old.isDirectory) deleteRecursively(old)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** The run-history growth guard: when the table holds >= `every`
    * parquet files (one per recorded run), rewrite it into
    * size-targeted files via `sources.Compaction` and swap in place —
    * record-identical before and after (the Compaction contract,
    * CompactionSpec), bounded file count at any run cadence.
    */
  private def maybeCompactHistory(spark: SparkSession,
      histPath: String, every: Int): Unit = {
    if (every <= 0) return
    val hist = new java.io.File(histPath)
    if (!hist.isDirectory) return
    val nFiles = Option(hist.listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))
    if (nFiles < every) return
    val tmp = histPath + "__compact_tmp"
    val old = histPath + "__compact_old"
    graft.sources.Compaction.compact(spark, histPath, tmp)
    if (!hist.renameTo(new java.io.File(old)))
      throw new java.io.IOException(
        s"could not stage run-history compaction swap at $histPath")
    if (!new java.io.File(tmp).renameTo(hist))
      throw new java.io.IOException(
        s"could not commit run-history compaction swap at $histPath")
    deleteRecursively(new java.io.File(old))
  }

  /** Append one run record to the history table at `histPath`, on
    * the driver: Spark's parquet writer factory writes the single row
    * into a hidden in-progress file (invisible to `spark.read.parquet`
    * and to the growth guard's file count), which is then renamed into
    * a `part-` file. No Spark job runs. A crash before the rename
    * leaves only the hidden file behind; the next compaction drops it.
    */
  private def appendHistoryRecord(spark: SparkSession, histPath: String,
      record: InternalRow): Unit = {
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val factory =
      GraftPlanBridge.parquetWriterFactory(spark, job, HistorySchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val dir = new Path(histPath)
    val fs = dir.getFileSystem(job.getConfiguration)
    val id = java.util.UUID.randomUUID.toString
    val tmp = new Path(dir, s".$id.inprogress")
    try {
      val writer = factory.newInstance(tmp.toString, HistorySchema, ctx)
      try writer.write(record) finally writer.close()
      val dst = new Path(dir,
        s"part-00000-$id-c000${factory.getFileExtension(ctx)}")
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(
          s"could not commit run record $tmp -> $dst")
    } catch {
      case e: Throwable => fs.delete(tmp, false); throw e
    }
  }

  /** The run-history schema, exactly as the Spark-written records of
    * earlier versions carry it in their footers: strings nullable,
    * longs not.
    */
  private val HistorySchema = StructType(Seq(
    StructField("run_id", StringType),
    StructField("ts_ms", LongType, nullable = false),
    StructField("source_sheet", StringType),
    StructField("map_sheet", StringType),
    StructField("output_sheet", StringType),
    StructField("rules_digest", StringType),
    StructField("rows_out", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("status", StringType),
    StructField("error", StringType)))

  /** Full three-sheet run over CSV "sheets" in a directory:
    * `<dir>/<config.source>.csv` + `<dir>/<config.map>.csv` →
    * overwrite `<dir>/<config.output>` (CSV, header) —
    * clear-then-write ≙ `mode("overwrite")` (`main.gs:124-129`).
    *
    * With `config.history` set, every invocation appends ONE record
    * to the parquet table `<dir>/<config.history>` — the reference
    * roadmap's "Execution history" + "Logging dashboard"
    * (README.md:124-125): run id, start time, the three sheet names,
    * an MD5 digest of the rule sheet (audit trail: WHICH rules
    * produced an output), rows written (-1 on failure), duration,
    * outcome, and the error message when the run aborted. Failed runs,
    * a missing sheet included (digest null when the Map sheet is the
    * missing one), are recorded AND still rethrown: history observes
    * the fail-fast contract, it never swallows it. The record is
    * written on the driver (no Spark job). Each run appends ONE file, so
    * file count tracks run count; the GROWTH GUARD
    * (`config.historyCompactEvery` / Dashboard
    * `history_compact_every`) compacts the table in place after
    * recording whenever it holds that many files — the
    * millions-of-runs operating procedure, exercised in
    * CompactionSpec. The swap is two renames with crash recovery on
    * the next run (a `__compact_old` leftover is restored before
    * recording); with the guard off (default 0), compose with
    * `sources.Compaction` manually.
    */
  def runMapping(spark: SparkSession, dir: String,
      config: EngineConfig = EngineConfig()): Long = {
    val t0 = System.currentTimeMillis()
    // stays null when the Map sheet cannot be read
    var digest: String = null
    def record(rowsOut: Long, status: String, error: String): Unit =
      if (config.history.nonEmpty) {
        val hist = s"$dir/${config.history}"
        recoverHistorySwap(hist)
        def utf8(v: String) = UTF8String.fromString(v)
        appendHistoryRecord(spark, hist, InternalRow(
          utf8(java.util.UUID.randomUUID.toString), t0,
          utf8(config.source), utf8(config.map), utf8(config.output),
          utf8(digest), rowsOut, System.currentTimeMillis() - t0,
          utf8(status), utf8(error)))
        maybeCompactHistory(spark, hist, config.historyCompactEvery)
      }
    // a missing sheet is the reference-style contextual abort, not a
    // Spark path error
    def sheet(name: String, role: String): String = {
      val path = s"$dir/$name.csv"
      if (!new java.io.File(path).isFile)
        throw Ast.DslError(s"""Sheet "$name" does not exist ($role).""")
      path
    }
    try {
      val rules = readSheetPairs(spark, sheet(config.map, "map sheet"))
      digest = rulesDigest(rules)
      val source = readSheetCsv(spark, sheet(config.source, "source sheet"))
      // `_join:X` rules name sibling sheets: read `<dir>/X.csv` for
      // each; Parser re-validates names + headers.
      val sheets = rules.collect {
        case (h, _) if h != null && h.trim.startsWith("_join:") =>
          h.trim.stripPrefix("_join:").trim
      }.distinct.filter(_.nonEmpty).map { name =>
        // the sheet name is interpolated into a filesystem path: a
        // name like `../secrets` would read OUTSIDE the sheets dir
        if (name.contains("/") || name.contains("\\") ||
            name.contains(".."))
          throw Ast.DslError(s"""Sheet name "$name" must not """ +
            s"""contain path separators or ".." (rule: "_join:$name").""")
        name -> readSheetCsv(spark, sheet(name, s"""rule: "_join:$name""""))
      }.toMap
      val out = transform(source, rules, sheets = sheets)
      // the row count rides an observe() metric on the WRITE job — one
      // action executes the filter+project pipeline once (a second
      // count() action would re-run the whole scan at 100 TB; pinned
      // to one execution in EngineSpec via a QueryExecutionListener)
      val rowsObs = new org.apache.spark.sql.Observation()
      out.observe(rowsObs, count(lit(1)).as("rows"))
        .write.mode("overwrite").option("header", true)
        .option("escape", "\"").csv(s"$dir/${config.output}")
      val n = rowsObs.get.apply("rows").asInstanceOf[Long]
      record(n, "ok", null)
      n
    } catch {
      case e: Throwable =>
        record(-1L, "error",
          Option(e.getMessage).getOrElse(e.toString))
        throw e
    }
  }

  /** Canonical MD5 of a rule sheet's (colA, colB) pairs — the run
    * history's "which rules ran" fingerprint. U+0001 joins the pair,
    * U+0002 joins rows: unambiguous for any cell content.
    */
  def rulesDigest(rules: Seq[(String, String)]): String = {
    val canon = rules.map { case (a, b) =>
      Option(a).getOrElse("") + "\u0001" + Option(b).getOrElse("")
    }.mkString("\u0002")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** The options every sheet is read with. `inferSchema=false` keeps
    * the file text as the display value (getDisplayValues semantics);
    * `escape="` reads RFC-4180 doubled-quote escaping (what a
    * spreadsheet CSV export produces) — Spark's default `\` escape
    * silently mis-parses quoted rule text otherwise.
    */
  private val SheetCsvOptions =
    Map("header" -> "true", "inferSchema" -> "false", "escape" -> "\"")

  /** All-string CSV read of a sheet. A one-file sheet's header line is
    * read on the driver (`sheetSchema`) and handed to the scan as its
    * schema, so no header-inference job runs; a directory (a streaming
    * landing dir, a partitioned export) or glob keeps Spark's own
    * inference, the only reader for that input.
    */
  def readSheetCsv(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.options(SheetCsvOptions)
    sheetFile(spark, path) match {
      case Some(f) =>
        val opts = sheetOptions(spark)
        reader.schema(
          withSheetLines(spark, f, opts)(sheetSchema(spark, opts, _)))
          .csv(path)
      case None => reader.csv(path)
    }
  }

  /** A sheet's (colA, colB) pairs — [[sheetPairs]] of [[readSheetCsv]]
    * — parsed on the driver for a one-file sheet: the rule table is
    * O(rules), so reading it costs no Spark job. Rows come from
    * Spark's own CSV row parser over the file's lines, so quoting,
    * blank lines and short or long rows read exactly as a scan reads
    * them.
    */
  def readSheetPairs(spark: SparkSession, path: String): Seq[(String, String)] =
    sheetFile(spark, path) match {
      case Some(f) =>
        val opts = sheetOptions(spark)
        val lines = withSheetLines(spark, f, opts)(_.toVector)
        val schema = sheetSchema(spark, opts, lines.iterator)
        val checker = new CSVHeaderChecker(schema, opts,
          s"CSV file: $path", true)
        GraftPlanBridge.parseCsvLines(lines.iterator,
            new UnivocityParser(schema, schema, opts), checker, schema)
          .map(r => cellPair(schema.length, r.getUTF8String))
          .toVector
      case None => sheetPairs(readSheetCsv(spark, path))
    }

  private def sheetFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)).filter(_.isFile)
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def sheetOptions(spark: SparkSession): CSVOptions = {
    val conf = GraftPlanBridge.sqlConf(spark)
    new CSVOptions(SheetCsvOptions, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
  }

  /** The file's lines, split and decoded by the line reader Spark's CSV
    * scan uses (LF, CR or CRLF ends a line; a leading UTF-8 BOM is
    * dropped).
    */
  private def withSheetLines[T](spark: SparkSession, f: FileStatus,
      opts: CSVOptions)(body: Iterator[String] => T): T = {
    val reader = new HadoopFileLinesReader(
      PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f), 0,
        f.getLen),
      opts.lineSeparatorInRead, spark.sparkContext.hadoopConfiguration)
    try body(reader.map(t =>
      new String(t.getBytes, 0, t.getLength, opts.charset)))
    finally reader.close()
  }

  /** The schema Spark's CSV inference gives a sheet, derived on the
    * driver from its header line alone: the header is the first line
    * that is not blank after trimming spaces (inference's
    * `length(trim(value)) > 0`), tokenized by univocity and made unique
    * by `makeSafeHeader` under the session's case sensitivity; every
    * column is a string. No line at all gives the empty schema.
    * O(1) in the sheet's size: only the lines up to the header are
    * read.
    */
  private def sheetSchema(spark: SparkSession, opts: CSVOptions,
      lines: Iterator[String]): StructType =
    lines.find(_.exists(_ != ' '))
      .map(new CsvParser(opts.asParserSettings).parseLine) match {
      case Some(header) if header != null =>
        StructType(CSVUtils.makeSafeHeader(header,
            GraftPlanBridge.sqlConf(spark).caseSensitiveAnalysis, opts)
          .map(StructField(_, StringType)).toSeq)
      case _ => StructType(Nil)
    }

  /** First two columns of a sheet as (colA, colB) pairs, null-safe —
    * the shape of both the Map rules and the Dashboard key/values.
    * One definition ([[cellPair]]) so null/short-row handling can't
    * drift between the batch CLI, the stream CLI, and runMapping.
    */
  def sheetPairs(df: DataFrame): Seq[(String, String)] =
    df.collect().toSeq.map(r => cellPair(r.size, r.get))

  private def cellPair(width: Int, cell: Int => Any): (String, String) = {
    def text(i: Int) =
      if (i < width) Option(cell(i)).map(_.toString).getOrElse("") else ""
    (text(0), text(1))
  }
}
