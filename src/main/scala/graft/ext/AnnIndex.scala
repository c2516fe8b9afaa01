package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index lifecycle — train ONCE, serve many.
  *
  * `Similarity.ivfPqTopK` retrains its Lloyd codebooks and re-encodes
  * the corpus on every invocation; BENCH_SF1.md measured that training
  * as the dominant, linear-in-corpus cost (sim_pq 10× ratio 8.5) while
  * the ADC scan the index exists for stayed 0.27× linear. Production
  * ANN systems (FAISS on-disk indexes, Vespa/Milvus segments) split
  * the lifecycle: an offline BUILD materializes quantizers + packed
  * codes as at-rest tables; online SEARCH loads the bounded quantizer
  * tables and scans only probed-cell code partitions. This object is
  * that split, arranged so `search` is HASH-IDENTICAL to the
  * train-every-time `ivfPqTopK` on the same corpus (pinned in
  * AnnIndexSpec):
  *
  *   - `build` trains the same deterministic quantizers (first-N
  *     coarse cells, integer-exact PQ Lloyd — `Similarity.pqTrainCore`)
  *     and writes four tables under `dir`:
  *       `codes/`     (id, naa, bc[m]) PARTITIONED BY cell — probing
  *                    p cells is partition pruning, so a query reads
  *                    p/nCells of the index bytes at any corpus size;
  *       `codebooks/` (sm, c, vals[sub]) — m·nCentroids rows;
  *       `coarse/`    (cell, vec[dim]) — nCells rows;
  *       `meta/`      1 row of format version + geometry + scale.
  *     The `INDEX_READY` marker (format version, params, corpus
  *     fingerprint) commits it — the shared protocol of
  *     [[IndexLifecycle]] (marker, lease, tombstones, groups at rest).
  *   - `search` reads the three bounded side tables (driver-side,
  *     nCells + m·nCentroids rows), picks probe cells exactly like
  *     `ivfPqTopK`, ADC-scores ONLY the probed partitions with the
  *     same fixed-order qdot sums, and exact-cosine rescores the
  *     nCand shortlist against the corpus. No training stage exists
  *     in the plan: the only corpus scan is the broadcast-semi-joined
  *     rescore leg (pinned).
  *   - `ensureBuilt` fingerprints the corpus by file metadata
  *     ([[parquetFingerprint]]), so a warm serve stays training-free.
  *
  * 100 TB posture: build is one training pass + one encode pass +
  * one partitioned write (all linear, run once, amortized across
  * every query thereafter); serve reads `probes` partitions of an
  * m-bytes-per-vector table plus a k-bounded rescore. Re-sharding,
  * compaction, and z-order of the codes table compose with the
  * existing `sources/` maintenance operators because it is a plain
  * parquet table.
  */
object AnnIndex {

  /** Bump when the on-disk layout changes shape. v2: optional
    * `deletes/` tombstone table beside the codes table. v3: `hier`
    * column in meta/ — the coarse-assignment hierarchy recorded at
    * build time so build/append/streaming-ingest assign cells
    * IDENTICALLY (0 = flat ranking, >0 = two-level with that many
    * super-probes).
    */
  private val FormatVersion = 3

  private[graft] val core = new IndexLifecycle("ann", "ANN index")
  private val groups = new GroupsLifecycle(core, FormatVersion)

  final case class Meta(nCells: Int, m: Int, nCentroids: Int, sub: Int,
      scale: Double, hier: Int)

  /** Hadoop-FS metadata fingerprint of a table path: file count +
    * total bytes + max mtime. Cheap (no Spark job, no data read) and
    * catches regenerated testdata, which file paths alone would miss.
    */
  def parquetFingerprint(spark: SparkSession, path: String): String = {
    var n = 0L; var bytes = 0L; var mtime = 0L
    filesUnder(spark, path).foreach { f =>
      n += 1; bytes += f.getLen; mtime = math.max(mtime, f.getModificationTime)
    }
    s"files=$n bytes=$bytes mtime=$mtime"
  }

  private def filesUnder(spark: SparkSession, path: String)
      : Iterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
  }

  /** EXACT row count of a parquet table read from its file FOOTERS —
    * driver-side metadata only, no Spark job (r18, guide §1.2): the
    * nCells derivation needs the corpus cardinality on every
    * invocation, and a count() job costs a full action round-trip
    * (~100 ms of driver latency) to read a number the footers already
    * hold. Footer row counts are exact, so this equals
    * `spark.read.parquet(path).count()` bit for bit.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    filesUnder(spark, path).map { f =>
      val name = f.getPath.getName
      if (!f.isFile || f.getLen == 0 || name.startsWith("_") ||
          name.startsWith(".")) 0L
      else {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(f, conf))
        try r.getRecordCount
        finally r.close()
      }
    }.sum
  }

  private def markerText(nCells: Int, m: Int, nCentroids: Int,
      hier: Int, fingerprint: String): String =
    s"format=$FormatVersion nCells=$nCells m=$m nCentroids=$nCentroids " +
      s"hier=$hier corpus[$fingerprint]"

  /** Train quantizers, encode the corpus, write the index tables, and
    * commit the marker. Overwrites any previous index at `dir`.
    */
  def build(df: DataFrame, idCol: String, vecCol: String, dir: String,
      nCells: Int = 16, m: Int = 8, nCentroids: Int = 16,
      iters: Int = 3, fingerprint: String = "", hier: Int = 0): Unit =
    core.withLease(df.sparkSession, dir) {
      val spark = df.sparkSession
      import spark.implicits._
      val coarse = Similarity.ivfCentroids(df, idCol, vecCol, nCells)
      val dim = coarse.head.length
      val sub = dim / m
      require(m * sub == dim, s"dim $dim must divide into $m subspaces")
      val (scale, codes, cents) =
        Similarity.pqTrainCore(df, idCol, vecCol, m, nCentroids, iters)
      core.liftMarker(spark, dir)
      // a full rebuild retires any streaming segment (its rows were
      // encoded with the PREVIOUS quantizers) and folds tombstones away
      // (the rebuilt corpus is the source of truth)
      core.remove(spark, dir, "codes_stream", "deletes")
      val cellDf = df.select(col(idCol).cast("long").as("id"),
        cellCol(col(vecCol), coarse, hier).as("cell"))
      val aD = col("a").cast("array<double>")
      codes
        .select(col("id"),
          Similarity.dot(aD, aD).cast("long").as("naa"),
          Similarity.pqBestCol(cents, m, nCentroids, sub).as("bc"))
        .join(cellDf, "id")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/codes")
      cents.toSeq.map { case ((sm, c), vals) => (sm, c, vals) }
        .toDF("sm", "c", "vals")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
      coarse.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cell", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
      Seq((FormatVersion, nCells, m, nCentroids, sub, scale, hier))
        .toDF("version", "n_cells", "m", "n_centroids", "sub", "scale",
          "hier")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      core.writeMarker(spark, dir,
        markerText(nCells, m, nCentroids, hier, fingerprint))
    }

  /** [[IndexLifecycle.ensureBuilt]] at these params; true iff built. */
  def ensureBuilt(df: DataFrame, idCol: String, vecCol: String,
      dir: String, nCells: Int = 16, m: Int = 8, nCentroids: Int = 16,
      iters: Int = 3, fingerprint: String = "",
      hier: Int = 0): Boolean =
    core.ensureBuilt(df.sparkSession, dir,
        markerText(nCells, m, nCentroids, hier, fingerprint)) {
      build(df, idCol, vecCol, dir, nCells, m, nCentroids, iters,
        fingerprint, hier)
    }

  /** Incremental index maintenance: encode NEW vectors with the
    * FROZEN quantizers (stored scale, codebooks, coarse centroids)
    * and append their code rows to the partitioned codes table —
    * no retraining, and existing partitions are untouched (parquet
    * append adds files inside the affected cell directories).
    * This is how production ANN serves a growing corpus between
    * periodic full rebuilds: queries see old + new vectors
    * immediately; quantizer drift is bounded by the rebuild cadence.
    * Codes of vectors outside the trained scale simply exceed ±127 —
    * integer columns, no clamping, same arithmetic both engines.
    *
    * Each append stamps `+append[fingerprint]` (any number compose), so
    * a later `ensureBuilt` rebuilds ([[IndexLifecycle]]).
    */
  def append(df: DataFrame, idCol: String, vecCol: String,
      dir: String, fingerprint: String = ""): Unit =
    core.withLease(df.sparkSession, dir) {
      val spark = df.sparkSession
      val (meta, coarse, cents) = load(spark, dir)
      // one shared map-side encode with the streaming ingest (PqBestCodes
      // takes the code array as ONE child, so the inlined transform(...)
      // is evaluated once per row — not the per-element re-inline that
      // OOM'd Janino in the element_at formulation, see Similarity)
      encodeWith(df, idCol, vecCol, meta, coarse, cents)
        .write.mode("append").partitionBy("cell")
        .parquet(s"$dir/codes")
      core.stamp(spark, dir, core.appendLine(fingerprint))
    }

  /** Tombstone ids out of the index ([[IndexLifecycle]]'s queue):
    * [[search]] anti-joins them; [[compactSegment]] or a [[build]]
    * folds them — how a dedup pipeline that REMOVES documents keeps
    * the index between rebuilds without serving ghosts.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    core.delete(spark, dir, ids, _.cast("long"))

  def delete(spark: SparkSession, dir: String, ids: Seq[Long]): Unit =
    core.delete(spark, dir, ids, _.cast("long"))

  /** One encoded code row per input vector, using the FROZEN
    * quantizers of the committed index at `dir` — shared by the batch
    * [[append]] path and the streaming ingest, so the two can never
    * drift. Pure map-side projection: the codebooks ride inside the
    * PqBestCodes codegen reference, cell assignment is nCells dot
    * products per row, no shuffle, no state.
    */
  private def encodeWith(df: DataFrame, idCol: String, vecCol: String,
      meta: Meta, coarse: Seq[Seq[Float]],
      cents: Map[(Int, Int), Seq[Int]]): DataFrame = {
    val withA = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("__v"),
      transform(col(vecCol).cast("array<double>"),
        x => round(x * 127.0 / meta.scale).cast("int")).as("a"))
    val aD = col("a").cast("array<double>")
    withA.select(col("id"),
      Similarity.dot(aD, aD).cast("long").as("naa"),
      Similarity.pqBestCol(cents, meta.m, meta.nCentroids, meta.sub)
        .as("bc"),
      cellCol(col("__v"), coarse, meta.hier).as("cell"))
  }

  /** Cell assignment shared by BUILD, batch APPEND and STREAMING
    * ingest — all three read the hierarchy choice from the same place
    * (the build param, persisted in meta/ as `hier`), so an appended
    * or streamed vector's cell is bit-identical to what a full
    * rebuild would assign (pinned in AnnIndexSpec). `hier` <= 0 is
    * the flat top-1 ranking (`Similarity.ivfCell` — nCells codegen'd
    * dots per row); `hier` > 0 is the first of the row's two-level
    * probe cells ([[probeCellsCol]] — the top-1 child of its
    * top-`hier` super-cells) — the O(hier·√nCells) route for the
    * nCells ∝ N regime where the flat projection is both
    * O(nCells)/row and Janino-uncompilable (r14 addendum).
    */
  private def cellCol(vec: Column, coarse: Seq[Seq[Float]],
      hier: Int): Column =
    if (hier <= 0) Similarity.ivfCell(vec, coarse)
    else element_at(probeCellsCol(vec, coarse, 1, hier), 1)

  /** STREAMING index ingest — the online half of the lifecycle:
    * arriving vectors are encoded map-side with the committed index's
    * frozen quantizers and appended, exactly-once (the parquet sink's
    * metadata log dedups replayed micro-batches — spec'd in
    * StreamingOpsSpec), into a `codes_stream/` SEGMENT beside the base
    * codes table. A separate segment because a FileStreamSink log in
    * the base directory would hide the batch-written files from
    * readers; [[search]] unions the segment in when present (both
    * sides stay partition-pruned on `cell`). A full [[build]] retires
    * the segment — its rows were encoded with the previous quantizers.
    * No state store, no shuffle, no training on the hot path: this is
    * the Vespa/Milvus "memory segment + base segment" shape on plain
    * parquet. The ingest is a writer: it holds the lease for its
    * lifetime and stamps `+ingest` ([[IndexLifecycle]]).
    */
  def ingestStream(stream: DataFrame, idCol: String, vecCol: String,
      dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    val (meta, coarse, cents) = load(spark, dir)
    core.ingest(spark, dir) {
      encodeWith(stream, idCol, vecCol, meta, coarse, cents)
        .writeStream.format("parquet")
        .option("path", s"$dir/codes_stream")
        .option("checkpointLocation", checkpoint)
        .partitionBy("cell")
        .outputMode("append")
        .start()
    }
  }

  /** Break a crashed writer's stale lease ([[IndexFs.breakLease]]);
    * None = no committed marker, rebuild before use.
    */
  def breakLease(spark: SparkSession, dir: String,
      staleMillis: Long = IndexFs.DefaultStaleMillis): Option[String] =
    core.breakLease(spark, dir, staleMillis)

  /** Offline maintenance: fold the streaming segment's rows into the
    * base codes table and retire the segment — the "seal the memory
    * segment" step between ingest and the next full rebuild. Rows are
    * MOVED verbatim (same quantizers encoded them, so no re-encode);
    * reads through [[search]] are identical before and after, the
    * segment's sink metadata log goes with it, and the next
    * [[ingestStream]] needs a FRESH checkpoint (the old one's sink
    * log was retired with the segment). Stop any running ingest
    * stream first — compacting under a live writer would race its
    * uncommitted files.
    *
    * When tombstones ([[delete]]) are queued, compaction additionally
    * REWRITES the codes table without the deleted ids and clears
    * `deletes/` — a full codes-table rewrite (m bytes/vector — cheap
    * relative to the corpus) staged through `codes_tmp` + rename. The
    * compaction rules are [[IndexLifecycle]]'s.
    *
    * @return rows moved from the segment (0 when only tombstones
    *         were folded)
    */
  def compactSegment(spark: SparkSession, dir: String): Long =
    core.compact(spark, dir) { doCompactSegment(spark, dir) }

  private def doCompactSegment(spark: SparkSession, dir: String): Long = {
    val hasSeg = core.has(spark, dir, "codes_stream")
    val hasDel = core.hasDeletes(spark, dir)
    if (!hasSeg && !hasDel) return 0L
    val marker = core.committed(spark, dir)
    // Marker LIFTED across the WHOLE fold (r17 fault sweep): the
    // segment fold is an APPEND to codes/ plus a segment delete — a
    // crash between the two used to leave the folded rows in BOTH
    // places, and load()'s segment union would serve them twice under
    // a still-valid marker. Markerless, every crash window inside the
    // fold reads as "no committed index" (load refuses, ensureBuilt
    // rebuilds) — the family's fail-closed discipline; the marker
    // text is rewritten VERBATIM at the end, so generation guards
    // observe the same digest across a completed compaction.
    core.liftMarker(spark, dir)
    core.fail("compact.unmarked")
    val segN = if (!hasSeg) 0L else {
      val seg = spark.read.parquet(s"$dir/codes_stream")
        .select("id", "naa", "bc", "cell")
        // materialize BEFORE touching the segment dir; bounded by the
        // segment (recent arrivals), not the corpus
        .localCheckpoint(true)
      val n = seg.count()
      seg.write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
      core.fail("compact.segfolded")
      core.remove(spark, dir, "codes_stream")
      n
    }
    if (hasDel) {
      core.withoutDeletes(spark, dir, spark.read.parquet(s"$dir/codes"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/codes_tmp")
      core.fail("compact.staged")
      core.swapStaged(spark, dir, "codes")
      core.remove(spark, dir, "deletes")
    }
    core.fail("compact.swapped")
    core.writeMarker(spark, dir, marker)
    segN
  }

  /** [[IndexLifecycle.ensureBuiltWithAppend]]: build `base`, append
    * `extra`; true iff built.
    */
  def ensureBuiltWithAppend(base: DataFrame, extra: DataFrame,
      idCol: String, vecCol: String, dir: String, nCells: Int = 16,
      m: Int = 8, nCentroids: Int = 16, iters: Int = 3,
      fingerprint: String = "", hier: Int = 0): Boolean =
    core.ensureBuiltWithAppend(base.sparkSession, dir,
        markerText(nCells, m, nCentroids, hier, fingerprint),
        fingerprint) {
      build(base, idCol, vecCol, dir, nCells, m, nCentroids, iters,
        fingerprint, hier)
    }(append(extra, idCol, vecCol, dir, fingerprint))

  /** Bounded side tables of a committed index: meta row, coarse
    * centroids (by cell id), PQ codebooks (by (sm, c)).
    */
  def load(spark: SparkSession, dir: String)
      : (Meta, Seq[Seq[Float]], Map[(Int, Int), Seq[Int]]) = {
    require(core.readMarker(spark, dir).isDefined,
      s"${core.notCommitted(dir)} (missing ${IndexLifecycle.Marker} — " +
        "build() did not finish?)")
    // the three bounded side-table reads are independent — run them
    // CONCURRENTLY (guide §2.6: actions are only sequential because
    // the driver calls them sequentially); serving paths call load()
    // on every invocation, and three serial ~100 ms action round-trips
    // were pure driver latency (r18)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.DurationInt
    val fMeta = Future {
      spark.read.parquet(s"$dir/meta")
        .select("version", "n_cells", "m", "n_centroids", "sub",
          "scale", "hier")
        .head()
    }
    val fCoarse = Future {
      spark.read.parquet(s"$dir/coarse").collect()
    }
    val fCents = Future {
      spark.read.parquet(s"$dir/codebooks").collect()
    }
    val m = Await.result(fMeta, 600.seconds)
    require(m.getInt(0) == FormatVersion,
      s"ANN index format ${m.getInt(0)} != supported $FormatVersion")
    val meta = Meta(m.getInt(1), m.getInt(2), m.getInt(3), m.getInt(4),
      m.getDouble(5), m.getInt(6))
    val coarse = Await.result(fCoarse, 600.seconds)
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
      .sortBy(_._1).map(_._2.toSeq).toSeq
    val cents = Await.result(fCents, 600.seconds)
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Int](2).toSeq)
      .toMap
    require(coarse.size == meta.nCells &&
      cents.size == meta.m * meta.nCentroids,
      s"index side tables truncated: ${coarse.size} cells, " +
        s"${cents.size} codebook rows")
    (meta, coarse, cents)
  }

  /** The logical codes table every serve path reads: base codes, the
    * streaming segment unioned in when present, queued tombstones
    * anti-joined away. A `cell` filter composed on top pushes through
    * the union into both pruned scans.
    */
  private def codesTable(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/codes")
    core.withoutDeletes(spark, dir,
      if (core.has(spark, dir, "codes_stream"))
        base.unionByName(spark.read.parquet(s"$dir/codes_stream")
          .select("id", "naa", "bc", "cell"))
      else base)
  }

  /** ANN-assisted near-duplicate pairs — the 100 TB route for the
    * low-threshold `dedup_embed` regime, where sign-LSH banding
    * cannot prune (at cosine ≥ 0.45 the banding S-curve passes almost
    * everything, so `cosinePairsLsh` degenerates toward all-pairs —
    * measured 25× at 10× data in BENCH_SF1.md). Candidate generation
    * is CONFINED to the persisted index's coarse cells instead:
    *
    *   - the index contributes its TRAINED quantizer (bounded coarse
    *     side table), its staleness lifecycle, and its tombstones;
    *   - each corpus vector is assigned to its top-`probes` cells
    *     with one map-side projection (the same dot ranking as the
    *     index quantizer, ties to the smaller cell);
    *   - candidates are PROBE↔PROBE co-occurrences within a cell
    *     (multi-probe on BOTH sides: a pair straddling a cell
    *     boundary is caught when both merely REACH the cell between
    *     them — probe×home missed those, measured 0.33 recall at
    *     sf1.0 vs 0.52 for probe×probe at the same probes=4);
    *   - work is Σ_cell |probers_c|² ≈ probes²·cellSize·N — LINEAR
    *     in N at fixed probes when cells are capacity-bounded
    *     (production scales nCells with the corpus — the SemDeDup
    *     posture; the dedup_embed_ann query builds with
    *     nCells = max(16, N/125));
    *   - exact cosine verifies candidates only.
    *
    * Approximate BY DESIGN: a true pair whose two sides never probe a
    * common cell is missed. `probes` is the recall/work knob —
    * measured at sf1.0 against brute force (BENCH_SF1.md, "Round-14
    * addendum — p=8 headline + two-level assignment measured"):
    * p=4 → 0.52 recall / 11 s, p=6 → 0.75 / 25 s, p=8 → 0.89 / 33 s
    * (BEATING the sign-LSH leg's 0.87 / 52 s on both axes), p=12 →
    * 0.98 / 148 s; precision is always 1.0 (exact verify). The
    * oracle-checked query pins p=4 (keeps the SQL replay tractable);
    * production picks p per its recall target and audits with
    * PairRecall. Deterministic → exact SQL oracle.
    *
    * Cell ASSIGNMENT optionally runs a TWO-LEVEL coarse quantizer
    * (`superProbes` > 0): with the production rule nCells ∝ N, flat
    * assignment evaluates nCells dot products per row — O(N) per row,
    * quadratic total, and an nCells-wide codegen expression (Janino
    * caps that in the thousands of cells). The hierarchy is built
    * over the SAME trained centroid list: the first ceil(sqrt(nCells))
    * centroids double as super-cells, every centroid is assigned to
    * its max-dot super (ties to the smaller super id, driver-side —
    * bounded), and a row ranks only the CHILDREN of its
    * top-`superProbes` supers (top-`probes` of that union by dot
    * DESC, cell ASC). Per-row work drops to superProbes·√nCells dots
    * = O(√N), ranked map-side in the same [[probeCellsCol]] array as
    * the flat path: the child table rides as literal DATA through
    * higher-order functions (no per-cell codegen width at any nCells)
    * and the rank needs no exchange.
    *
    * `superProbes` is a second recall knob of the same approximate-
    * by-design kind as `probes` (a top cell whose super was not
    * probed is missed); superProbes = 0 keeps the exact flat ranking,
    * and superProbes ≥ nSuper is EXACTLY the flat ranking by
    * construction (the union of all supers' children is all cells).
    * MEASURED at sf1.0 (nCells=160, BENCH_SF1.md round-14 addendum):
    * p8 recall 0.765@sp3 / 0.808@sp4 / 0.839@sp6 / 0.862@sp8 vs flat
    * 0.887, with the hierarchy's fixed stage costs still exceeding
    * 160 map-side dots — so below ~10³ cells flat wins on BOTH axes and
    * the default stays 0; the hierarchy is the nCells ≫ 10³ route
    * where the flat projection is both O(nCells)/row and
    * uncompilable. AnnIndexSpec pins confinement (candidates never
    * leave the chosen supers' children), sp ≥ nSuper == flat, and
    * hierarchical == flat pairs at p=4/sp=3 on the spec corpus.
    *
    * Both assignments feed the one pair miner ([[minCellPairs]]):
    * each pair is emitted once, in its minimal shared probe cell — no
    * pair-dedup exchange.
    *
    * @return (id_a, id_b, cos) with id_a < id_b, cos ≥ threshold
    */
  def cosinePairsIndexed(corpus: DataFrame, idCol: String,
      vecCol: String, dir: String, threshold: Double,
      probes: Int = 4, superProbes: Int = 0,
      pre: Option[(Meta, Seq[Seq[Float]], Map[(Int, Int), Seq[Int]])] =
        None): DataFrame = {
    val spark = corpus.sparkSession
    // a caller that already loaded the index's bounded side tables for
    // THIS query execution passes them through — never a cross-run
    // cache, just plumbing (r18, VERDICT r17 #1)
    val (_, coarse, _) = pre.getOrElse(load(spark, dir))
    // tombstones are authoritative on BOTH sides: the home side via
    // codesTable, the probe/verify side via normalized()
    val n = normalized(corpus, idCol, vecCol, dir)
    cosineVerified(minCellPairs(n, n, coarse, probes, superProbes)(_ < _),
      n, threshold)
  }

  /** Candidate pairs between two (id, v) frames under the probe ×
    * probe rule — the ONE pair miner of full-corpus mining and both
    * groups folds. Each side carries its full [[probeCellsCol]]
    * array (a few ints), both sides explode it and join on `cell`,
    * and a co-occurrence survives only in the pair's MINIMAL shared
    * cell: a pair sharing k >= 1 cells passes the filter at exactly
    * the smallest of them, so every pair is emitted once with no
    * distinct (r18 measured the replaced ~probes²·cellSize·N-row
    * exchange + hash dedup at 1.25 s at sf0.1). `keep` is the pair
    * predicate on (a's id, b's id).
    *
    * The co-occurrence join is pinned at work width: its input is
    * skinny (id, cells, cell) rows — byte-based AQE coalescing
    * collapses it to one task — but the join fans out the quadratic
    * candidate generation (measured 1.1 s single-task at sf0.1).
    *
    * @return (id_a, id_b): id_a from `a`, id_b from `b`
    */
  private def minCellPairs(a: DataFrame, b: DataFrame,
      coarse: Seq[Seq[Float]], probes: Int, superProbes: Int)(
      keep: (Column, Column) => Column): DataFrame = {
    def cells(df: DataFrame): DataFrame = df.select(col("id"),
      probeCellsCol(col("v"), coarse, probes, superProbes).as("__cells"))
    val left = cells(a).select(col("id"), col("__cells"),
      explode(col("__cells")).as("cell"))
    val right = cells(b).select(col("id").as("id2"),
      col("__cells").as("__cells2"), explode(col("__cells")).as("cell"))
    left
      .repartition(ScanSpread.workParts(a), col("cell"))
      .join(right, "cell")
      .filter(keep(col("id"), col("id2")) &&
        col("cell") === array_min(
          array_intersect(col("__cells"), col("__cells2"))))
      .select(col("id").as("id_a"), col("id2").as("id_b"))
  }

  /** Exact cosine of candidate pairs (id_a, id_b) against the (id, v,
    * nrm) rows of `n`: (id_a, id_b, cos) at cos >= `threshold` — the
    * verify leg of every pair miner here.
    */
  private def cosineVerified(cand: DataFrame, n: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(n.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(n.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("va"), col("vb")) /
          (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)

  /** The (id, cell, v) probe assignment over a frame with columns
    * (id, v): one row per element of the row's [[probeCellsCol]]
    * array — flat top-`probes` ranking when `superProbes` <= 0, the
    * two-level hierarchy otherwise; map-side either way. Carries the
    * row's vector through, so [[searchBatchDist]]'s probe path (flat
    * and hierarchical) and [[cellTable]] reuse THIS code verbatim
    * rather than re-derive it. Package-visible so AnnIndexSpec can pin
    * confinement (hierarchical probes never leave the chosen supers'
    * children) and the flat == hierarchical equality at the battery
    * operating point.
    */
  private[graft] def probeCells(n: DataFrame, coarse: Seq[Seq[Float]],
      probes: Int, superProbes: Int): DataFrame =
    n.select(col("id"),
      explode(probeCellsCol(col("v"), coarse, probes, superProbes))
        .as("cell"), col("v"))

  /** Driver-side child→super assignment of the two-level hierarchy:
    * one (super, cell) pair per trained centroid, max-dot super per
    * centroid with ties to the smaller super id — the ONE tree every
    * hierarchical path (encode, pair-mining probe, distributed batch
    * serve) derives from.
    */
  private def childAssignments(coarse: Seq[Seq[Float]])
      : Seq[(Int, Int)] = {
    val supers = coarse.take(superCount(coarse.size))
    coarse.zipWithIndex.map { case (cv, c) =>
      (Similarity.topCells(cv.map(_.toDouble), supers, 1).head, c)
    }
  }

  /** The row's top-`sp` super-cells as one map-side column — the
    * √nCells-wide struct sort shared by every hierarchical ranking
    * (same dot arithmetic and (dot DESC, super ASC) tie-break).
    */
  private def topSupersCol(vec: Column, coarse: Seq[Seq[Float]],
      sp: Int): Column = {
    val supers = coarse.take(superCount(coarse.size))
    val ssorted = array_sort(array(supers.zipWithIndex.map {
      case (sv, s) =>
        val sl = array(sv.map(x => lit(x.toDouble)): _*)
        struct((-Similarity.dot(vec, sl)).as("d"), lit(s).as("s"))
    }: _*))
    transform(slice(ssorted, 1, sp), x => x("s"))
  }

  /** The flat top-`probes` probe-cell ARRAY as one map-side column:
    * rank (dot DESC, cell ASC) via an ascending struct sort on
    * (-dot, cell). The flat branch of [[probeCellsCol]] (the batch
    * pair-mining assignment), shared with `StreamingOps.annGate`'s
    * per-row stream assignment, so the gate probes exactly the cells
    * batch mining would — the map-side-signature-sharing discipline of
    * `nearDupGate`. Pure projection: no shuffle, no state,
    * streaming-safe.
    */
  private[graft] def flatProbeCellsCol(vec: Column,
      coarse: Seq[Seq[Float]], probes: Int): Column = {
    val sorted = array_sort(array(coarse.zipWithIndex.map {
      case (c, j) =>
        val cl = array(c.map(x => lit(x.toDouble)): _*)
        struct((-Similarity.dot(vec, cl)).as("d"),
          lit(j).as("c"))
    }: _*))
    transform(slice(sorted, 1, probes), s => s("c"))
  }

  /** A row's top-`probes` probe cells as ONE map-side array column,
    * ranked (dot DESC, cell ASC) — the assignment every pair miner,
    * [[probeCells]] and the two-level encode ([[cellCol]], element 1)
    * share. `superProbes` <= 0 ranks all nCells
    * ([[flatProbeCellsCol]]); otherwise only the children of the
    * row's top-`superProbes` super-cells ([[topSupersCol]], the tree
    * of [[childAssignments]]) are ranked. The children ride as literal
    * DATA (array-of-arrays of (cell, centroid) structs indexed by
    * super) through higher-order functions — interpreted, but over
    * superProbes·√nCells elements per row, with NO shuffle and NO
    * per-cell codegen width, which is what the streaming ingest path
    * requires (a per-id rank window is unsupported on streams and the
    * flat projection stops compiling in the thousands of cells). Same
    * dot arithmetic ([[graft.functions.DotDouble]], strict left fold)
    * as every other ranking.
    */
  private[graft] def probeCellsCol(vec: Column, coarse: Seq[Seq[Float]],
      probes: Int, superProbes: Int): Column =
    if (superProbes <= 0) flatProbeCellsCol(vec, coarse, probes)
    else {
      val nSuper = superCount(coarse.size)
      val childrenBySuper: Map[Int, Seq[Int]] =
        childAssignments(coarse).groupBy(_._1).view
          .mapValues(_.map(_._2)).toMap
      val childType = "array<struct<c:int,cv:array<double>>>"
      val childrenLit = array((0 until nSuper).map { s =>
        val kids = childrenBySuper.getOrElse(s, Nil)
        if (kids.isEmpty) array().cast(childType)
        else array(kids.map { c =>
          struct(lit(c).as("c"),
            array(coarse(c).map(x => lit(x.toDouble)): _*).as("cv"))
        }: _*).cast(childType)
      }: _*)
      val cands = flatten(transform(
        topSupersCol(vec, coarse, superProbes),
        s => element_at(childrenLit, s + 1)))
      val ranked = array_sort(transform(cands, ch =>
        struct((-Similarity.dot(vec, ch("cv"))).as("d"),
          ch("c").as("c"))))
      transform(slice(ranked, 1, probes), x => x("c"))
    }

  /** The committed index's probe-cell corpus table — (cell, id, v,
    * nrm) with one row per (probed cell, vector), tombstones applied:
    * the STATIC side of `StreamingOps.annGate` (the `corpusBandBuckets`
    * role, for embeddings). Derived from the corpus the index was
    * built over with the index's OWN frozen centroids, so the gate's
    * candidate rule is exactly [[cosinePairsIndexed]]'s probe×probe
    * co-occurrence; refresh on the index's rebuild/compaction cadence.
    * ~`probes`× the corpus vector bytes at rest — bounded replication,
    * cell-partitionable.
    */
  def cellTable(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, probes: Int = 4, superProbes: Int = 0,
      pre: Option[(Meta, Seq[Seq[Float]], Map[(Int, Int), Seq[Int]])] =
        None): DataFrame = {
    val spark = corpus.sparkSession
    val (_, coarse, _) = pre.getOrElse(load(spark, dir))
    val n = normalized(corpus, idCol, vecCol, dir)
    probeCells(n, coarse, probes, superProbes)
      .select(col("id"), col("cell"))
      .join(n, "id")
      .select(col("cell"), col("id"), col("v"), col("nrm"))
  }

  /** The (id, v, nrm) view of `corpus` with queued tombstones
    * anti-joined away — tombstones are authoritative on the
    * probe/verify side too (the corpus argument may be a snapshot
    * that still contains deleted ids). Shared by
    * [[cosinePairsIndexed]] and [[cellTable]].
    */
  private def normalized(corpus: DataFrame, idCol: String,
      vecCol: String, dir: String): DataFrame = {
    val spark = corpus.sparkSession
    // spread before the norm projection AND the checkpoint: the
    // checkpoint pins the partitioning, so a 1-split scan otherwise
    // single-tasks every downstream probe/verify leg (ScanSpread)
    val csp = ScanSpread.spread(corpus)
    val nAll = csp.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("v"),
        Similarity.l2norm(col(vecCol)).as("nrm"))
    core.withoutDeletes(spark, dir, nAll).localCheckpoint(false)
  }

  /** Super-cell count of the two-level hierarchy: ceil(sqrt(nCells))
    * — IEEE-exact cross-engine at integer points, matching the SQL
    * replay's `CAST(ceil(sqrt(nc)) AS BIGINT)`.
    */
  private[graft] def superCount(nCells: Int): Int =
    math.ceil(math.sqrt(nCells.toDouble)).toInt

  /** Serve a top-k query from the persisted index: probed-cell
    * partition-pruned ADC scan + exact rescore. Hash-identical to
    * `Similarity.ivfPqTopK(df, ..., nCells, probes, m, nCentroids,
    * k, nCand)` over the same corpus — same probe pick (max driver
    * dot, index tie-break), same fixed-order integer-codebook qdot
    * sums, same (score desc, id) shortlist, same rescore.
    */
  def search(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, query: Seq[Float], probes: Int = 2, k: Int = 10,
      nCand: Int = 80): DataFrame = {
    val spark = corpus.sparkSession
    val (meta, coarse, cents) = load(spark, dir)
    require(query.length == meta.m * meta.sub,
      s"query dim ${query.length} != index dim ${meta.m * meta.sub}")
    val (probeCells, qdots) =
      queryPlan(query, meta, coarse, cents, probes)
    // cell is the PARTITION column of codes/ — this filter prunes to
    // `probes` directories before any row is read (pinned in spec).
    // A streaming segment (ingestStream) unions in when present; the
    // filter pushes through the union, so both sides stay pruned.
    // Queued tombstones (delete/) anti-join the pruned scan — skinny
    // id list, AQE broadcasts it; compactSegment folds it physically.
    val codes = codesTable(spark, dir)
      .filter(col("cell").isin(probeCells: _*))
    val qsum = (0 until meta.m).map(sm =>
      element_at(array(qdots(sm).map(lit): _*),
        element_at(col("bc"), sm + 1) + 1))
      .reduce(_ + _)
    val cand = codes
      .select(col("id").as(idCol),
        when(col("naa") === 0L, lit(0.0))
          .otherwise(qsum / sqrt(col("naa").cast("double")))
          .as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(nCand)
      .select(col(idCol))
    val qlit = array(query.map(x => lit(x.toDouble)): _*)
    corpus.join(broadcast(cand), idCol)
      .select(col(idCol),
        (Similarity.dot(col(vecCol), qlit) /
          (Similarity.l2norm(col(vecCol)) *
            Similarity.l2norm(qlit))).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Driver-side serve arithmetic of one query, shared by [[search]]
    * and [[searchBatch]]: its top-`probes` cells (dot DESC, cell ASC)
    * and its m x nCentroids codebook dot table, by fixed left folds.
    */
  private def queryPlan(query: Seq[Float], meta: Meta,
      coarse: Seq[Seq[Float]], cents: Map[(Int, Int), Seq[Int]],
      probes: Int): (Seq[Int], Seq[Seq[Double]]) = {
    val qd = query.map(_.toDouble)
    val cells = Similarity.topCells(qd, coarse, probes)
    val qdots = (0 until meta.m).map { sm =>
      val qm = qd.slice(sm * meta.sub, (sm + 1) * meta.sub)
      (0 until meta.nCentroids).map(c =>
        qm.zip(cents((sm, c))).foldLeft(0.0)((acc, p) => acc + p._1 * p._2))
    }
    (cells, qdots)
  }

  /** BATCH serve: answer a TABLE of queries in ONE pass over the
    * index — per-query results HASH-IDENTICAL to [[search]] (pinned
    * in AnnIndexSpec). [[search]] plans per query; production serving
    * answers its whole query batch with one partition-pruned codes
    * scan and one corpus rescore scan, whatever the batch size.
    *
    * Shape: the query batch is driver-materialized (it IS the serve
    * batch — bounded by contract; shard huge query tables into
    * batches). Probe cells and the per-(query, subspace) codebook dot
    * tables are computed with EXACTLY the per-query driver arithmetic
    * — same fold order, bit-identical doubles — and shipped as one
    * broadcast probe table of |Q|·probes rows. Driver-materializing
    * the batch is also what makes STATIC partition pruning possible:
    * the union of probed cells (≤ nCells values, whatever |Q|) goes
    * into the scan filter before any row is read. ADC scoring is the
    * pruned codes scan broadcast-joined to the probe table; per-query
    * shortlists and final top-k are qid-partitioned windows (two
    * bounded exchanges keyed by qid). Tombstones and the streaming
    * segment compose exactly like [[search]].
    *
    * @return (qid, idCol, score) — top-k per query, rank order
    */
  def searchBatch(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, queries: DataFrame, qidCol: String, qvecCol: String,
      probes: Int = 2, k: Int = 10, nCand: Int = 80): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (meta, coarse, cents) = load(spark, dir)
    val qrows = queries
      .select(col(qidCol).cast("long"), col(qvecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .toSeq
    require(qrows.nonEmpty, "empty query batch")
    // two rows sharing a qid would merge their candidates under one
    // window partition — a silently-wrong single result set instead of
    // two; the batch is already driver-materialized, so the check is free
    locally {
      val dups = qrows.groupBy(_._1).filter(_._2.length > 1).keys
      require(dups.isEmpty,
        s"duplicate qids in query batch: ${dups.toSeq.sorted.take(5).mkString(", ")}")
    }
    qrows.foreach { case (qid, q) =>
      require(q.length == meta.m * meta.sub,
        s"query $qid dim ${q.length} != index dim ${meta.m * meta.sub}")
    }
    // per query: probe cells + the m×nCentroids qdot table, via the
    // SAME driver folds as search() — bit-identical by construction
    val probeRows = qrows.flatMap { case (qid, q) =>
      val (probeCells, qdots) = queryPlan(q, meta, coarse, cents, probes)
      probeCells.map(cell => (qid, cell, qdots))
    }
    val probeDf = probeRows.toDF("__qid", "cell", "__qd")
    val allCells = probeRows.map(_._2).distinct
    // ONE pruned codes scan for the whole batch (union of probed
    // cells, ≤ nCells partitions); segment + tombstones as in search
    val codes = codesTable(spark, dir)
      .filter(col("cell").isin(allCells: _*))
    val qsum = (0 until meta.m).map(sm =>
      element_at(element_at(col("__qd"), sm + 1),
        element_at(col("bc"), sm + 1) + 1))
      .reduce(_ + _)
    import org.apache.spark.sql.expressions.Window
    val byQ = Window.partitionBy("__qid")
      .orderBy(desc("score"), col(idCol))
    val cand = codes
      .join(broadcast(probeDf), "cell")
      .select(col("__qid"), col("id").as(idCol),
        when(col("naa") === 0L, lit(0.0))
          .otherwise(qsum / sqrt(col("naa").cast("double")))
          .as("score"))
      .withColumn("__rn", row_number().over(byQ))
      .filter(col("__rn") <= nCand)
      .select(col("__qid"), col(idCol))
    val qvDf = qrows.map { case (qid, q) => (qid, q.map(_.toDouble)) }
      .toDF("__qid", "__qv")
    val rescoreByQ = Window.partitionBy("__qid")
      .orderBy(desc("score"), col(idCol))
    corpus.join(broadcast(cand), idCol)
      .join(broadcast(qvDf), "__qid")
      .select(col("__qid"), col(idCol),
        (Similarity.dot(col(vecCol), col("__qv")) /
          (Similarity.l2norm(col(vecCol)) *
            Similarity.l2norm(col("__qv")))).as("score"))
      .withColumn("__rn", row_number().over(rescoreByQ))
      .filter(col("__rn") <= k)
      .select(col("__qid").as("qid"), col(idCol), col("score"))
  }

  /** DISTRIBUTED batch serve — [[searchBatch]] without the
    * driver-materialized query table, for UNBOUNDED query tables
    * ("join every document to its neighbors"). The query frame stays
    * a distributed scan end to end (pinned in AnnIndexSpec: the
    * executed plan reads the queries source, no collect):
    *
    *   - probe cells per query come from [[probeCells]], map-side:
    *     on a FLAT index (meta.hier = 0) its [[probeCellsCol]] array
    *     ranks all nCells by (dot DESC, cell ASC) — the same rank
    *     [[search]] computes on the driver. That projection is
    *     nCells wide, as wide as the flat build's own encode
    *     (`Similarity.ivfCell`), so it narrows no index that can be
    *     built. On a hier>0 index the array ranks only the children
    *     of the query's top-`hier` supers: O(hier·√nCells) dots per
    *     query — the scale shape for the nCells ∝ N regime, equal to
    *     flat when hier >= nSuper and the cosinePairsIndexed
    *     superProbes recall knob below it (the driver-bounded
    *     [[search]]/[[searchBatch]] keep the exact flat rank: their
    *     nCells work is driver-side and bounded);
    *   - the codes scan is semi-joined on the DISTINCT probed-cell
    *     set (≤ nCells values, whatever |Q|) — dynamic pruning of the
    *     cell-partitioned table replaces [[searchBatch]]'s static
    *     IN-list;
    *   - ADC scoring re-derives each (query, subspace) codebook dot
    *     ON THE FLY from the raw query vector and the LITERAL codebook
    *     (sub multiplies per term instead of a table lookup — the
    *     codebooks are index geometry, bounded, so they inline as
    *     codegen literals at any |Q|), with the same left folds and
    *     the same m-term sum order as [[searchBatch]]'s broadcast qdot
    *     table — results are row-identical (pinned);
    *   - shortlist and top-k are qid-partitioned windows, and every
    *     join carries only (qid, qvec) — dim doubles — through the
    *     fanout.
    *
    * Duplicate qids fail IN-PLAN (raise_error under a qid-count
    * window) — same contract as [[searchBatch]]'s driver check.
    * Trade-offs vs [[searchBatch]]: the probe rank costs |Q|·nCells
    * dots (flat) computed map-side in the query scan, and the
    * codes⋈probes join is planned by AQE (a small
    * batch broadcasts; a corpus-sized one shuffles on `cell`, whose
    * ≤ nCells distinct values SKEW). For that corpus-sized case pass
    * `salts` > 0: the codes side keeps a deterministic per-row salt
    * (`xxhash64(id) mod salts`) and the probe side is replicated
    * across all salts — the join key becomes (cell, salt), each
    * (code, probe) pair still matches at EXACTLY one salt (results
    * row-identical, pinned in spec), and a hot cell's work spreads
    * over `salts` tasks instead of one — the `join_skew_salted` /
    * `bucketJoinPairs` fan-out. Cost: the skinny probe rows ship
    * `salts`× . Use [[searchBatch]] when the batch is bounded and the
    * bit-exact static-pruning contract matters.
    *
    * @param superProbes serve-time probe-routing override (ADVICE
    *        r16): -1 (default) follows the build-time marker
    *        (`meta.hier`); 0 forces the EXACT flat distributed rank
    *        even on a hier index — affordable at small nCells, and
    *        row-identical to a flat index's serve; a positive value
    *        probes that many supers per query, the same recall knob
    *        as [[cosinePairsIndexed]]'s `superProbes`.
    */
  def searchBatchDist(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, queries: DataFrame, qidCol: String, qvecCol: String,
      probes: Int = 2, k: Int = 10, nCand: Int = 80,
      salts: Int = 0, superProbes: Int = -1): DataFrame = {
    val spark = corpus.sparkSession
    import org.apache.spark.sql.expressions.Window
    val (meta, coarse, cents) = load(spark, dir)
    val dim = meta.m * meta.sub
    val dupW = Window.partitionBy("__qid")
    val q0 = queries
      .select(col(qidCol).cast("long").as("__qid"),
        col(qvecCol).cast("array<double>").as("__qv"))
      .select(col("__qid"),
        when(count(lit(1)).over(dupW) > 1,
          raise_error(concat(lit("duplicate qid in query batch: "),
            col("__qid").cast("string"))))
          .otherwise(
            when(size(col("__qv")) =!= dim,
              raise_error(concat(lit(s"query dim != index dim $dim: "),
                col("__qid").cast("string"))))
              .otherwise(col("__qv"))).as("__qv"))
    // Probe-cell selection follows the MARKER-RECORDED hierarchy
    // through probeCells, the assignment build/append/ingest encode
    // with: a flat index ranks ALL nCells per query row (exact; the
    // super-linear shape past ~1k cells is BENCH_SF1.md's "Two-level
    // break-even MEASURED at nCells ≥ 1024"), a hier>0 index only the
    // children of its top supers, so probe cells at probes=1 equal
    // the encode cell (the encode-spec consistency). Equal to the
    // flat ranking by construction when hier >= nSuper; below that it
    // is the same approximate-by-design recall knob as
    // cosinePairsIndexed's superProbes (pinned in LayoutSpec).
    //
    // `superProbes` makes recall a SERVE-TIME knob like
    // cosinePairsIndexed's rather than frozen at build (ADVICE r16):
    // the default -1 follows the marker (meta.hier), 0 forces the
    // exact flat distributed rank even on a hier index (affordable at
    // small nCells), and a positive value widens/narrows the probed
    // supers per call.
    val sp = if (superProbes < 0) meta.hier else superProbes
    val probeQ = probeCells(
        q0.select(col("__qid").as("id"), col("__qv").as("v")),
        coarse, probes, sp)
      .select(col("id").as("__qid"), col("v").as("__qv"), col("cell"))
    // dynamic pruning: the ≤ nCells distinct probed cells semi-join
    // the partition column of the codes scan
    val codes = codesTable(spark, dir)
      .join(probeQ.select("cell").distinct(), Seq("cell"), "left_semi")
    // ADC on the fly: qdot(sm, bc[sm]) = dot(qm_sm, cent(sm, bc[sm]))
    // with cent as a literal nCentroids x sub array per subspace —
    // fold order and the m-term sum order match searchBatch exactly
    val qsum = (0 until meta.m).map { sm =>
      val centLit = array((0 until meta.nCentroids).map { c =>
        array(cents((sm, c)).map(x => lit(x.toDouble)): _*)
      }: _*)
      Similarity.dot(slice(col("__qv"), sm * meta.sub + 1, meta.sub),
        element_at(centLit, element_at(col("bc"), sm + 1) + 1))
    }.reduce(_ + _)
    val byQ = Window.partitionBy("__qid")
      .orderBy(desc("score"), col(idCol))
    // salted fan-out for corpus-sized batches: ≤ nCells distinct join
    // keys skew; (cell, salt) spreads each cell over `salts` tasks
    val joined =
      if (salts <= 0) codes.join(probeQ, "cell")
      else codes
        .withColumn("__salt", pmod(xxhash64(col("id")), lit(salts.toLong)))
        .join(probeQ.withColumn("__salt",
          explode(sequence(lit(0L), lit(salts.toLong - 1)))),
          Seq("cell", "__salt"))
    val cand = joined
      .select(col("__qid"), col("__qv"), col("id").as(idCol),
        when(col("naa") === 0L, lit(0.0))
          .otherwise(qsum / sqrt(col("naa").cast("double")))
          .as("score"))
      .withColumn("__rn", row_number().over(byQ))
      .filter(col("__rn") <= nCand)
      .select(col("__qid"), col("__qv"), col(idCol))
    corpus.join(cand, idCol)
      .select(col("__qid"), col(idCol),
        (Similarity.dot(col(vecCol), col("__qv")) /
          (Similarity.l2norm(col(vecCol)) *
            Similarity.l2norm(col("__qv")))).as("score"))
      .withColumn("__rn", row_number().over(byQ))
      .filter(col("__rn") <= k)
      .select(col("__qid").as("qid"), col(idCol), col("score"))
  }

  // --- semantic-dup GROUPS at rest ([[GroupsLifecycle]]) ----------
  // Pair miners, all three through [[minCellPairs]]:
  // [[cosinePairsIndexed]] over the corpus; the batch's probe cells
  // against the corpus probe-cell assignment under the index's frozen
  // centroids (the same probe x probe rule restricted to pairs
  // touching the batch — the corpus side holds the batch, so
  // batch-internal pairs are included; the corpus assignment is one
  // shuffle-free map pass, the one per-corpus cost of this fold); and
  // the probe x probe self-join over the touched members (cells are
  // deterministic per vector, so this finds every rebuild pair among
  // them). Rebuild equality pinned in AnnIndexSpec / LayoutSpec.

  private def groupsParams(threshold: Double, probes: Int,
      superProbes: Int): String =
    s"threshold=$threshold probes=$probes superProbes=$superProbes"

  /** True iff a committed groups table matches the CURRENT index
    * marker at these mining params.
    */
  def groupsFresh(spark: SparkSession, dir: String, threshold: Double,
      probes: Int = 4, superProbes: Int = 0): Boolean =
    groups.fresh(spark, dir, groupsParams(threshold, probes, superProbes))

  /** [[GroupsLifecycle]]'s staleness view (None = no groups table). */
  def groupsStatus(spark: SparkSession, dir: String)
      : Option[(String, Boolean)] = IndexLifecycle.groupsStatus(spark, dir)

  /** The committed groups table: (id, label), label = min id of the
    * group; unpaired vectors are absent.
    */
  def readGroups(spark: SparkSession, dir: String): DataFrame =
    groups.read(spark, dir)

  /** Full connected components over [[cosinePairsIndexed]]'s pairs. */
  def buildGroups(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, threshold: Double, probes: Int = 4,
      superProbes: Int = 0): Unit =
    groups.build(corpus.sparkSession, dir,
        groupsParams(threshold, probes, superProbes)) {
      cosinePairsIndexed(corpus, idCol, vecCol, dir, threshold, probes,
        superProbes)
    }

  /** Fold a JUST-APPENDED batch; `corpus` is the full post-append
    * corpus and must contain the batch ids.
    */
  def appendGroups(batch: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dir: String, threshold: Double, probes: Int = 4,
      superProbes: Int = 0): Unit =
    groups.foldAppend(batch.sparkSession, dir,
        groupsParams(threshold, probes, superProbes)) {
      val (_, coarse, _) = load(batch.sparkSession, dir)
      val n = normalized(corpus, idCol, vecCol, dir)
      val bN = n.join(
        batch.select(col(idCol).cast("long").as("id")).distinct(),
        Seq("id"), "left_semi")
      cosineVerified(
        minCellPairs(bN, n, coarse, probes, superProbes)(_ =!= _),
        n, threshold)
    }

  /** Fold a JUST-QUEUED [[delete]]; `corpus` is the post-delete corpus
    * (tombstoned vectors are excluded by id either way).
    */
  def deleteGroups(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, threshold: Double, probes: Int = 4,
      superProbes: Int = 0): Unit =
    groups.foldDelete(corpus.sparkSession, dir,
        groupsParams(threshold, probes, superProbes)) { members =>
      val (_, coarse, _) = load(corpus.sparkSession, dir)
      val mN = normalized(corpus, idCol, vecCol, dir)
        .join(members, Seq("id"), "left_semi")
        .localCheckpoint(false)
      cosineVerified(
        minCellPairs(mN, mN, coarse, probes, superProbes)(_ < _),
        mN, threshold)
    }
}
