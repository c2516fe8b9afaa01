package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.etl.Engine
import graft.etl.dsl.{Ast, Parser}

/** Structured Streaming surface.
  *
  * The reference engine's whole operator set (filter + per-row
  * projection, SURVEY §2.1 ops 11-17) is stateless, so the SAME
  * compiled RuleSet runs unchanged over `readStream` sources — one
  * code path for batch and streaming (`transformStream` just reuses
  * `Engine.transform`; mappings using `self[]` row addressing are the
  * one exclusion, since global row position is undefined on an
  * unbounded stream).
  *
  * Beyond the reference: watermarked windowed aggregation, built-in
  * state-store dedup, and custom per-key state via
  * `flatMapGroupsWithState` — the canonical pieces of a streaming
  * ingest pipeline at scale (state is partitioned by key; watermarks
  * bound state size).
  */
object StreamingOps {

  /** Reference RuleSet over an unbounded stream. Rejects `self[]`
    * mappings (no global row order on a stream) and `_type:` rules
    * (the whole-input validation pass needs a bounded scan). `_join:`
    * rules DO work — the `sheets` tables are static, so each join
    * plans as Spark's stream-static join (the static side broadcasts
    * or re-scans per micro-batch; no state store needed for inner
    * equi-joins).
    */
  def transformStream(stream: DataFrame,
      mapRules: Seq[(String, String)],
      sheets: Map[String, DataFrame] = Map.empty): DataFrame =
    Engine.transform(stream, mapRules, sheets = sheets)

  /** Resolve (and sanity-check) the checkpoint dir for a
    * source→output stream under `<sheetsDir>/_checkpoint/`.
    *
    * The checkpoint is keyed `<source>__<output>` so re-pointing
    * either sheet never resumes another stream's progress. Two
    * failure modes of a KEY CHANGE are handled here rather than left
    * to silent data loss:
    *
    *  - a legacy `_checkpoint/<output>` dir (the pre-keying layout)
    *    is migrated by rename — but ONLY after verifying the file
    *    paths its FileStreamSource log recorded actually live under
    *    THIS source's directory. The old layout cannot encode the
    *    source, so a checkpoint left by a DIFFERENT source writing
    *    the same output would otherwise be silently adopted and the
    *    stream would resume foreign progress/batch ids — exactly the
    *    hazard the sink-log refusal below guards against. A verified
    *    legacy checkpoint's progress belongs to this source→output
    *    pair, and abandoning it would restart batch ids at 0 against
    *    an output `_spark_metadata` sink log that already has those
    *    ids committed — FileStreamSink would silently SKIP the
    *    re-read batches.
    *  - a fresh checkpoint key over an output dir that already has a
    *    sink log (e.g. `source` was re-pointed but `output` kept) is
    *    refused loudly: restarted batch ids would collide with
    *    committed ones and the new source's data would be dropped.
    */
  def resolveCheckpoint(sheetsDir: String, source: String,
      output: String): String = {
    val base = new java.io.File(sheetsDir, "_checkpoint")
    val keyed = new java.io.File(base, s"${source}__$output")
    val legacy = new java.io.File(base, output)
    val sinkLog = new java.io.File(
      new java.io.File(sheetsDir, output), "_spark_metadata")
    if (!keyed.exists() && legacy.exists()) {
      val foreign = legacySourcePaths(legacy).filterNot(
        _.startsWith(new java.io.File(sheetsDir, source)
          .getCanonicalFile.toURI.getPath))
      if (foreign.nonEmpty)
        throw new IllegalStateException(
          s"legacy checkpoint $legacy records progress for a DIFFERENT " +
          s"source (e.g. ${foreign.head}), not '$source' — adopting it " +
          "would resume foreign batch ids. Point `output` at a fresh " +
          "directory (or restore the matching source).")
      if (!legacy.renameTo(keyed))
        throw new IllegalStateException(
          s"cannot migrate legacy checkpoint $legacy -> $keyed")
      System.err.println(
        s"[graft] migrated legacy checkpoint $legacy -> $keyed")
    } else if (!keyed.exists() && sinkLog.exists()) {
      throw new IllegalStateException(
        s"output '$output' has a sink log ($sinkLog) but checkpoint " +
        s"$keyed does not exist — its progress belongs to a different " +
        "source/output pairing. Restarting batch ids over a committed " +
        "sink log would silently drop data; point `output` at a fresh " +
        "directory (or restore the matching checkpoint).")
    }
    keyed.toString
  }

  /** Streaming corpus CURATION — the always-on ingest shape of the
    * batch `pipeline_curate` front half: the Gopher quality gate (a
    * stateless, map-side column predicate — identical code batch and
    * stream) followed by exact content dedup against everything ever
    * admitted (state-store `dropDuplicates` keyed on the normalized-
    * content fingerprint, the same skinny key the batch window dedups
    * on).
    *
    * Works on a batch DataFrame too — `dropDuplicates` is the batch
    * analog — so one definition IS the equivalence proof surface: the
    * checkpointed stream over micro-batches must admit exactly the
    * batch run's rows (StreamingOpsSpec pins this, across a restart).
    *
    * State sizing at scale: the dedup state is one 8-byte fingerprint
    * per admitted doc, partitioned by key across executors. For
    * bounded state on an unbounded stream, pre-watermark the input
    * (`withWatermark`) before calling — dedup then forgets
    * fingerprints older than the horizon, trading cross-epoch dup
    * recall for O(window) state, the standard production posture.
    */
  def curateStream(stream: DataFrame, textCol: String,
      minQuality: Double = 0.75): DataFrame =
    stream
      .filter(graft.ext.TextAnalysis.gopherScore(col(textCol)) >=
        minQuality)
      .withColumn("__graft_fp", xxhash64(
        graft.ext.TextAnalysis.normalized(col(textCol))))
      .dropDuplicates("__graft_fp")
      .drop("__graft_fp")

  /** Trained LM bigram table (the text_lm_score model's keep-flag
    * half): bigram counts over a REFERENCE corpus, keyed by the single
    * string "w1 w2" so the streaming gate joins one skinny column.
    * Train once in batch, then broadcast into `lmGate` — the
    * model-update cadence is a redeploy of this static table, the
    * standard stream-scoring posture.
    */
  def lmTrainBigrams(ref: DataFrame, textCol: String): DataFrame =
    ref.select(explode(bigramsOf(textCol)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))

  /** Per-doc bigrams as a map-side array — zip of the token array
    * with itself shifted by one; no window, so the same expression
    * runs on a stream (the batch scorer's lag-window formulation
    * cannot).
    */
  private def bigramsOf(textCol: String): Column = {
    val tk = regexp_extract_all(lower(col(textCol)), lit("[a-z]+"),
      lit(0))
    val n = greatest(size(tk) - 1, lit(0))
    zip_with(slice(tk, lit(1), n), slice(tk, lit(2), n),
      (a, b) => concat_ws(" ", a, b))
  }

  /** Model-based quality gate for streams — the LM keep rule
    * (≥ 80% of a doc's bigrams known to the reference model) computed
    * incrementally: explode the map-side bigram array, STREAM-STATIC
    * BROADCAST join against the trained table (no shuffle of the
    * static side, no state), then one watermarked windowed aggregate
    * re-assembles the per-doc counts — the only stateful step, sized
    * by in-flight docs within the watermark horizon.
    *
    * Emits (idCol, n_bigrams, n_known, lm_keep) per doc whose window
    * closes; docs with ZERO bigrams produce no rows (same as the
    * batch scorer, which only scores docs with ≥ 1 bigram). The same
    * code runs on a batch frame (watermark skipped) — StreamingOpsSpec
    * pins stream-vs-batch equivalence of the keep flag.
    */
  def lmGate(df: DataFrame, idCol: String, textCol: String,
      tsCol: String, bigrams: DataFrame,
      watermark: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark)
      else df
    wm.select(col(idCol), col(tsCol), explode(bigramsOf(textCol))
        .as("__bg"))
      .join(broadcast(bigrams.select(col("bg").as("__tbg"))),
        col("__bg") === col("__tbg"), "left")
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__tbg").isNotNull.cast("long")).as("n_known"))
      .select(col(idCol), col("n_bigrams"), col("n_known"),
        (col("n_known") * 5 >= col("n_bigrams") * 4).as("lm_keep"))
  }

  /** Streaming Kneser–Ney gate — the `text_lm_kn` mirror of
    * [[lmGate]]: score arriving docs against a batch-trained
    * `graft.ext.KneserNey.Model` and emit the same
    * (id, n_bigrams, n_known, kn_logq) roll-up the batch
    * `KneserNey.docScores` produces, doc-for-doc (spec-pinned).
    *
    * Shape is the lmGate pattern: per-doc bigrams as a MAP-SIDE
    * array (zip of the token array with its shift — no window, so
    * the batch scorer's lag formulation is not needed), three
    * stream-static BROADCAST left joins against the
    * bigram-type-bounded model tables, one watermarked windowed
    * aggregate per doc. The bigram-type total is a literal from the
    * model (no stream-static cross join). The weight expression is
    * `KneserNey.wq` itself — stream and batch share one definition
    * and cannot drift. Bigram-less docs (< 2 words) emit nothing,
    * same as batch.
    */
  def knGate(df: DataFrame, idCol: String, textCol: String,
      tsCol: String, model: graft.ext.KneserNey.Model,
      watermark: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark)
      else df
    val tk = regexp_extract_all(lower(col(textCol)), lit("[a-z]+"),
      lit(0))
    val n = greatest(size(tk) - 1, lit(0))
    val pairs = zip_with(slice(tk, lit(1), n), slice(tk, lit(2), n),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    wm.select(col(idCol), col(tsCol), explode(pairs).as("__bg"))
      .select(col(idCol), col(tsCol),
        col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .join(broadcast(model.bigrams), Seq("w1", "w2"), "left")
      .join(broadcast(model.contexts), col("w1") === col("v1"), "left")
      .join(broadcast(model.continuations), col("w2") === col("v2"),
        "left")
      .withColumn("__wq", graft.ext.KneserNey.wq(col("c2"), col("cv"),
        col("nv"), col("nw"), lit(model.nccTypes)))
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c2").isNotNull.cast("long")).as("n_known"),
        sum(col("__wq")).as("kn_logq"))
      .select(col(idCol), col("n_bigrams"), col("n_known"),
        col("kn_logq"))
  }

  /** Streaming DSIR gate — score arriving docs against a
    * batch-trained `graft.ext.Dsir.featureTable` and keep the ones
    * whose quantized log importance weight clears `minWeight`: the
    * ingest-time form of importance-resampling data selection (batch
    * selects a fixed top-k; a stream has no "all docs", so the gate
    * thresholds the same exact-integer weight instead).
    *
    * Shape is the lmGate pattern: map-side token hash → stream-static
    * BROADCAST join against the bounded (≤ buckets rows) feature
    * table → one watermarked windowed aggregate per doc. The corpus
    * token totals are two scalars of the static corpus, so the
    * per-token normalization folds into a LITERAL (no stream-static
    * cross join). A LEFT join scores tokens in buckets the corpus
    * never occupied at the smoothed lr = bitlen(0+1)−bitlen(0+1) = 0
    * — exactly what the batch formula yields for an empty bucket, so
    * stream and batch weights agree doc-for-doc (spec-pinned).
    *
    * Emits (idCol, n_tokens, w, dsir_keep) per doc whose window
    * closes; token-less docs emit nothing (same as batch `weights`).
    */
  def dsirGate(df: DataFrame, idCol: String, textCol: String,
      tsCol: String, features: DataFrame, targetTokens: Long,
      rawTokens: Long, buckets: Int, minWeight: Long,
      watermark: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    def bitlen(n: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(n)
    val perTok = bitlen(rawTokens + buckets) - bitlen(targetTokens + buckets)
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark)
      else df
    wm.select(col(idCol), col(tsCol),
        explode(graft.ext.Dedup.tokens(col(textCol))).as("__t"))
      .select(col(idCol), col(tsCol),
        graft.ext.Sampling.hashBucket(col("__t"), "dsir", buckets)
          .as("__b"))
      .join(broadcast(features.select(col("b").as("__b"),
          (length(bin(col("ct") + 1)) - length(bin(col("cr") + 1)))
            .cast("long").as("__lr"))),
        Seq("__b"), "left")
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__lr"), lit(0L))).as("__s"))
      .withColumn("w", col("__s") + col("n_tokens") * lit(perTok))
      .select(col(idCol), col("n_tokens"), col("w"),
        (col("w") >= minWeight).as("dsir_keep"))
  }

  /** The corpus's LSH band buckets as a SKINNY static table
    * (band, bk) DISTINCT — built in batch with the exact same hash
    * family as `graft.ext.Dedup.minhashSignatures`, then joined
    * against by `nearDupGate`. At 100 TB this is the at-rest "dedup
    * index" of the training set: one row per occupied bucket, orders
    * of magnitude smaller than the corpus, refreshed on the corpus's
    * own compaction cadence.
    */
  def corpusBandBuckets(corpus: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 32, bands: Int = 8)
      : DataFrame = {
    val rows = numHashes / bands
    graft.ext.Dedup.minhashSignatures(
        graft.ext.Dedup.shingleRows(corpus, idCol, textCol), numHashes)
      .select(posexplode(graft.ext.Dedup.bandKeys(bands, rows))
        .as(Seq("band", "bk")))
      .distinct()
  }

  /** Streaming near-duplicate gate — MinHash-LSH against a static
    * corpus, incrementally. The batch miner's signature pass cannot
    * run on a stream (shingleRows uses a per-doc lead window, and
    * non-time windows are unsupported on streams), so the signature
    * is computed MAP-SIDE per doc: word-3-gram shingle array by
    * zip-shift (the `bigramsOf` trick, one order higher), one md5 per
    * shingle materialized ONCE as an (h1, h2) struct array, then the
    * Kirsch–Mitzenmacher mins and band keys as higher-order folds
    * over it. Interpreted HOFs are banned on BATCH hot paths
    * (ext/Dedup.scala design rules) — here they are per-doc bounded
    * work, and the relational alternative does not exist on a stream.
    *
    * Bit-compatibility with the batch family is load-bearing: the
    * map-side signature must equal `minhashSignatures`' output so the
    * stream probes the same buckets batch mining would (the spec pins
    * stream-vs-batch verdict equivalence doc by doc).
    *
    * Shape: explode band keys → stream-static equi-join on
    * (band, bk) (no state, static side broadcast when small) → one
    * watermarked windowed aggregate for the per-doc verdict — the
    * lmGate pattern. Emits (idCol, n_bands, n_hit, nd_keep) per doc
    * with ≥ 1 shingle; nd_keep = no band hit an occupied corpus
    * bucket. Docs too short to shingle emit nothing (callers admit
    * them unconditionally, as batch mining never pairs them either).
    *
    * GENERATION semantics: when `corpusBuckets` is served from a
    * persisted index (`MinHashIndex.bandBuckets`), pass that index
    * dir as `guardIndexDir` — the gate then FAILS the next
    * micro-batch fast if the index mutates mid-stream
    * ([[withGenerationGuard]]: append/delete/ingest/rebuild change
    * the marker; compaction preserves it and keeps serving), instead
    * of silently re-reading a mutated bucket table under the frozen
    * hash family. Without a dir the static side's refresh discipline
    * is the caller's (the batch-derived `corpusBandBuckets` role).
    */
  def nearDupGate(df: DataFrame, idCol: String, textCol: String,
      tsCol: String, corpusBuckets: DataFrame, numHashes: Int = 32,
      bands: Int = 8, watermark: String = "10 minutes",
      windowDur: String = "10 minutes",
      guardIndexDir: Option[String] = None): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes,
      s"numHashes $numHashes must divide into $bands bands")
    // shared map-side signature family (Dedup.shingleHashesCol /
    // minhashComponent) — also the MinHashIndex streaming-ingest
    // encode, so gate and index can never drift
    val hs = graft.ext.Dedup.shingleHashesCol(col(textCol))
    val mi = (i: Int) =>
      graft.ext.Dedup.minhashComponent(col("__hs"), i)
    val bks = array((0 until bands).map { j =>
      concat_ws("|", (0 until rows).map(r => mi(j * rows + r)): _*)
    }: _*)
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark)
      else df
    val base = wm.select(col(idCol), col(tsCol), hs.as("__hs"))
    guardIndexDir.fold(base)(withGenerationGuard(base, _))
      .filter(size(col("__hs")) > 0)
      .select(col(idCol), col(tsCol),
        posexplode(bks).as(Seq("__band", "__bk")))
      .join(corpusBuckets.select(col("band").as("__cband"),
          col("bk").as("__cbk")),
        col("__band") === col("__cband") && col("__bk") === col("__cbk"),
        "left")
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(count(lit(1)).as("n_bands"),
        sum(col("__cbk").isNotNull.cast("long")).as("n_hit"))
      .select(col(idCol), col("n_bands"), col("n_hit"),
        (col("n_hit") === 0L).as("nd_keep"))
  }

  /** GENERATION GUARD for index-backed gates (r16, VERDICT r15 #5):
    * a running gate freezes its quantizer/bucket derivation at
    * plan-build time, but its STATIC side is re-executed per
    * micro-batch — a concurrent rebuild/append/ingest would silently
    * serve a mix of index generations (frozen probe columns over a
    * mutated static table). This guard pins the committed marker's
    * bytes at gate build and re-verifies them on EVERY micro-batch
    * IN-PLAN: the marker file rides a 1-row binaryFile relation
    * (static sides are re-read each micro-batch, so the file's
    * CURRENT bytes are seen), md5-compared against the frozen
    * fingerprint, and the comparison is the equi-JOIN KEY itself —
    * raise_error on mismatch, and un-prunable by column pruning. A
    * replaced-but-truncated or deleted marker fails the file read:
    * every mutation path fails CLOSED. Compaction rewrites the marker
    * with IDENTICAL text (result-invisible by contract), so gates
    * keep serving across it; append/delete/ingest/rebuild change the
    * text and trip the guard on the next micro-batch. Cost: one
    * 1-row file read + broadcast equi-join per batch.
    *
    * ENGINE ASSUMPTION, pinned for upgrades (ADVICE r16): the guard's
    * per-micro-batch freshness relies on Spark re-reading the static
    * side's file CONTENT each micro-batch while its listing
    * (InMemoryFileIndex: path + length) stays as of gate build —
    * observed Spark 4.1 behavior, not a documented contract for
    * static sides of stream-static joins. Every failure mode of that
    * assumption observed today fails CLOSED (a marker swapped with
    * different length fails the fixed-length binaryFile read; a
    * deleted marker fails the read; same-length different bytes is
    * caught by the md5 — markers embed counts/fingerprints so
    * same-length mutations are not constructible by the lifecycle),
    * and StreamingOpsSpec pins the current trip-on-mutation behavior
    * so an upgrade that silently stops re-reading content turns into
    * a test failure, not a silent un-guarded stream.
    */
  def withGenerationGuard(df: DataFrame, indexDir: String,
      marker: String = graft.ext.IndexLifecycle.Marker): DataFrame = {
    val spark = df.sparkSession
    val text = graft.ext.IndexLifecycle.marker(spark, indexDir, marker)
    require(text.nonEmpty,
      s"no committed index marker at $indexDir/$marker — build first")
    val expect = graft.ext.IndexLifecycle.digest(text.get)
    val guard = spark.read.format("binaryFile")
      .load(s"$indexDir/$marker")
      .select(when(md5(col("content")) === lit(expect), lit(1))
        .otherwise(raise_error(lit(
          s"index at $indexDir mutated under a running gate " +
            s"($marker changed since the gate was built) — restart " +
            "the gate against the new index generation"))
          .cast("int")).as("__gen"))
    val cols = df.columns.toIndexedSeq.map(col)
    df.withColumn("__gen", lit(1))
      .join(guard, "__gen")
      .select(cols: _*)
  }

  /** Streaming embedding near-dup gate — SemDeDup at ingest: an
    * incoming vector is flagged when the static corpus holds a
    * DIFFERENT vector at cosine >= `threshold` among its probe-cell
    * candidates. The candidate rule is exactly
    * `AnnIndex.cosinePairsIndexed`'s probe×probe co-occurrence: the
    * incoming row's top-`probes` cells are assigned MAP-SIDE under
    * the committed index's frozen centroids (the
    * `AnnIndex.flatProbeCellsCol` expression — shared with the batch
    * assignment, so gate and mining can never drift; flat only: the
    * two-level pick needs a ranking window, which streams don't
    * support, and gates run at ingest batch sizes where flat wins
    * anyway), joined stream-static against the corpus's at-rest
    * probe-cell table (`AnnIndex.cellTable`, the `corpusBandBuckets`
    * role for embeddings), and exact-cosine verified inline —
    * approximate by candidate confinement, exact on every scored pair.
    *
    * Shape: map-side cell array → explode → stream-static equi-join
    * on cell (no state; static side cell-partitionable) → one
    * watermarked windowed aggregate for the per-doc verdict — the
    * nearDupGate pattern. Emits (idCol, n_cand, n_hit, best_cos,
    * ann_keep) per incoming vector; counts are per candidate
    * CO-OCCURRENCE (a pair sharing several probed cells counts each
    * — the verdict and best_cos are multiplicity-insensitive);
    * self-matches (same id in the static corpus) are excluded, so a
    * corpus member streams through as a dup only if a DIFFERENT
    * near-identical vector exists. ann_keep = no candidate reached
    * the threshold; a candidate-less row reports best_cos = 0.0
    * (matching the batch reference's coalesce), never NULL.
    *
    * GENERATION semantics ([[withGenerationGuard]]): the quantizer is
    * frozen at gate build; a concurrent append/delete/ingest/rebuild
    * of the index FAILS the next micro-batch fast (the in-plan marker
    * guard) rather than silently mixing the frozen probe columns with
    * a mutated static side — restart the gate (with a refreshed
    * `corpusCells`) to pick up the new generation. Compaction is
    * result-invisible and preserves the marker text, so a running
    * gate serves across it.
    */
  def annGate(df: DataFrame, idCol: String, vecCol: String,
      tsCol: String, corpusCells: DataFrame, dir: String,
      threshold: Double, probes: Int = 4,
      watermark: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    val (_, coarse, _) =
      graft.ext.AnnIndex.load(df.sparkSession, dir)
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark)
      else df
    val cos = graft.ext.Similarity.dot(col("__v"), col("__cv")) /
      (col("__nrm") * col("__cnrm"))
    // fail FAST on ids the long cast nulls: a silently-nulled id
    // would make the self-exclusion comparison null and drop EVERY
    // candidate for that row — a dup admitted as "keep" (the
    // MinHashIndex idLong discipline)
    val idLong = when(col(idCol).try_cast("long").isNull,
      raise_error(concat(
        lit("annGate ids must be numeric and non-null; got: "),
        coalesce(col(idCol).cast("string"), lit("null"))))
        .cast("long"))
      .otherwise(col(idCol).try_cast("long"))
    withGenerationGuard(
      wm.select(col(idCol), col(tsCol), col(vecCol).as("__v"),
        graft.ext.Similarity.l2norm(col(vecCol)).as("__nrm"),
        idLong.as("__id")), dir)
      .select(col(idCol), col(tsCol), col("__v"), col("__nrm"),
        col("__id"),
        explode(graft.ext.AnnIndex.flatProbeCellsCol(col("__v"),
          coarse, probes)).as("__cell"))
      .join(corpusCells.select(col("cell").as("__cell"),
          col("id").as("__cid"), col("v").as("__cv"),
          col("nrm").as("__cnrm")),
        Seq("__cell"), "left")
      .select(col(idCol), col(tsCol),
        when(col("__cid").isNotNull &&
          col("__cid") =!= col("__id"), cos).as("__cos"))
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(sum(col("__cos").isNotNull.cast("long")).as("n_cand"),
        coalesce(sum((col("__cos") >= threshold).cast("long")),
          lit(0L)).as("n_hit"),
        // candidate-less rows report 0.0, not NULL — the batch
        // reference (dedup_embed_ann_flags / embedAnnFlags) coalesces
        // best_cos the same way, so diffing the two surfaces is
        // field-identical (ADVICE r15)
        coalesce(max(col("__cos")), lit(0.0)).as("best_cos"))
      .select(col(idCol), col("n_cand"), col("n_hit"),
        col("best_cos"), (col("n_hit") === 0L).as("ann_keep"))
  }

  /** Streaming Bloom ingest gate — the exact-membership front door of
    * `graft.ext.Bloom`, incrementally. Where `nearDupGate` prices a
    * stream-static JOIN plus a watermarked window per micro-batch, the
    * Bloom probe is pure MAP-SIDE work: the bitmap rides inside the
    * codegen'd `bloom_contains` expression (a task-binary reference
    * object), so gating costs one md5 + k bit tests per row — no
    * state store, no join, no watermark, and the operator is
    * batch/stream agnostic by construction (the same lineage runs on
    * either; the spec pins verdict equality doc by doc).
    *
    * Emits (idCol, bloom_hit): hit = possibly-seen (all k positions
    * set — true dups plus deterministic false positives), !hit =
    * DEFINITELY new. A pipeline admits !hit rows immediately and
    * routes hits to the expensive verify leg (`nearDupGate`, or a
    * keyed lookup against the corpus). The bitmap refreshes on the
    * corpus's compaction cadence, like `corpusBandBuckets`.
    *
    * GENERATION semantics: the bitmap is ONE artifact captured inside
    * the codegen'd expression at gate build — frozen-at-start by
    * construction, so no mid-stream index mutation can produce a
    * generation MIX (unlike the two-artifact gates, which carry
    * [[withGenerationGuard]]). A rebuilt bitmap is picked up by
    * restarting the gate; until then the gate deterministically
    * serves the build-time generation — which also means a mid-stream
    * `BloomIndex.rebuild`/`append` is served STALE forever by an
    * unguarded gate. For gate-family symmetry (VERDICT r16 #3), pass
    * the persisted `BloomIndex` dir as `guardIndexDir` to get the
    * same fail-fast the other two gates have: the next micro-batch
    * after any index mutation raises instead of serving the frozen
    * bitmap; without a dir the frozen-by-construction semantics
    * above stand (documented, spec-pinned both ways).
    */
  def bloomGate(df: DataFrame, idCol: String, keyExpr: Column,
      bitmap: Array[Byte], k: Int, mBits: Int,
      guardIndexDir: Option[String] = None): DataFrame = {
    val key = md5(keyExpr)
    guardIndexDir.fold(df)(withGenerationGuard(df, _))
      .select(col(idCol), key.as("__key"))
      .withColumn("__h1",
        conv(substring(col("__key"), 1, 8), 16, 10).cast("long"))
      .withColumn("__h2",
        conv(substring(col("__key"), 9, 8), 16, 10).cast("long"))
      .select(col(idCol),
        graft.functions.BloomContains.bloom_contains(bitmap,
          col("__h1"), col("__h2"), k, mBits).as("bloom_hit"))
  }

  /** The corpus's at-rest winnowing-fingerprint index for
    * [[winnowGate]]: the batch `Dedup.winnowFingerprints` table
    * reduced to its distinct fingerprints. Thinned to ~2/(w+1) of the
    * all-grams table (the `corpusBandBuckets` role, but for
    * exact-substring gating) — refreshed on the corpus's compaction
    * cadence.
    */
  def corpusWinnowFps(corpus: DataFrame, idCol: String,
      textCol: String, k: Int = 5, w: Int = 4): DataFrame =
    graft.ext.Dedup.winnowFingerprints(corpus, idCol, textCol, k, w)
      .select("fp").distinct()

  /** Streaming winnowing gate — `dedup_winnow`'s ingest form: an
    * incoming doc sharing ANY selected fingerprint with the static
    * corpus shares (with SWA's guarantee, for runs >= k+w-1 tokens)
    * an exact substring with it and is flagged. The batch
    * fingerprint pass cannot run on a stream (per-doc lead windows
    * are unsupported), so the SAME selection is computed MAP-SIDE per
    * doc: k-gram strings by the zip-shift trick, one md5 each, then
    * each window-of-w minimum as a bounded per-doc HOF — the
    * nearDupGate precedent (interpreted HOFs are banned on BATCH hot
    * paths, fine per-doc on a stream). The short-doc rule matches
    * batch exactly: fewer than w grams -> the single truncated
    * pos-0 window; fewer than k tokens -> no fingerprints, doc
    * emits nothing.
    *
    * Emits (idCol, n_fps, n_hit, wn_keep) per watermark window;
    * wn_keep = no fingerprint hit. Spec pins stream == batch and the
    * map-side fingerprints == `Dedup.winnowFingerprints` row-for-row.
    */
  def winnowGate(df: DataFrame, idCol: String, textCol: String,
      tsCol: String, corpusFps: DataFrame, k: Int = 5, w: Int = 4,
      watermark: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    val fps = winnowFpsCol(col(textCol), k, w)
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark)
      else df
    wm.select(col(idCol), col(tsCol), fps.as("__fps"))
      .filter(size(col("__fps")) > 0)
      .select(col(idCol), col(tsCol), explode(col("__fps")).as("__fp"))
      .join(corpusFps.select(col("fp").as("__cfp")),
        col("__fp") === col("__cfp"), "left")
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(count(lit(1)).as("n_fps"),
        sum(col("__cfp").isNotNull.cast("long")).as("n_hit"))
      .select(col(idCol), col("n_fps"), col("n_hit"),
        (col("n_hit") === 0L).as("wn_keep"))
  }

  /** Map-side winnowing fingerprint array of a text column —
    * bit-identical to `Dedup.winnowFingerprints`' per-doc distinct fp
    * set (differential-pinned in StreamingOpsSpec). Empty array when
    * the doc has fewer than k tokens.
    */
  def winnowFpsCol(text: Column, k: Int = 5, w: Int = 4): Column = {
    val tk = graft.ext.Dedup.tokens(text)
    val n = greatest(size(tk) - (k - 1), lit(0))
    // gramStr[i] = tokens i..i+k-1 joined by one space (1-based slice)
    val gramStr = (1 until k).foldLeft(slice(tk, lit(1), n)) {
      (acc, j) => zip_with(acc, slice(tk, lit(j + 1), n),
        (a, b) => concat_ws(" ", a, b))
    }
    val grams = transform(gramStr, g => md5(g))
    // window starts 1..max(ng-w,0)+1; the tail slice clamps, so a
    // short doc's single window is its truncated gram list (== batch)
    val nStarts = greatest(size(grams) - w, lit(0)) + lit(1)
    when(size(tk) >= k,
      array_distinct(transform(sequence(lit(1), nStarts),
        p => array_min(slice(grams, p, lit(w))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct content-defined chunk fingerprints of a static corpus —
    * the at-rest index `cdcGate` probes (dedup_cdc's ingest form).
    */
  def corpusCdcFps(corpus: DataFrame, idCol: String, textCol: String,
      window: Int = 8, maskMod: Int = 32): DataFrame =
    graft.ext.Dedup.cdcChunks(corpus, idCol, textCol, window, maskMod)
      .select(md5(col("chunk")).as("fp")).distinct()

  /** Streaming content-defined-chunking gate — `dedup_cdc`'s ingest
    * form: an incoming doc sharing ANY chunk with the static corpus
    * shares an exact substring whose boundaries the rolling hash
    * placed identically on both sides (content-defined, so a shared
    * run long enough to contain one full chunk is caught no matter
    * how it shifted). Chunking is the SAME stateless map-side
    * `Dedup.cdcChunks` the batch query uses — one codegen'd
    * `CdcCuts` pass per doc, no state store, no stream-side window
    * functions — so stream and batch verdicts are identical by
    * construction (spec-pinned anyway).
    *
    * Emits (idCol, n_chunks, n_hit, cdc_keep) per watermark window;
    * cdc_keep = no chunk hit.
    */
  def cdcGate(df: DataFrame, idCol: String, textCol: String,
      tsCol: String, corpusFps: DataFrame, window: Int = 8,
      maskMod: Int = 32, watermark: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark)
      else df
    graft.ext.Dedup
      .cdcChunks(wm, idCol, textCol, window, maskMod, carry = Seq(tsCol))
      .select(col("id"), col(tsCol), md5(col("chunk")).as("__fp"))
      .join(corpusFps.select(col("fp").as("__cfp")),
        col("__fp") === col("__cfp"), "left")
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol),
        windowDur), col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("__cfp").isNotNull.cast("long")).as("n_hit"))
      .select(col("id").as(idCol), col("n_chunks"), col("n_hit"),
        (col("n_hit") === 0L).as("cdc_keep"))
  }

  /** The COMPOSED streaming ingest front door (VERDICT r16 #1) — the
    * three admission gates chained on ONE stream, with an exact-dup
    * short-circuit fold-through and all three index families
    * generation-guarded. Its batch face is the one body of
    * `pipeline_ingest_gates_fast` and `pipeline_ingest_gates_composed`.
    * One row per arriving document — (idCol, exact_dup, nd_text,
    * best_jaccard, nd_embed, best_cos, admit) — field-identical to the
    * all-legs referee `pipeline_ingest_gates` on the same rows, with
    * the skipped legs NULL on exact dups (spec-pinned, streamed and
    * batch):
    *
    *   1. EXACT leg, map-side + one skinny stream-static join: the
    *      canonical key md5 probes the committed Bloom bitmap inside
    *      the codegen'd `bloom_contains` (`BloomIndex.gateParts` —
    *      the bitmap and keys with any un-compacted ingest segment
    *      folded in, shared with the batch gate so the two front
    *      doors cannot drift), and only BLOOM HITS probe the key
    *      table (no false negatives: a bloom miss is definitely new,
    *      so the join condition short-circuits the definite-new rows
    *      past the key probe entirely).
    *   2. SHORT-CIRCUIT: an exact dup is rejected regardless of the
    *      near-dup verdicts, so its rows emit NO probe units at all —
    *      the MinHash candidate join, the exact-verify text re-read,
    *      and the ANN candidate join all shrink to the surviving
    *      docs (the fold-through; skipped legs report NULL).
    *   3. TEXT near-dup leg, exact-verified IN-STREAM: the map-side
    *      signature (`Dedup.shingleHashesCol`/`charGramHashesCol` +
    *      `minhashComponent` — bit-compatible with the index's batch
    *      encode by the nearDupGate discipline) derives band keys,
    *      a stream-static join against the index's at-rest
    *      (id, band, bk) table (`MinHashIndex.bandedSignatures`)
    *      yields candidates, the signature-agreement estimate gates
    *      them (same `agree/numHashes >= estThreshold` double compare
    *      as `MinHashIndex.probe`), and survivors are EXACT-verified
    *      against candidate text re-read from `corpusDocs` — Jaccard
    *      over the two distinct-shingle-string arrays
    *      (`Dedup.shingleStringsCol`), integer-for-integer the
    *      relational verify's counts, so the verdict equals
    *      `probeVerified`'s bit for bit. Self-matches excluded by id.
    *      A candidate pair sharing several bands re-verifies once per
    *      shared band (per-doc bounded; the batch path dedups
    *      instead) — max/existence aggregation is
    *      multiplicity-insensitive, so the VERDICT is unaffected.
    *   4. EMBEDDING near-dup leg: the row's top-`probes` cells under
    *      the committed ANN index's frozen centroids
    *      (`AnnIndex.flatProbeCellsCol` — the annGate/batch-shared
    *      assignment), stream-static joined against `corpusCells`
    *      (`AnnIndex.cellTable`), exact cosine on candidates only —
    *      `AnnIndex.cosinePairsIndexed`'s probe×probe candidate rule
    *      verbatim (the referee's embedding leg).
    *   5. One watermarked windowed aggregate assembles the per-doc
    *      verdicts — the ONLY stateful operator in the plan; state is
    *      bounded by in-flight docs within the watermark horizon.
    *
    * GENERATION semantics: all three index dirs ride
    * [[withGenerationGuard]] — any append/delete/ingest/rebuild of
    * any family fails the next micro-batch fast instead of mixing
    * generations (restart the gate, with a refreshed `corpusCells`,
    * to adopt the new state); compaction preserves marker texts and
    * keeps serving. The static tables derived from the index dirs
    * (band table, signature table, Bloom keys) re-read per
    * micro-batch under that guard; `corpusDocs` and `corpusCells`
    * are the caller's frozen snapshots, same contract as [[annGate]].
    *
    * Universe contract: emit rows for documents the caller wants
    * verdicts on — each input row carries text AND embedding (the
    * batch referee's bloom ∩ embedding universe is the caller's
    * join). Ids must be numeric and non-null (fail-fast in-plan, the
    * index families' idLong discipline).
    *
    * 100 TB shape: everything except step 5 is stateless map-side
    * work plus equi-joins against at-rest index tables (band keys,
    * skinny signatures, one md5 per unique doc, probes× cell rows);
    * the corpus text is touched ONLY for estimate-gate survivors via
    * the id-equi join on `corpusDocs`. No corpus-wide mining, no
    * all-pairs path, no state beyond the per-doc window.
    */
  def ingestGates(df: DataFrame, idCol: String, textCol: String,
      vecCol: String, tsCol: String, corpusDocs: DataFrame,
      bloomDir: String, bloomKey: Column, minhashDir: String,
      jaccardThreshold: Double, estThreshold: Double, annDir: String,
      corpusCells: DataFrame, cosineThreshold: Double, probes: Int = 4,
      watermark: String = "10 minutes",
      windowDur: String = "10 minutes",
      preAnn: Option[(graft.ext.AnnIndex.Meta, Seq[Seq[Float]],
        Map[(Int, Int), Seq[Int]])] = None): DataFrame = {
    val spark = df.sparkSession
    val D = graft.ext.Dedup
    // committed state of the three families, frozen at gate build
    // (a caller that already loaded the ANN side tables for THIS query
    // execution passes them via preAnn — plumbing, never a cache)
    val (bMeta, bitmap, bKeys) =
      graft.ext.BloomIndex.gateParts(spark, bloomDir)
    val (mMeta, sigsTable) =
      graft.ext.MinHashIndex.load(spark, minhashDir)
    val (_, coarse, _) =
      preAnn.getOrElse(graft.ext.AnnIndex.load(spark, annDir))
    val numHashes = mMeta.numHashes
    val rowsPerBand = numHashes / mMeta.bands
    val hsOf: Column => Column = mMeta.grams match {
      case "word3" => D.shingleHashesCol
      case "char5" => t => D.charGramHashesCol(t, 5)
      case other => throw new IllegalStateException(
        s"index at $minhashDir has unknown shingle unit '$other'")
    }
    val strsOf: Column => Column = mMeta.grams match {
      case "word3" => D.shingleStringsCol
      case _ => t => D.charGramStringsCol(t, 5)
    }
    val idLong = when(col(idCol).try_cast("long").isNull,
      raise_error(concat(
        lit("ingestGates ids must be numeric and non-null; got: "),
        coalesce(col(idCol).cast("string"), lit("null"))))
        .cast("long"))
      .otherwise(col(idCol).try_cast("long"))
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark)
      else df
    val guarded = withGenerationGuard(withGenerationGuard(
      withGenerationGuard(wm, bloomDir), minhashDir), annDir)
    // exact leg: map-side bloom probe; only HITS reach the key join
    val base = guarded.select(col(idCol), col(tsCol),
      idLong.as("__id"), md5(bloomKey).as("__key"),
      hsOf(col(textCol)).as("__hs"),
      strsOf(col(textCol)).as("__strs"),
      col(vecCol).as("__v"),
      graft.ext.Similarity.l2norm(col(vecCol)).as("__nrm"))
    val bloomHit = graft.functions.BloomContains.bloom_contains(bitmap,
      conv(substring(col("__key"), 1, 8), 16, 10).cast("long"),
      conv(substring(col("__key"), 9, 8), 16, 10).cast("long"),
      bMeta.k, bMeta.mBits)
    val exact = base.withColumn("__bhit", bloomHit)
      .join(bKeys.select(col("key").as("__ck")),
        col("__key") === col("__ck") && col("__bhit"), "left")
      .withColumn("__exact", col("__ck").isNotNull)
      .drop("__ck", "__key", "__bhit")
    // the map-side signature once per doc; band keys derive from it
    val sigArr = array((0 until numHashes).map(i =>
      D.minhashComponent(col("__hs"), i)): _*)
    val withSig = exact.withColumn("__sig",
      when(size(col("__hs")) > 0, sigArr)).drop("__hs")
    // probe units: bands for the text leg, cells for the embed leg —
    // NONE for exact dups (the structural short-circuit)
    val unitType = "array<struct<b:int,bk:string,cell:int>>"
    val mhUnits = array((0 until mMeta.bands).map { j =>
      struct(lit(j).as("b"),
        concat_ws("|", (0 until rowsPerBand).map(r =>
          element_at(col("__sig"), j * rowsPerBand + r + 1)): _*)
          .as("bk"),
        lit(null).cast("int").as("cell"))
    }: _*)
    val annUnits = transform(
      graft.ext.AnnIndex.flatProbeCellsCol(col("__v"), coarse,
        probes),
      c => struct(lit(null).cast("int").as("b"),
        lit(null).cast("string").as("bk"), c.cast("int").as("cell")))
    val units = when(col("__exact"), array().cast(unitType))
      .otherwise(concat(
        when(col("__sig").isNotNull, mhUnits)
          .otherwise(array().cast(unitType)),
        annUnits))
    val exploded = withSig
      .select(col(idCol), col(tsCol), col("__id"), col("__exact"),
        col("__sig"), col("__strs"), col("__v"), col("__nrm"),
        explode_outer(units).as("__u"))
      .select(col(idCol), col(tsCol), col("__id"), col("__exact"),
        col("__sig"), col("__strs"), col("__v"), col("__nrm"),
        col("__u.b").as("__band"), col("__u.bk").as("__bk"),
        col("__u.cell").as("__cell"))
    // text candidates: at-rest band table -> estimate gate -> exact
    // verify against candidate text only
    val banded = graft.ext.MinHashIndex
      .bandedSignatures(spark, minhashDir)
      .select(col("band").as("__mband"), col("bk").as("__mbk"),
        col("id").as("__mid"))
    val sigsWide = sigsTable.select(col("id").as("__msid") +:
      (0 until numHashes).map(i => col(s"m$i").as(s"__bm$i")): _*)
    val est = (0 until numHashes).map(i =>
        when(element_at(col("__sig"), i + 1) === col(s"__bm$i"), 1)
          .otherwise(0))
      .reduce(_ + _).cast("double") / numHashes
    val docs = corpusDocs.select(
      col(idCol).cast("long").as("__did"),
      col(textCol).as("__dtext"))
    val withText = exploded
      .join(banded,
        col("__band") === col("__mband") && col("__bk") === col("__mbk"),
        "left")
      .drop("__mband", "__mbk")
      .join(sigsWide, col("__mid") === col("__msid"), "left")
      .drop("__msid")
      .join(docs,
        col("__mid") === col("__did") && col("__mid") =!= col("__id") &&
          est >= lit(estThreshold), "left")
      .drop((0 until numHashes).map(i => s"__bm$i"): _*)
      .withColumn("__cstrs", strsOf(col("__dtext")))
    val interI = size(array_intersect(col("__strs"), col("__cstrs")))
    val jacc = interI.cast("double") /
      (size(col("__strs")) + size(col("__cstrs")) - interI)
    val withMh = withText.withColumn("__mhit",
        when(col("__dtext").isNotNull &&
          jacc >= lit(jaccardThreshold), jacc))
      .drop("__dtext", "__cstrs", "__strs", "__sig", "__mid")
    // embed candidates: probe cells x the corpus cell table, exact
    // cosine inline (cosinePairsIndexed's probe x probe rule)
    val cells = corpusCells.select(col("cell").as("__ccell"),
      col("id").as("__cid"), col("v").as("__cv"),
      col("nrm").as("__cnrm"))
    val cos = graft.ext.Similarity.dot(col("__v"), col("__cv")) /
      (col("__nrm") * col("__cnrm"))
    val withAnn = withMh
      .join(cells, col("__cell") === col("__ccell"), "left")
      .withColumn("__ahit",
        when(col("__cid").isNotNull && col("__cid") =!= col("__id") &&
          cos >= lit(cosineThreshold), cos))
      .drop("__ccell", "__cid", "__cv", "__cnrm", "__v", "__nrm")
    // the one stateful operator: per-doc verdict assembly
    withAnn
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(max(col("__exact").cast("int")).as("__ex"),
        max(col("__mhit")).as("__bj"),
        max(col("__ahit")).as("__bc"))
      .select(col(idCol),
        (col("__ex") === 1).as("exact_dup"),
        when(col("__ex") === 0, col("__bj").isNotNull).as("nd_text"),
        when(col("__ex") === 0, coalesce(col("__bj"), lit(0.0)))
          .as("best_jaccard"),
        when(col("__ex") === 0, col("__bc").isNotNull).as("nd_embed"),
        when(col("__ex") === 0,
          round(coalesce(col("__bc"), lit(0.0)), 6)).as("best_cos"),
        (col("__ex") === 0 && col("__bj").isNull && col("__bc").isNull)
          .as("admit"))
  }

  /** File paths recorded by a checkpoint's FileStreamSource log
    * (`sources/0/<batchId>`, one JSON entry per seen file). Empty when
    * the stream never committed a batch — nothing to verify then.
    */
  private def legacySourcePaths(ckpt: java.io.File): Seq[String] = {
    val dir = new java.io.File(ckpt, "sources/0")
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.isFile).sortBy(_.getName).toSeq
      .flatMap { f =>
        val txt =
          try java.nio.file.Files.readString(f.toPath)
          catch { case _: Throwable => "" }
        "\"path\":\"([^\"]+)\"".r.findAllMatchIn(txt).map(_.group(1)).toSeq
      }
      .map { p => // normalize file:///x, file:/x, /x to a plain path
        try {
          val u = new java.net.URI(p)
          if (u.getPath != null) u.getPath else p
        } catch { case _: Throwable => p }
      }
  }

  /** Streaming analog of `Engine.runMapping`: an unbounded CSV
    * "Source sheet" directory → the compiled RuleSet → an append-mode
    * parquet sink with a checkpoint. The same Map-sheet rules run
    * unchanged; restart-safety (exactly-once file-source progress)
    * comes from the checkpoint, and the all-string schema preserves
    * the batch path's display-string semantics (the file text IS the
    * value — `Engine.readSheetCsv`).
    *
    * `self[]` mappings are rejected UP FRONT with a contextual error
    * (global output-row position is undefined on an unbounded stream)
    * rather than surfacing as Spark's generic unsupported-window
    * AnalysisException at start().
    *
    * @param sourceHeaders the Source sheet's column names (streaming
    *        reads need a declared schema; headers are validated
    *        against each file's header row by the csv reader)
    * @param maxFilesPerTrigger backpressure bound: a catch-up over a
    *        huge backlog must drain as MANY bounded micro-batches, not
    *        one giant batch sized by however far behind the stream is
    *        — the 100 TB failure mode for file streams. Default 1000
    *        files per batch; <= 0 disables the bound (explicitly
    *        opting back into unbounded catch-up batches).
    */
  def runMappingStream(spark: SparkSession, srcDir: String,
      sourceHeaders: Seq[String], mapRules: Seq[(String, String)],
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1000): StreamingQuery = {
    // Pre-parse purely for the usesSelf check (Engine.transform parses
    // again): driver-side, O(rules), runs once per stream START — the
    // duplicate work is microseconds and keeps Engine's signature
    // untouched. Both calls see the same rules + headers, so they
    // cannot disagree.
    val rules = Parser.parse(mapRules, sourceHeaders)
    if (rules.usesSelf)
      throw Ast.DslError(
        "self[] addressing is undefined on an unbounded stream.")
    val schema = StructType(
      sourceHeaders.map(StructField(_, StringType)).toArray)
    val reader = spark.readStream
      .option("header", true).option("escape", "\"")
      // actually VALIDATE each file's header row against the declared
      // schema — the default enforceSchema=true silently binds columns
      // by position, so a reordered-column file would feed wrong
      // values through the rules without any error
      .option("enforceSchema", false)
      .schema(schema)
    val stream = (if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader).csv(srcDir)
    Engine.transform(stream, mapRules)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** Event-time windowed counts/sums with a watermark bounding state.
    * Same expressions as the batch `events_window` query — the batch
    * face and the streaming face of one pipeline.
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
      windowLen: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Exactly-once-per-id stream dedup via the state store; the
    * watermark lets Spark expire seen-ids state.
    */
  def dedupStream(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Event-time session windows: activity bursts separated by ≥`gap`
    * of silence become separate sessions per key — the streaming face
    * of the batch `events_sessionize` query. State is bounded by the
    * watermark; sessions merge as late-but-in-watermark events arrive.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stream-stream inner join with an event-time interval: each side
    * watermarked, the time-range condition bounds both join states —
    * without it a stream-stream join buffers forever. The canonical
    * impression⋈click attribution shape.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      key: String, watermark: String = "10 minutes",
      maxLag: String = "5 minutes",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    // `leftOuter` additionally emits unmatched left rows with nulls
    // once the watermark passes their join window — i.e. impressions
    // with NO click, which an attribution pipeline needs as rows, not
    // as absence. The interval condition is what bounds both states;
    // outer-ness only changes what is emitted at state eviction.
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $maxLag"),
      joinType)
  }

  /** Stream enriched by a static dimension (broadcast — no state, no
    * shuffle of the stream side).
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(broadcast(dim), key)

  /** Stream enriched by a VERSIONED static dimension, as-of style:
    * each stream row picks the latest dim version with version ts ≤
    * the stream row's ts — the streaming leg of `join_asof`.
    *
    * Streams can't run the batch as-of shapes (no windows, and a
    * per-row argmax aggregate would need update-mode state), so the
    * as-of is turned into a POINT-IN-INTERVAL join instead: one
    * batch-side window over the (bounded) dimension precomputes each
    * version's validity interval [ver_ts, next_ver_ts), and the
    * stream then broadcast-joins on key + interval containment —
    * stateless, exactly one match per row by construction (intervals
    * partition the time axis per key), left-outer so rows before the
    * first version survive with null payload. The same
    * intervalization is how SCD2 dimensions (`operators/Scd2`) are
    * consumed at any scale.
    *
    * @param dim   static versioned dimension; must be unique on
    *              (key, dimTs). `payloadCols` must not collide with
    *              any stream column name (and must not include
    *              `dimTs` itself) — the dim's key and version-ts
    *              columns are renamed away internally and dropped, so
    *              only the payload names reach the output.
    * @return stream columns + dim payload columns (null before the
    *         first version) */
  def asofEnrichStream(stream: DataFrame, dim: DataFrame, key: String,
      streamTs: String, dimTs: String,
      payloadCols: Seq[String]): DataFrame = {
    require(!payloadCols.contains(dimTs),
      s"payloadCols must not include the version-ts column $dimTs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(dimTs)
    val intervals = dim.select(
        (key +: dimTs +: payloadCols).map(col): _*)
      .withColumn("__until", lead(col(dimTs), 1).over(w))
      .withColumnRenamed(key, "__dk")
      .withColumnRenamed(dimTs, "__dts")
    stream.join(broadcast(intervals),
      stream(key) === intervals("__dk") &&
        stream(streamTs) >= intervals("__dts") &&
        (intervals("__until").isNull ||
          stream(streamTs) < intervals("__until")),
      "left")
      .drop("__dk", "__dts", "__until")
  }

  case class Event(event_id: Long, user_id: Long, value: Double)
  case class UserTotal(user_id: Long, n: Long, total: Double)

  /** Custom keyed state: running per-user totals emitted on every
    * update (Update output mode). State is one small struct per key,
    * partitioned by user — the 100 TB-stream shape.
    */
  case class DailyCount(event_type: String, day: java.sql.Date, n: Long)
  case class CusumPoint(event_type: String, day: java.sql.Date, n: Long,
    cusum: Long)

  /** Incremental CUSUM drift monitor — the streaming leg of
    * `events_cusum`: per-type daily counts arrive as micro-batches,
    * keyed state carries the running integer deviation sum, and the
    * reference statistics (per-type total + n_days, trained batch-side
    * like `lmGate`'s bigram table or `bloomGate`'s bitmap) ride in the
    * closure — a driver-held map of |event_type| entries, broadcast
    * with the task binary. Within a micro-batch rows sort by day so a
    * catch-up burst replays deterministically; across batches arrival
    * order IS day order for daily telemetry. Same integer scaling as
    * the batch query (dev = n*n_days - total), so stream and batch
    * agree exactly — the spec pins it.
    */
  def cusumStream(daily: Dataset[DailyCount],
      totals: Map[String, (Long, Long)]): Dataset[CusumPoint] = {
    import daily.sparkSession.implicits._
    daily.groupByKey(_.event_type)
      .flatMapGroupsWithState[Long, CusumPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[DailyCount], state: GroupState[Long]) =>
          val (total, nDays) = totals.getOrElse(key, (0L, 1L))
          var acc = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.day.getTime).map { r =>
            acc += r.n * nDays - total
            CusumPoint(r.event_type, r.day, r.n, acc)
          }
          state.update(acc)
          out.iterator
      }
  }

  /** Per-type (total, n_days) reference statistics for [[cusumStream]],
    * trained on a BATCH history — one aggregate, |event_type| rows
    * collected (bounded by the type domain, like `lmTrainBigrams`'s
    * vocab). */
  def cusumTrainTotals(daily: DataFrame): Map[String, (Long, Long)] =
    daily.groupBy("event_type")
      .agg(sum(col("n")).as("total"), count(lit(1)).as("n_days"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  case class KeyedValue(key: String, value: String)
  case class DistinctEstimate(key: String, n_rows: Long,
    est_distinct: Long)

  /** Streaming running distinct-count per key via the SAME KMV core
    * as the batch `kmv_distinct` aggregate (`functions/Kmv` — one
    * definition of hash, k-cap, estimator, wire format, so batch and
    * stream cannot drift). State per key is the serialized sketch
    * (4+8k bytes) plus a row counter; each micro-batch folds its rows
    * in and emits the key's refreshed estimate (Update mode). Because
    * the estimate is a pure function of the value SET, it is
    * ARRIVAL-ORDER INDEPENDENT — no event-time contract at all, and
    * after any sequence of micro-batches the latest estimate equals
    * the batch aggregate over the union exactly (spec-pinned). The
    * cardinality-monitoring shape: per-tenant distinct users, per-key
    * vocabulary growth, join-key explosion alarms.
    *
    * State retention: one sketch (4+8k bytes) per key, forever by
    * default. The rows carry no event time, so eviction is wall-clock:
    * pass `evictAfterIdleMs >= 0` to drop a key's sketch after that
    * long with no arrivals (processing-time timeout). An evicted key
    * that reappears restarts its sketch — and its `n_rows` counter —
    * from zero, the standard monitoring-window reset. Engine note:
    * with a processing-time timeout Spark schedules timer-check
    * micro-batches continuously (`shouldRunAnotherBatch` is always
    * true), so `processAllAvailable()` never observes quiescence —
    * test harnesses must poll the sink instead.
    */
  def kmvDistinctStream(rows: Dataset[KeyedValue],
      k: Int = 128,
      evictAfterIdleMs: Long = -1L): Dataset[DistinctEstimate] = {
    import rows.sparkSession.implicits._
    val evicting = evictAfterIdleMs >= 0
    val timeoutConf =
      if (evicting) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Array[Byte]), DistinctEstimate](
        OutputMode.Update, timeoutConf) {
        (key: String, it: Iterator[KeyedValue],
            state: GroupState[(Long, Array[Byte])]) =>
          if (evicting && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
          val (n0, bytes) = state.getOption.getOrElse(
            (0L, graft.functions.Kmv.serialize(
              new java.util.TreeSet[java.lang.Long]())))
          val buf = graft.functions.Kmv.deserialize(bytes)
          val md5 = java.security.MessageDigest.getInstance("MD5")
          var n = n0
          it.foreach { r =>
            if (r.value != null) {
              graft.functions.Kmv.add(buf, graft.functions.Kmv.hash60(
                md5, r.value.getBytes(
                  java.nio.charset.StandardCharsets.UTF_8)), k)
            }
            n += 1
          }
          state.update((n, graft.functions.Kmv.serialize(buf)))
          if (evicting) state.setTimeoutDuration(evictAfterIdleMs)
          Iterator.single(DistinctEstimate(key, n,
            graft.functions.Kmv.estimate(buf, k)))
          }
      }
  }

  case class AsOfProbe(key: Long, ts: Long, probe_id: Long)
  case class AsOfVersion(key: Long, ts: Long, value: Double)
  case class AsOfUnion(key: Long, ts: Long, is_right: Boolean,
    probe_id: Long, value: Double)
  case class AsOfEnriched(key: Long, ts: Long, probe_id: Long,
    match_ts: Option[Long], match_value: Option[Double])

  /** STREAM-STREAM as-of join — the operator Structured Streaming
    * does not have (its stream-stream joins are equi/interval only;
    * `asofEnrichStream` needs the dim side to be BOUNDED). Both sides
    * are live streams: probes pick up the LATEST version row with the
    * same key and ts ≤ theirs (inclusive), null before the first
    * version. The two streams union into one keyed stream (the only
    * shape `flatMapGroupsWithState` accepts) and per-key state is
    * O(1): just the latest version seen — not a buffer — because a
    * backward as-of never needs an older version again once a newer
    * one arrived. Within a micro-batch rows sort by (ts, side) with
    * versions applying BEFORE probes at the same instant (the
    * inclusive boundary); across batches per-key arrival is assumed
    * event-time-ordered (the [[cusumStream]]/[[patternStream]]
    * contract). Versions should be unique per (key, ts) — among
    * same-instant duplicates the last arrival wins. The spec pins
    * batch-equivalence vs `AsOfJoin.lastEarlier` across scrambled
    * micro-batches.
    *
    * State retention: one (ts, value) tuple per key — total state is
    * O(|keys|), the floor any keyed enrichment can have. For an
    * unbounded churning key space, pass `evictAfterUs >= 0`: a key
    * whose latest version falls more than that many EVENT-TIME
    * microseconds behind the watermark is evicted (event-time
    * timeout), after which its probes enrich as null until the next
    * version arrives — the documented cold-key tradeoff. The default
    * (-1) keeps every key forever, matching the batch semantics
    * exactly. The watermark delay equals the eviction horizon, so a
    * key may lag the fastest key's event times by up to
    * `evictAfterUs` without its rows being dropped as late; beyond
    * that the key is stale past the caller's own retention choice.
    */
  def asofJoinStream(probes: Dataset[AsOfProbe],
      versions: Dataset[AsOfVersion],
      evictAfterUs: Long = -1L): Dataset[AsOfEnriched] = {
    import probes.sparkSession.implicits._
    val raw = probes
      .map(p => AsOfUnion(p.key, p.ts, is_right = false, p.probe_id, 0.0))
      .unionByName(versions
        .map(v => AsOfUnion(v.key, v.ts, is_right = true, 0L, v.value)))
    val evicting = evictAfterUs >= 0
    // Event-time timeouts require a watermark. The ordering contract
    // is PER-KEY, but a watermark is GLOBAL: with delay 0, a key
    // lagging another key's event times would have its rows silently
    // dropped as late before they reach the state function. Using the
    // caller's eviction horizon as the delay tolerates cross-key skew
    // up to exactly the retention the caller already chose; a key
    // lagging further is by definition stale beyond that horizon.
    // (Eviction then fires once a key lags ~2x the horizon — the
    // timeout still guarantees AT LEAST evictAfterUs of retention.)
    val tagged =
      if (!evicting) raw
      else raw.withColumn("__et", timestamp_micros(col("ts")))
        .withWatermark("__et", s"$evictAfterUs microseconds")
        .as[AsOfUnion]
    val timeoutConf =
      if (evicting) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Double), AsOfEnriched](
        OutputMode.Append, timeoutConf) {
        (key: Long, rows: Iterator[AsOfUnion],
            state: GroupState[(Long, Double)]) =>
          if (evicting && state.hasTimedOut) {
            state.remove() // stale key: next probe enriches as null
            Iterator.empty
          } else {
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer[AsOfEnriched]()
            rows.toSeq
              .sortBy(r => (r.ts, if (r.is_right) 0 else 1, r.probe_id))
              .foreach { r =>
                if (r.is_right) st = (r.ts, r.value)
                else out += AsOfEnriched(key, r.ts, r.probe_id,
                  Option(st).map(_._1), Option(st).map(_._2))
              }
            if (st != null) {
              state.update(st)
              if (evicting) state.setTimeoutTimestamp(math.max(
                (st._1 + evictAfterUs) / 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.iterator
          }
      }
  }

  case class PatternEvent(user_id: Long, event_id: Long,
    event_type: String, us: Long)
  case class SessionPattern(user_id: Long, sess: Long, n_events: Long,
    hit: Boolean)
  case class PatternState(sess: Long, lastUs: Long,
    events: List[(Long, Long, String)])

  /** Streaming sequence-pattern matching — the streaming leg of
    * `events_pattern` (the MATCH_RECOGNIZE analog): gap-sessionize
    * each user's event stream with keyed state and, when a session
    * CLOSES (a new event arrives more than `gapUs` after the last),
    * emit whether its ordered type sequence matches `pattern`
    * (unanchored, exactly `rlike`'s contains-match). State per key is
    * ONE open session's event list — the same session-length bound
    * the batch query documents and a streaming MATCH_RECOGNIZE
    * engine holds; the buffered events replay the batch's full
    * (us, event_id) sort + join + regex on close, so stream equals
    * batch bit-for-bit including substring effects no NFA shortcut
    * would reproduce. Within a micro-batch rows sort by
    * (us, event_id) so catch-up bursts replay deterministically;
    * across batches per-user arrival is assumed event-time-ordered
    * (the same contract as [[cusumStream]]).
    *
    * State retention: by default (-1) the final open session stays
    * buffered until a later event closes it — a key that goes silent
    * forever retains its buffer forever and that session is never
    * emitted. Pass `flushAfterUs >= 0` (gapUs is the natural choice)
    * to arm an EVENT-TIME timeout: once the watermark passes
    * lastEvent + flushAfterUs, the open session is FLUSHED — emitted
    * with exactly the row a closing event would have produced — and
    * the key's state evicted. After a flush, a reborn key restarts
    * session numbering at 1 (the counter lived in the evicted state).
    * The watermark delay equals the flush horizon, so a user may lag
    * the fastest stream's event times by up to `flushAfterUs`
    * without mid-session events being dropped as late. The spec pins
    * flush == close, the restart, and the lagging-key tolerance.
    */
  def patternStream(ev: Dataset[PatternEvent],
      gapUs: Long = 1800000000L,
      pattern: String = "view.*click.*purchase",
      flushAfterUs: Long = -1L)
      : Dataset[SessionPattern] = {
    import ev.sparkSession.implicits._
    val rx = pattern
    val flushing = flushAfterUs >= 0
    // Watermark delay = the flush horizon: the ordering contract is
    // per-key but the watermark is global, so delay 0 would silently
    // drop a lagging user's mid-session events as late. With the
    // horizon as delay, any user within flushAfterUs of the fastest
    // stream is safe; the flush then fires once a session has been
    // silent ~2x the horizon (still AT LEAST flushAfterUs).
    val src =
      if (!flushing) ev
      else ev.withColumn("__et", timestamp_micros(col("us")))
        .withWatermark("__et", s"$flushAfterUs microseconds")
        .as[PatternEvent]
    val timeoutConf =
      if (flushing) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[PatternState, SessionPattern](
        OutputMode.Append, timeoutConf) {
        (user: Long, rows: Iterator[PatternEvent],
            state: GroupState[PatternState]) =>
          val p = java.util.regex.Pattern.compile(rx)
          def close(st: PatternState): SessionPattern = {
            val seq = st.events.sortBy(e => (e._1, e._2))
              .map(_._3).mkString(",")
            SessionPattern(user, st.sess, st.events.length.toLong,
              p.matcher(seq).find())
          }
          if (flushing && state.hasTimedOut) {
            val flushed = state.getOption.map(close).iterator
            state.remove()
            flushed
          } else {
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer[SessionPattern]()
            rows.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
              val entry = (e.us, e.event_id, e.event_type)
              if (st == null) st = PatternState(1L, e.us, List(entry))
              else if (e.us - st.lastUs > gapUs) {
                out += close(st)
                st = PatternState(st.sess + 1, e.us, List(entry))
              } else st = PatternState(st.sess, e.us, entry :: st.events)
            }
            if (st != null) {
              state.update(st)
              if (flushing) state.setTimeoutTimestamp(math.max(
                (st.lastUs + flushAfterUs) / 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.iterator
          }
      }
  }

  def runningUserTotals(events: Dataset[Event]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotal, UserTotal](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
          var n = prev.n
          var total = prev.total
          rows.foreach { e => n += 1; total += e.value }
          val next = UserTotal(user, n, total)
          state.update(next)
          Iterator.single(next)
      }
  }
}
