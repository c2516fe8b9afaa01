package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH near-dup index — shingle ONCE, probe forever.
  *
  * Every `Dedup.minhashJoinPairs` invocation re-tokenizes, re-shingles
  * and re-signs the ENTIRE corpus to answer one incoming batch — the
  * right shape for a one-shot backfill, linear-in-corpus waste for the
  * production ingest loop where batches arrive continuously against a
  * slowly-growing corpus. At 100 TB the corpus-side signature pass IS
  * the job; the signatures it produces are 32 longs per document and
  * never change while the document doesn't. This object persists them
  * under the shared commit protocol ([[IndexLifecycle]]: marker,
  * lease, tombstones, groups at rest):
  *
  *   - `build` computes MinHash signatures over word 3-gram shingles
  *     (`Dedup.shingleRows`, the prose default) or char 5-grams
  *     (`Dedup.charGramRows`, the code/short-text unit — `grams`
  *     param, recorded in the marker) with `Dedup.minhashSignatures`
  *     — md5 double hashing, deterministic cross-engine — for the
  *     whole corpus and
  *     writes ONE skinny table under `dir`:
  *       `sigs/` (id LONG, m0..m{n-1} LONG) — numHashes longs/doc,
  *     then commits the `INDEX_READY` marker (format version, params,
  *     corpus fingerprint).
  *   - `append` signs ONLY the new documents (the hash family is
  *     content-deterministic — md5 of the shingle text — so appended
  *     signatures are bit-identical to what a full rebuild would
  *     produce) and parquet-appends them under a
  *     `+append[fingerprint]` stamp.
  *   - `probe` answers an incoming batch from the INDEX ALONE: sign
  *     the batch (the only text work is batch-sized), derive band keys
  *     map-side on BOTH sides from the skinny signature rows, bucket
  *     join (hot-bucket salted via `Dedup.bucketJoinPairs` — never
  *     all-pairs), then score candidates by MinHash AGREEMENT —
  *     `|{i : sigA[i]=sigB[i]}| / numHashes`, the unbiased Jaccard
  *     estimator the signatures exist for. No corpus text is read at
  *     probe time; the corpus-side scan is numHashes longs per doc.
  *     With numHashes a power of two the estimate is an exact binary
  *     fraction — bit-identical in Spark and the DuckDB oracle replay.
  *
  * Estimator calibration: agreement/n over n=32 independent
  * permutations has σ = √(j(1-j)/32) ≈ 0.087 at j=0.5 — callers
  * gating a corpus at threshold t should either accept the variance
  * (near-dup thresholds are themselves heuristic) or exact-verify the
  * estimate's survivors against re-read text (`probeVerified`), which
  * touches only candidate documents — batch-bounded, not
  * corpus-bounded.
  *
  * 100 TB posture: the index is numHashes longs per document
  * (~0.03% of a 1 KB-doc corpus); probe shuffles only band keys and
  * signature rows of candidates.
  *
  * Reference anchor: the reference engine's dedup story is exact
  * row-level (`main.gs:240-249` filters); this is the scale path the
  * driver mandate adds on top.
  */
object MinHashIndex {

  private val FormatVersion = 1

  private[graft] val core = new IndexLifecycle("minhash", "MinHash index")
  private val groups = new GroupsLifecycle(core, FormatVersion)

  /** Index geometry, recorded in the marker. `grams` selects the
    * shingle unit: "word3" (word 3-grams — `Dedup.shingleRows`, the
    * prose-dedup default) or "char5" (char 5-grams —
    * `Dedup.charGramRows`, the code/short-text unit `dedup_ngram`
    * mines with).
    */
  final case class Meta(numHashes: Int, bands: Int, grams: String)

  private val GramsUnits = Set("word3", "char5")

  private def markerText(numHashes: Int, bands: Int, grams: String,
      fingerprint: String): String =
    s"format=$FormatVersion numHashes=$numHashes bands=$bands " +
      s"grams=$grams corpus[$fingerprint]"

  /** Signature frame (id, m0..m{n-1}) of `df` — the shared encode of
    * build, append and the probe's batch side. Documents too short to
    * shingle (under 3 tokens / 5 normalized chars) are ABSENT (they
    * cannot near-dup under set Jaccard); mirrors the oracle's
    * `WHERE len(ts) > 0`.
    */
  private def signatures(df: DataFrame, idCol: String, textCol: String,
      meta: Meta): DataFrame =
    Dedup.minhashSignatures(shingles(df, idCol, textCol, meta),
      meta.numHashes)

  /** The id boundary cast, failing FAST on ids the cast nulls out
    * (non-numeric strings, or nulls in the source): a silent null
    * here would collapse every such doc into ONE null-id signature
    * row (the groupBy in `minhashSignatures` unions their shingles —
    * a garbage signature emitting null-id matches), so the contract
    * is numeric, non-null ids, enforced in-plan (ADVICE r14).
    */
  private def idLong(c: Column): Column =
    when(c.try_cast("long").isNull,
      raise_error(concat(
        lit("MinHash index ids must be numeric and non-null; got: "),
        coalesce(c.cast("string"), lit("null")))).cast("long"))
      .otherwise(c.try_cast("long"))

  private def shingles(df: DataFrame, idCol: String, textCol: String,
      meta: Meta): DataFrame = {
    // normalize the id to LONG at the boundary, like AnnIndex's
    // encode: the streaming ingest and the tombstone anti-join are
    // long-typed, and a string-id corpus would otherwise widen
    // through unionByName and null out the delete comparison
    val norm = df.select(idLong(col(idCol)).as(idCol),
      col(textCol))
    meta.grams match {
      case "word3" => Dedup.shingleRows(norm, idCol, textCol)
      case "char5" => Dedup.charGramRows(norm, idCol, textCol, n = 5)
      case other => throw new IllegalArgumentException(
        s"unknown shingle unit '$other' " +
          s"(expected ${GramsUnits.mkString("/")})")
    }
  }

  /** Sign the corpus and commit the index at `dir` (overwrites any
    * previous index there). Single-writer; marker LAST.
    */
  def build(corpus: DataFrame, idCol: String, textCol: String,
      dir: String, numHashes: Int = 32, bands: Int = 8,
      fingerprint: String = "", grams: String = "word3"): Unit =
    core.withLease(corpus.sparkSession, dir) {
      require(numHashes % bands == 0,
        s"bands=$bands must divide numHashes=$numHashes")
      require(GramsUnits(grams), s"unknown shingle unit '$grams'")
      val spark = corpus.sparkSession
      core.liftMarker(spark, dir)
      signatures(corpus, idCol, textCol, Meta(numHashes, bands, grams))
        .write.mode("overwrite").parquet(s"$dir/sigs")
      // a rebuild retires queued tombstones AND the streaming segment:
      // both referred to the previous index's contents
      core.remove(spark, dir, "deletes", "sigs_stream")
      core.writeMarker(spark, dir,
        markerText(numHashes, bands, grams, fingerprint))
    }

  /** [[IndexLifecycle.ensureBuilt]] at these params; true iff built. */
  def ensureBuilt(corpus: DataFrame, idCol: String, textCol: String,
      dir: String, numHashes: Int = 32, bands: Int = 8,
      fingerprint: String = "", grams: String = "word3"): Boolean =
    core.ensureBuilt(corpus.sparkSession, dir,
        markerText(numHashes, bands, grams, fingerprint)) {
      build(corpus, idCol, textCol, dir, numHashes, bands, fingerprint,
        grams)
    }

  /** Sign ONLY `df` with the committed index's (content-deterministic)
    * hash family and shingle unit and parquet-append the rows; the
    * marker gains a `+append[fingerprint]` line so `ensureBuilt`
    * against any single-corpus fingerprint sees staleness. Callers own
    * id disjointness (appending an already-indexed id serves duplicate
    * signature rows, which probe would surface as duplicate pairs).
    */
  def append(df: DataFrame, idCol: String, textCol: String,
      dir: String, fingerprint: String = ""): Unit =
    core.withLease(df.sparkSession, dir) {
      val spark = df.sparkSession
      signatures(df, idCol, textCol,
          paramsOf(core.committed(spark, dir), dir))
        .write.mode("append").parquet(s"$dir/sigs")
      core.stamp(spark, dir, core.appendLine(fingerprint))
    }

  /** [[IndexLifecycle.ensureBuiltWithAppend]]: build `base`, append
    * `extra`; true iff built.
    */
  def ensureBuiltWithAppend(base: DataFrame, extra: DataFrame,
      idCol: String, textCol: String, dir: String, numHashes: Int = 32,
      bands: Int = 8, fingerprint: String = "",
      grams: String = "word3"): Boolean =
    core.ensureBuiltWithAppend(base.sparkSession, dir,
        markerText(numHashes, bands, grams, fingerprint), fingerprint) {
      build(base, idCol, textCol, dir, numHashes, bands, fingerprint,
        grams)
    }(append(extra, idCol, textCol, dir, fingerprint))

  private def paramsOf(marker: String, dir: String): Meta = {
    val m =
      raw"format=(\d+) numHashes=(\d+) bands=(\d+) grams=(\S+) ".r
        .findFirstMatchIn(marker).getOrElse(
          throw new IllegalStateException(
            s"unreadable MinHash index marker at $dir"))
    require(m.group(1).toInt == FormatVersion,
      s"MinHash index at $dir has format ${m.group(1)}, " +
        s"this build reads $FormatVersion")
    Meta(m.group(2).toInt, m.group(3).toInt, m.group(4))
  }

  /** The committed signature table (streaming segment unioned,
    * tombstones anti-joined) and its params.
    */
  def load(spark: SparkSession, dir: String): (Meta, DataFrame) = {
    val meta = paramsOf(core.committed(spark, dir), dir)
    val base = spark.read.parquet(s"$dir/sigs")
    val unioned =
      if (!core.has(spark, dir, "sigs_stream")) base
      else base.unionByName(
        spark.read.parquet(s"$dir/sigs_stream").select(base.columns
          .map(col).toIndexedSeq: _*))
    (meta, core.withoutDeletes(spark, dir, unioned))
  }

  /** STREAMING index ingest — the online half of the lifecycle:
    * arriving documents are signed MAP-SIDE with the committed
    * index's hash family and shingle unit (`Dedup.shingleHashesCol` /
    * `charGramHashesCol` + `minhashComponent` — the word form is the
    * same expression `nearDupGate` probes with; both bit-compatible
    * with the batch `minhashSignatures`, pinned in MinHashIndexSpec)
    * and appended, exactly-once (the parquet
    * sink's metadata log dedups replayed micro-batches), into a
    * `sigs_stream/` SEGMENT beside the base table. A separate segment
    * because a FileStreamSink log in `sigs/` would hide the
    * batch-written files from readers; [[load]] unions the segment in
    * when present and [[compact]] folds + retires it. Docs too short
    * to shingle emit nothing — exactly the batch absence rule. No
    * state store, no shuffle: this is the AnnIndex.ingestStream shape
    * for text.
    *
    * The ingest is a writer: it holds the lease for its lifetime and
    * stamps `+ingest` ([[IndexLifecycle]]); stop it, then compact.
    */
  def ingestStream(stream: DataFrame, idCol: String, textCol: String,
      dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    val meta = paramsOf(core.committed(spark, dir), dir)
    val hs = meta.grams match {
      case "word3" => Dedup.shingleHashesCol(col(textCol))
      case "char5" => Dedup.charGramHashesCol(col(textCol), n = 5)
      case other => throw new IllegalStateException(
        s"index at $dir has unknown shingle unit '$other'")
    }
    core.ingest(spark, dir) {
      stream
        .select(idLong(col(idCol)).as("id"), hs.as("__hs"))
        .filter(size(col("__hs")) > 0)
        .select(col("id") +: (0 until meta.numHashes).map(i =>
          Dedup.minhashComponent(col("__hs"), i).as(s"m$i")): _*)
        .writeStream.format("parquet")
        .option("path", s"$dir/sigs_stream")
        .option("checkpointLocation", checkpoint)
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

  /** Tombstone ids out of the index ([[IndexLifecycle]]'s queue): every
    * probe path anti-joins them; [[compact]] or a [[build]] folds them.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    core.delete(spark, dir, ids, idLong)

  def delete(spark: SparkSession, dir: String, ids: Seq[Long]): Unit =
    core.delete(spark, dir, ids, idLong)

  /** Offline maintenance: rewrite the signature table without queued
    * tombstones, with the streaming segment folded in (stop any
    * running [[ingestStream]] first; the next ingest needs a FRESH
    * checkpoint — its sink log is retired with the segment), and with
    * healthy file sizes (every [[append]] adds files; a long-lived
    * ingest index accumulates small files). Staged through
    * `sigs_tmp` + rename with the marker lifted across the swap; the
    * compaction rules are [[IndexLifecycle]]'s.
    *
    * @return signature rows kept
    */
  def compact(spark: SparkSession, dir: String): Long =
    core.compact(spark, dir) {
      val marker = core.committed(spark, dir)
      // the folded frame IS what probes read — reuse load()'s
      // segment-union + tombstone-anti-join so the "result-invisible"
      // guarantee can't drift from the serve path
      val kept = load(spark, dir)._2
      kept.write.mode("overwrite").parquet(s"$dir/sigs_tmp")
      core.fail("compact.staged")
      core.liftMarker(spark, dir)
      core.fail("compact.unmarked")
      core.swapStaged(spark, dir, "sigs")
      core.remove(spark, dir, "sigs_stream", "deletes")
      core.fail("compact.swapped")
      core.writeMarker(spark, dir, marker)
      spark.read.parquet(s"$dir/sigs").count()
    }

  /** The committed index's occupied LSH buckets as the skinny
    * (band, bk) DISTINCT table `StreamingOps.nearDupGate` probes —
    * row-identical to `StreamingOps.corpusBandBuckets(corpus)` (same
    * hash family) but derived from the at-rest signatures: a
    * numHashes-longs-per-doc scan, no corpus text pass, so the
    * streaming ingest gate refreshes whenever the index does.
    */
  def bandBuckets(spark: SparkSession, dir: String): DataFrame =
    bandedSignatures(spark, dir).select("band", "bk").distinct()

  /** The committed signature table exploded to its LSH band buckets
    * WITH document ids — (id, band, bk), the static candidate side of
    * `StreamingOps.ingestGates`' exact-verified text leg
    * ([[bandBuckets]] distinct-s the ids away for `nearDupGate`'s
    * coarser bucket-hit verdict). Tombstones anti-joined, streaming
    * segment unioned ([[load]]); numHashes longs per doc of corpus
    * scan, no text pass.
    */
  def bandedSignatures(spark: SparkSession, dir: String): DataFrame = {
    val (meta, sigs) = load(spark, dir)
    bandRows(sigs, meta)
  }

  /** (id, band, bk): one row per LSH band of each signature row. */
  private def bandRows(sigs: DataFrame, meta: Meta,
      id: Column = col("id")): DataFrame =
    sigs.select(id, posexplode(
      Dedup.bandKeys(meta.bands, meta.numHashes / meta.bands))
      .as(Seq("band", "bk")))

  /** All (batch doc, indexed doc) pairs whose ESTIMATED Jaccard —
    * MinHash component agreement / numHashes — reaches `threshold`.
    * Index-only: no corpus text is read. Output: (id_a = batch id,
    * id_b = indexed id, est_jaccard); a batch doc also indexed matches
    * itself at 1.0.
    */
  def probe(incoming: DataFrame, idCol: String, textCol: String,
      dir: String, threshold: Double, hotCap: Int = 4096,
      salts: Int = 16): DataFrame = {
    val (meta, sigs) = load(incoming.sparkSession, dir)
    // the batch signature frame feeds a band leg and the agreement
    // join; checkpoint so the batch text is shingled once
    val sigNew = signatures(incoming, idCol, textCol, meta)
      .localCheckpoint(false)
    val cand = Dedup.bucketJoinPairs(
        bandRows(sigNew, meta, col("id").as("id_a")),
        bandRows(sigs, meta, col("id").as("id_b")), hotCap, salts,
        ordered = false)
      .distinct()
    agreementScored(cand, sigNew, sigs, meta.numHashes, threshold)
  }

  /** Candidate pairs (id_a from `sigA`, id_b from `sigB`) scored by
    * MinHash agreement / numHashes: (id_a, id_b, est_jaccard) at
    * est_jaccard >= `threshold`.
    */
  private def agreementScored(cand: DataFrame, sigA: DataFrame,
      sigB: DataFrame, numHashes: Int, threshold: Double): DataFrame = {
    val a = sigA.select(col("id").as("id_a") +:
      (0 until numHashes).map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sigB.select(col("id").as("id_b") +:
      (0 until numHashes).map(i => col(s"m$i").as(s"b$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (agree.cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** CORPUS-WIDE candidate near-dup pairs from the index ALONE —
    * the sign-once answer to `Dedup.minhashPairs`/`ngramPairs`' mining
    * legs, which re-tokenize/re-shingle/re-sign the whole corpus every
    * run: here the candidate generation is a band SELF-JOIN over the
    * at-rest signature table (numHashes longs/doc — ~0.03% of the
    * corpus bytes) through the same hot-bucket-salted
    * `Dedup.bucketPairs` scaffold, so the candidate set is IDENTICAL
    * to the mining legs' (same hash family → same signatures → same
    * band buckets), with zero text work. Pairs are scored by MinHash
    * agreement (exact binary fractions at power-of-two numHashes).
    *
    * @return (id_a, id_b, est_jaccard) with id_a < id_b,
    *         est_jaccard >= threshold
    */
  def pairs(spark: SparkSession, dir: String, threshold: Double,
      hotCap: Int = 4096, salts: Int = 16): DataFrame = {
    val (meta, sigs, cand) = bandedCandidates(spark, dir, hotCap, salts)
    agreementScored(cand, sigs, sigs, meta.numHashes, threshold)
  }

  /** Shared candidate generation of the corpus-wide pair paths: the
    * at-rest signature table (materialized once — it feeds band legs
    * and agreement joins), and the distinct (id_a < id_b) band-bucket
    * co-occurrences through the hot-bucket-salted self-join.
    */
  private def bandedCandidates(spark: SparkSession, dir: String,
      hotCap: Int, salts: Int): (Meta, DataFrame, DataFrame) = {
    val (meta, sigs0) = load(spark, dir)
    val sigs = sigs0.localCheckpoint(false)
    (meta, sigs,
      Dedup.bucketPairs(bandRows(sigs, meta), hotCap, salts).distinct())
  }

  /** [[pairs]]' candidates EXACT-verified — the index-served
    * equivalent of the corpus-mining legs (`Dedup.minhashPairs` /
    * `ngramPairs` at the same geometry and threshold), with the
    * corpus-side text read ONLY for candidate documents (one semi-join
    * on the candidate id set bounds the re-shingle to candidates —
    * linear in true-pair volume, not corpus size). With
    * `estThreshold` <= 0 no estimate gate is applied, so the pair set
    * EQUALS the mining leg's by construction: identical banded
    * candidates, identical exact-Jaccard bar. A positive
    * `estThreshold` prunes the verify leg at the cost of estimator-
    * variance recall (σ ≈ 0.09 at n=32).
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b — exact
    */
  def pairsVerified(corpus: DataFrame, idCol: String, textCol: String,
      dir: String, threshold: Double, estThreshold: Double = 0.0,
      hotCap: Int = 4096, salts: Int = 16): DataFrame = {
    val spark = corpus.sparkSession
    // no estimate gate → the banded candidates go straight to verify
    // (skipping the agreement joins), which is what makes the result
    // EQUAL to the mining leg rather than approximately so
    val (meta, cand0) =
      if (estThreshold > 0) {
        val m = paramsOf(core.committed(spark, dir), dir)
        (m, pairs(spark, dir, estThreshold, hotCap, salts))
      } else {
        val (m, _, c) = bandedCandidates(spark, dir, hotCap, salts)
        (m, c)
      }
    verifyPairs(corpus, idCol, textCol, meta, cand0, threshold)
  }

  /** EXACT-verify a candidate pair frame (id_a, id_b) against re-read
    * text of the candidate documents only — the shared verify leg of
    * [[pairsVerified]] and [[deleteGroups]]'s confined re-mine. One
    * semi-join on the candidate id set bounds the re-shingle to
    * candidates; both pair sides come from the same `corpus`.
    */
  private def verifyPairs(corpus: DataFrame, idCol: String,
      textCol: String, meta: Meta, cand0: DataFrame,
      threshold: Double): DataFrame = {
    val cand = cand0.select("id_a", "id_b").localCheckpoint(false)
    // ONE candidate-bounded shingle relation serves both pair sides
    // and the set sizes (both sides come from the same corpus)
    val candIds = cand.select(col("id_a").as(idCol))
      .union(cand.select(col("id_b").as(idCol))).distinct()
    val sh = shingles(
      corpus.join(candIds, Seq(idCol), "left_semi"), idCol, textCol,
      meta).localCheckpoint(false)
    exactJaccard(cand, sh, sh, threshold)
  }

  /** Exact Jaccard of candidate pairs (id_a, id_b) over the (id,
    * shingle) rows of each side: (id_a, id_b, jaccard) at jaccard >=
    * `threshold`.
    */
  private def exactJaccard(cand: DataFrame, shA: DataFrame,
      shB: DataFrame, threshold: Double): DataFrame = {
    val inter = cand
      .join(shA.select(col("id").as("id_a"), col("shingle")), "id_a")
      .join(shB.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val cntA = shA.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val cntB = shB.groupBy(col("id")).agg(count(lit(1)).as("n"))
    inter
      .join(cntA.select(col("id").as("id_a"), col("n").as("na")),
        "id_a")
      .join(cntB.select(col("id").as("id_b"), col("n").as("nb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** `probe`, then EXACT-verify the survivors: re-read text for the
    * candidate documents only (two semi-join-bounded shingle passes —
    * batch-bounded work, never a corpus re-shingle) and keep pairs at
    * exact Jaccard >= `threshold`. `estThreshold` opens the candidate
    * gate wider than the final bar so estimator variance doesn't drop
    * borderline true pairs. Output: (id_a, id_b, jaccard) — exact.
    */
  def probeVerified(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, dir: String, threshold: Double,
      estThreshold: Double, hotCap: Int = 4096,
      salts: Int = 16): DataFrame =
    verifyPairs(probe(incoming, idCol, textCol, dir, estThreshold,
      hotCap, salts), incoming, corpus, idCol, textCol, dir, threshold)

  /** EXACT-verify an EXTERNALLY-SUPPLIED candidate pair set —
    * (id_a = batch id, id_b = indexed id) from any candidate
    * generator sharing the index's hash family (the stateful gate's
    * `StatefulGates.nearDupCandidatesStateful`, a salted probe, a
    * re-played probe) — with [[probeVerified]]'s exact verify step
    * VERBATIM: re-read text for candidate documents only (semi-join
    * bounded), shingle under the index's recorded unit, keep pairs
    * at exact Jaccard >= `threshold`. Factored out so alternative
    * candidate paths verify through the SAME code and cannot drift.
    */
  def verifyPairs(cand0: DataFrame, incoming: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String, dir: String,
      threshold: Double): DataFrame = {
    val meta = paramsOf(core.committed(incoming.sparkSession, dir), dir)
    val cand = cand0.select("id_a", "id_b").localCheckpoint(false)
    val shNew = shingles(
      incoming.join(cand.select(col("id_a").as(idCol)).distinct(),
        Seq(idCol), "left_semi"), idCol, textCol, meta)
    val shCor = shingles(
      corpus.join(cand.select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_semi"), idCol, textCol, meta)
    exactJaccard(cand, shNew, shCor, threshold)
  }

  // --- near-dup GROUPS at rest ([[GroupsLifecycle]]) ---------------
  // Pair miners: [[pairsVerified]] over the corpus; [[probeVerified]]
  // of the batch at estThreshold=0, which sees every banded candidate
  // of the batch (batch-internal ones included once the batch is in
  // the index); and the banded self-join + exact verify confined to
  // the touched members' at-rest signatures. Pinned by sharing
  // dedup_groups' oracle and by the rebuild-equality specs.

  private def groupsParams(threshold: Double): String =
    s"threshold=$threshold"

  /** [[GroupsLifecycle]]'s staleness view (None = no groups table). */
  def groupsStatus(spark: SparkSession, dir: String)
      : Option[(String, Boolean)] = IndexLifecycle.groupsStatus(spark, dir)

  /** True iff a committed groups table matches the CURRENT index
    * marker at this `threshold`.
    */
  def groupsFresh(spark: SparkSession, dir: String,
      threshold: Double): Boolean =
    groups.fresh(spark, dir, groupsParams(threshold))

  /** The committed groups table: (id, label), label = min id of the
    * group; unpaired docs are absent.
    */
  def readGroups(spark: SparkSession, dir: String): DataFrame =
    groups.read(spark, dir)

  /** Full connected components over [[pairsVerified]]'s exact pairs. */
  def buildGroups(corpus: DataFrame, idCol: String, textCol: String,
      dir: String, threshold: Double): Unit =
    groups.build(corpus.sparkSession, dir, groupsParams(threshold)) {
      pairsVerified(corpus, idCol, textCol, dir, threshold)
    }

  /** Fold a JUST-APPENDED batch (already in the index; `corpus` is the
    * full post-append corpus the verify reads text from). With later
    * mutations queued, the probe reads the index as it is — every pair
    * it adds is one the final rebuild has, so the drained sequence
    * equals [[buildGroups]].
    */
  def appendGroups(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, dir: String, threshold: Double): Unit =
    groups.foldAppend(batch.sparkSession, dir, groupsParams(threshold)) {
      probeVerified(batch, corpus, idCol, textCol, dir, threshold,
        estThreshold = 0.0)
    }

  /** Fold a JUST-QUEUED [[delete]]; `corpus` is the post-delete corpus
    * (tombstoned docs may be present — they are excluded by id).
    */
  def deleteGroups(corpus: DataFrame, idCol: String, textCol: String,
      dir: String, threshold: Double, hotCap: Int = 4096,
      salts: Int = 16): Unit =
    groups.foldDelete(corpus.sparkSession, dir,
        groupsParams(threshold)) { members =>
      val (meta, sigs) = load(corpus.sparkSession, dir)
      val sigsM = sigs.join(members, Seq("id"), "left_semi")
        .localCheckpoint(false)
      verifyPairs(corpus, idCol, textCol, meta,
        Dedup.bucketPairs(bandRows(sigsM, meta), hotCap, salts)
          .distinct(), threshold)
    }
}
