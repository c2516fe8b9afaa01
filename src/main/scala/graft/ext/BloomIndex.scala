package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BloomContains

/** Persisted exact-dup Bloom gate — build the bitmap ONCE, probe
  * forever.
  *
  * `Bloom.gate` re-scans the corpus and re-folds the bitmap on every
  * invocation — linear-in-corpus work to answer a batch-sized
  * question. The bitmap is a few MB at any corpus size (m is a
  * cardinality-budget constant) and only changes when the corpus
  * does, so it gets the at-rest lifecycle of the other index
  * families ([[IndexLifecycle]]: marker-last commit, lease, stamps):
  *
  *   - `build` folds the corpus's k bit positions into the m-bit
  *     bitmap (`Bloom.buildBitmap` — one corpus pass) and commits TWO
  *     tables under `dir`: `bitmap/` (one row, m/8 bytes binary) and
  *     `keys/` (the DISTINCT canonical md5 keys — one skinny string
  *     per unique document, the exact-verify side the gate's
  *     `exact_dup` ground-truth flag needs).
  *   - `gate` answers an incoming batch from the INDEX ALONE: the
  *     bitmap row is read driver-side (bounded by design) and probed
  *     map-side via the codegen'd `bloom_contains`; `exact_dup` joins
  *     the stored key table. Output bit-identical to
  *     `Bloom.gate(batch, corpus, ...)` over the corpus the index was
  *     built from — no corpus scan anywhere at probe time.
  *   - `append` ORs a new batch's bits into the bitmap (driver-side
  *     OR of two bounded bitmaps) and appends its keys. DELETION is
  *     impossible on a plain Bloom filter (bits are shared) —
  *     removing documents means a rebuild.
  *
  * 100 TB posture: build is one map-side position pass + a
  * (#partitions × m/8)-byte tree-reduce; the gate is a broadcast
  * bitmap probe + a key semi-join against a table of one md5 per
  * unique doc. Reference anchor: the reference dedups exact rows via
  * display-string filters (`main.gs:240-249`); this is the
  * crawl-front-door scale path the driver mandate adds.
  */
object BloomIndex {

  private val FormatVersion = 1

  private[graft] val core = new IndexLifecycle("bloom", "Bloom index")

  final case class Meta(k: Int, mBits: Int)

  private def markerText(k: Int, mBits: Int,
      fingerprint: String): String =
    s"format=$FormatVersion k=$k mBits=$mBits corpus[$fingerprint]"

  private def paramsOf(marker: String, dir: String): Meta = {
    val m = raw"format=(\d+) k=(\d+) mBits=(\d+) ".r
      .findFirstMatchIn(marker).getOrElse(
        throw new IllegalStateException(
          s"unreadable Bloom index marker at $dir"))
    require(m.group(1).toInt == FormatVersion,
      s"Bloom index at $dir has format ${m.group(1)}, " +
        s"this build reads $FormatVersion")
    Meta(m.group(2).toInt, m.group(3).toInt)
  }

  /** Fold the corpus into the committed bitmap + key table at `dir`
    * (overwrites any previous index there). Single-writer; marker
    * LAST — a killed build leaves no readable index.
    */
  def build(corpus: DataFrame, idCol: String, keyExpr: Column,
      dir: String, k: Int, mBits: Int, fingerprint: String = ""): Unit =
    core.withLease(corpus.sparkSession, dir) {
      val spark = corpus.sparkSession
      import spark.implicits._
      core.liftMarker(spark, dir)
      // a rebuild retires any streaming segment from the index's
      // previous life (the MinHash/Ann rebuild discipline) — the next
      // ingest needs a fresh checkpoint
      core.remove(spark, dir, "keys_stream")
      val keyed = Bloom.keyed(corpus, idCol, keyExpr)
        .localCheckpoint(false) // feeds the position pass AND keys/
      val bitmap = Bloom.buildBitmap(
        Bloom.positions(keyed, k, mBits), mBits)
      Seq(Tuple1(bitmap)).toDF("bits")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/bitmap")
      keyed.select(col("key")).distinct()
        .write.mode("overwrite").parquet(s"$dir/keys")
      core.writeMarker(spark, dir, markerText(k, mBits, fingerprint))
    }

  /** [[IndexLifecycle.ensureBuilt]] at these params; true iff built. */
  def ensureBuilt(corpus: DataFrame, idCol: String, keyExpr: Column,
      dir: String, k: Int, mBits: Int,
      fingerprint: String = ""): Boolean =
    core.ensureBuilt(corpus.sparkSession, dir,
        markerText(k, mBits, fingerprint)) {
      build(corpus, idCol, keyExpr, dir, k, mBits, fingerprint)
    }

  /** OR a new batch's bits into the committed bitmap and append its
    * keys — the incremental ingest path (a Bloom filter composes
    * under union by construction; the OR of the two bitmaps IS the
    * bitmap of the unioned corpus, so append == rebuild bit for bit).
    * The marker gains `+append[fingerprint]` so single-corpus
    * freshness checks see the mutation.
    */
  def append(df: DataFrame, idCol: String, keyExpr: Column,
      dir: String, fingerprint: String = ""): Unit =
    core.withLease(df.sparkSession, dir) {
      val spark = df.sparkSession
      import spark.implicits._
      val meta = paramsOf(core.committed(spark, dir), dir)
      val keyed = Bloom.keyed(df, idCol, keyExpr)
        .localCheckpoint(false)
      val bits = orBits(keyed, meta)(loadBitmap(spark, dir))
      // marker FIRST (the delete discipline): a crash mid-swap leaves
      // a stale-looking index that forces a spurious-but-safe rebuild,
      // never a fresh-looking one missing the batch's bits
      core.stamp(spark, dir, core.appendLine(fingerprint))
      Seq(Tuple1(bits)).toDF("bits")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/bitmap")
      keyed.select(col("key")).distinct()
        .join(spark.read.parquet(s"$dir/keys"), Seq("key"), "left_anti")
        .write.mode("append").parquet(s"$dir/keys")
    }

  private def loadBitmap(spark: SparkSession, dir: String)
      : Array[Byte] =
    spark.read.parquet(s"$dir/bitmap").head().getAs[Array[Byte]](0)

  /** `base` (read after the fold) ORed in place with the bitmap of
    * `keyed`'s (h1, h2) rows — the OR of two bitmaps IS the bitmap of
    * the unioned corpus.
    */
  private def orBits(keyed: DataFrame, meta: Meta)(
      base: => Array[Byte]): Array[Byte] = {
    val add = Bloom.buildBitmap(
      Bloom.positions(keyed, meta.k, meta.mBits), meta.mBits)
    val bits = base
    var i = 0
    while (i < bits.length) {
      bits(i) = (bits(i) | add(i)).toByte; i += 1
    }
    bits
  }

  /** Streaming ingest into the committed index: arriving documents'
    * canonical keys are hashed MAP-SIDE (`Bloom.keyed` — the same
    * family every batch path uses, so stream and batch can never
    * drift) and appended exactly-once into a skinny `keys_stream/`
    * segment through the parquet file sink. The bitmap at rest is NOT
    * touched by the stream (a byte-wise OR is not an appendable file
    * op); instead [[gate]] folds the segment in at probe time — work
    * linear in SEGMENT size, never corpus size — and [[compact]]
    * seals it into `bitmap/` + `keys/` offline. A writer: it holds
    * the lease for its lifetime and stamps `+ingest`
    * ([[IndexLifecycle]]).
    */
  def ingestStream(stream: DataFrame, idCol: String, keyExpr: Column,
      dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    // format check before mutating anything
    paramsOf(core.committed(spark, dir), dir)
    core.ingest(spark, dir) {
      Bloom.keyed(stream, idCol, keyExpr)
        .select(col("key"), col("h1"), col("h2"))
        .writeStream.format("parquet")
        .option("path", s"$dir/keys_stream")
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    }
  }

  /** The streaming segment's DISTINCT (key, h1, h2) rows, when one
    * exists — the probe-time fold side of [[gate]] and the seal input
    * of [[compact]]. EAGERLY materialized (localCheckpoint): [[gate]]
    * holds no lease, so a concurrent build/compact may delete
    * `keys_stream/` between this existence check and a lazy read —
    * materializing here pins the segment rows the moment they are
    * listed, like the already-eager bitmap fold, so a serving gate
    * never crashes mid-flight on maintenance racing it (ADVICE r15).
    * Bounded by the segment (recent arrivals), never the corpus.
    */
  private def segment(spark: SparkSession, dir: String)
      : Option[DataFrame] =
    if (!core.has(spark, dir, "keys_stream")) None
    else Some(spark.read.parquet(s"$dir/keys_stream")
      .select(col("key"), col("h1"), col("h2")).distinct()
      .localCheckpoint(true))

  /** Offline maintenance: seal the streaming segment into `bitmap/`
    * + `keys/` (stop any running [[ingestStream]] first; the next
    * ingest needs a FRESH checkpoint — its sink log is retired with
    * the segment). Result-invisible: [[gate]] already folds the
    * segment at probe time, so verdicts are identical before and
    * after — compaction just moves the fold from every probe to once.
    * Marker lifted across the swap (a crash leaves no marker →
    * ensureBuilt forces a spurious-but-safe rebuild, never a
    * fresh-looking index missing segment bits).
    *
    * @return number of keys at rest after the seal
    */
  def compact(spark: SparkSession, dir: String): Long =
    core.compact(spark, dir) {
      import spark.implicits._
      val marker = core.committed(spark, dir)
      val meta = paramsOf(marker, dir)
      segment(spark, dir) match {
        case None => spark.read.parquet(s"$dir/keys").count()
        case Some(seg) => // already eagerly materialized by segment()
          val bits = orBits(seg.withColumn("id", lit(0L)), meta)(
            loadBitmap(spark, dir))
          // EAGER checkpoint: fresh reads keys/ and is then APPENDED
          // to keys/ — materialize before the write job lists the dir
          val fresh = seg.select(col("key"))
            .join(spark.read.parquet(s"$dir/keys"),
              Seq("key"), "left_anti")
            .localCheckpoint(true)
          core.liftMarker(spark, dir)
          core.fail("compact.unmarked")
          Seq(Tuple1(bits)).toDF("bits").coalesce(1)
            .write.mode("overwrite").parquet(s"$dir/bitmap")
          core.fail("compact.bitmap")
          fresh.write.mode("append").parquet(s"$dir/keys")
          core.remove(spark, dir, "keys_stream")
          core.fail("compact.sealed")
          core.writeMarker(spark, dir, marker)
          spark.read.parquet(s"$dir/keys").count()
      }
    }

  /** Gate an incoming batch against the COMMITTED index: (idCol,
    * bloom_hit, exact_dup) — bit-identical to `Bloom.gate` over the
    * corpus the index was built from (same probe arithmetic, same
    * key-join ground truth), with no corpus scan anywhere in the
    * plan: the bitmap is a bounded driver read, the key table is one
    * md5 per unique indexed doc.
    */
  def gate(batch: DataFrame, idCol: String, keyExpr: Column,
      dir: String): DataFrame = {
    val (meta, bitmap, keys) = gateParts(batch.sparkSession, dir)
    val kb = Bloom.keyed(batch, idCol, keyExpr)
    kb.withColumn("bloom_hit", BloomContains.bloom_contains(
        bitmap, col("h1"), col("h2"), meta.k, meta.mBits))
      .join(keys.withColumn("__in_corpus", lit(true)),
        Seq("key"), "left")
      .select(col("id").as(idCol), col("bloom_hit"),
        coalesce(col("__in_corpus"), lit(false)).as("exact_dup"))
  }

  /** The committed gate state — (meta, bitmap, keys) with any
    * un-compacted streaming segment folded in at read time: the
    * segment's partial bitmap ORs into the committed one (the OR of
    * two bitmaps IS the bitmap of the unioned corpus — probe-identical
    * to a rebuild over corpus + ingested), its keys union the
    * exact-verify side; work linear in segment size, retired by
    * [[compact]]. Shared by [[gate]] and `StreamingOps.ingestGates`'
    * exact leg, so the two front doors cannot drift.
    */
  def gateParts(spark: SparkSession, dir: String)
      : (Meta, Array[Byte], DataFrame) = {
    val meta = paramsOf(core.committed(spark, dir), dir)
    val committed = loadBitmap(spark, dir)
    val seg = segment(spark, dir)
    val bitmap = seg.fold(committed)(sg =>
      orBits(sg.withColumn("id", lit(0L)), meta)(committed))
    val keys = seg match {
      case None => spark.read.parquet(s"$dir/keys")
      case Some(sg) => spark.read.parquet(s"$dir/keys")
        .unionByName(sg.select(col("key"))).distinct()
    }
    (meta, bitmap, keys)
  }

  /** Break a crashed writer's stale lease ([[IndexFs.breakLease]]);
    * None = no committed marker, rebuild before use.
    */
  def breakLease(spark: SparkSession, dir: String,
      staleMillis: Long = IndexFs.DefaultStaleMillis): Option[String] =
    core.breakLease(spark, dir, staleMillis)
}
