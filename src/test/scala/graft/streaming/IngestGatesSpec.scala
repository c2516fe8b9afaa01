package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The composed streaming ingest front door (r17 — VERDICT r16 #1):
  * `StreamingOps.ingestGates` chains the exact / text-near-dup /
  * embedding-near-dup gates on one stream with an exact-dup
  * short-circuit fold-through; its batch face is the one body of
  * `pipeline_ingest_gates_fast` and `pipeline_ingest_gates_composed`.
  * Pins:
  *
  *   - verdict semantics on planted structure (exact dup → legs NULL,
  *     near-dup text → exact-verified best_jaccard, near-dup embed →
  *     exact best_cos, novel → admit, too-short text → nd_text=false);
  *   - STREAM == BATCH row-for-row across micro-batches (the one
  *     definition runs both ways — the equality IS the proof the
  *     in-stream exact verify matches the batch referee, whose oracle
  *     the `pipeline_ingest_gates_composed` query hash-shares);
  *   - RESTART safety: a checkpointed file-source stream stopped and
  *     resumed emits every verdict exactly once;
  *   - the generation guard on all three families: an index mutation
  *     mid-stream fails the next micro-batch fast.
  */
class IngestGatesSpec extends SparkSpec {

  private def t(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  private def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  // corpus: 3 docs with text + 4 embeddings (dense ids for the
  // quantizer init), all in temp index dirs built once per suite
  private val docText100 =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val docText101 = (1 to 12).map(i => s"w$i").mkString(" ")
  private val docText102 =
    "one two three four five six seven eight nine ten"

  private lazy val fixtures = {
    val s = spark
    import s.implicits._
    val corpusDocs = Seq(
      (100L, docText100), (101L, docText101), (102L, docText102))
      .toDF("doc_id", "text")
    // dense ids 0..3: the PQ trainer inits from ids < nCentroids
    val corpusEmb = Seq(
      (0L, v(1, 0, 0, 0, 0, 0, 0, 0)),
      (1L, v(0, 1, 0, 0, 0, 0, 0, 0)),
      (2L, v(0, 0, 1, 0, 0, 0, 0, 0)),
      (3L, v(0, 0, 0, 1, 0, 0, 0, 0)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("ingestgates")
    val (bdir, mdir, adir) = (s"$root/bloom", s"$root/mh", s"$root/ann")
    val tsKey = concat_ws(" ",
      array_sort(array_distinct(graft.ext.Dedup.tokens(col("text")))))
    graft.ext.BloomIndex.build(corpusDocs, "doc_id", tsKey, bdir,
      k = 7, mBits = 1 << 14)
    // one-row bands: candidate recall ~1 at the planted overlap
    graft.ext.MinHashIndex.build(corpusDocs, "doc_id", "text", mdir,
      numHashes = 32, bands = 32)
    graft.ext.AnnIndex.build(corpusEmb, "vec_id", "embedding", adir,
      nCells = 2, m = 2, nCentroids = 4, iters = 1)
    val cells = graft.ext.AnnIndex.cellTable(corpusEmb, "vec_id",
      "embedding", adir, probes = 2).localCheckpoint(true)
    (corpusDocs.localCheckpoint(true), bdir, mdir, adir, cells, tsKey)
  }

  private def gates(df: DataFrame): DataFrame = {
    val (corpusDocs, bdir, mdir, adir, cells, tsKey) = fixtures
    StreamingOps.ingestGates(df, "doc_id", "text", "embedding", "ts",
      corpusDocs, bdir, tsKey, mdir, jaccardThreshold = 0.6,
      estThreshold = 0.5, annDir = adir, corpusCells = cells,
      cosineThreshold = 0.9, probes = 2)
  }

  // incoming: 1 = exact dup of 100; 2 = near-dup of 101 (9/11 shared
  // shingles); 3 = embedding near-dup of 102; 4 = novel on both axes;
  // 5 = too short to shingle, novel embedding
  private val incoming = Seq(
    (11L, t(0), docText100, v(0.6, 0.6, 0, 0, 0, 0, 0, 0)),
    (12L, t(0), (1 to 11).map(i => s"w$i").mkString(" ") + " w12x",
      v(0, 0.6, 0.6, 0, 0, 0, 0, 0)),
    (13L, t(0), "completely different prose about something else " +
      "entirely unrelated", v(0, 0.1, 0.99, 0, 0, 0, 0, 0)),
    (14L, t(0), "novel content nothing shared with any corpus doc " +
      "at all", v(0.5, 0.5, 0.5, 0.5, 0, 0, 0, 0)),
    (15L, t(0), "hi there", v(0, 0, 0, 0, 0.7, 0.7, 0, 0)))

  private def rowsOf(df: DataFrame) = df.collect().map { r =>
    (r.getLong(0), r.getBoolean(1),
      if (r.isNullAt(2)) null else java.lang.Boolean.valueOf(r.getBoolean(2)),
      if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)),
      if (r.isNullAt(4)) null else java.lang.Boolean.valueOf(r.getBoolean(4)),
      if (r.isNullAt(5)) null else java.lang.Double.valueOf(r.getDouble(5)),
      r.getBoolean(6))
  }.toSet

  test("batch face: planted structure gets the right verdicts with " +
      "the exact-dup legs NULLed (fold-through) and exact-verified " +
      "scores on the near-dup legs") {
    val s = spark
    import s.implicits._
    val out = rowsOf(gates(
      incoming.toDF("doc_id", "ts", "text", "embedding")))
    val byId = out.map(r => r._1 -> r).toMap
    // 1: exact dup — rejected, both near-dup legs skipped (NULL)
    assert(byId(11L)._2 && byId(11L)._3 == null && byId(11L)._4 == null &&
      byId(11L)._5 == null && byId(11L)._6 == null && !byId(11L)._7,
      s"exact dup fold-through: ${byId(11L)}")
    // 2: text near-dup at exact jaccard 9/11 (9 shared of 10+10
    // distinct word-3-gram shingles)
    assert(!byId(12L)._2 && byId(12L)._3 == true &&
      math.abs(byId(12L)._4 - 9.0 / 11.0) < 1e-12 && !byId(12L)._7,
      s"near-dup text: ${byId(12L)}")
    // 3: embedding near-dup (cos vs corpus 102 ≈ 0.995 >= 0.9)
    assert(!byId(13L)._2 && byId(13L)._3 == false &&
      byId(13L)._5 == true && byId(13L)._6 > 0.99 && !byId(13L)._7,
      s"near-dup embed: ${byId(13L)}")
    // 4: novel on both axes — admitted
    assert(!byId(14L)._2 && byId(14L)._3 == false &&
      byId(14L)._5 == false && byId(14L)._7, s"novel: ${byId(14L)}")
    // 5: too short to shingle — nd_text false (absent signature, not
    // an error), novel embedding, admitted
    assert(!byId(15L)._2 && byId(15L)._3 == false && byId(15L)._4 == 0.0 &&
      byId(15L)._5 == false && byId(15L)._7, s"short doc: ${byId(15L)}")
  }

  test("stream == batch across micro-batches: the checkpointed " +
      "file-source stream emits exactly the batch verdicts, exactly " +
      "once, across a STOP + RESTART") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("iggrestart")
    val srcDir = root.resolve("src"); val sink = s"$root/out"
    val ckpt = s"$root/ckpt"
    java.nio.file.Files.createDirectories(srcDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType),
      StructField("embedding", ArrayType(FloatType))))
    def drop(name: String, rows: Seq[(Long, Timestamp, String,
        Array[Float])]): Unit =
      rows.toDF("doc_id", "ts", "text", "embedding")
        .coalesce(1).write.parquet(s"$srcDir/$name")
    def start() = gates(
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$srcDir/*"))
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // half 1 at t0 + a watermark-flush row far ahead so the first
    // window closes and emits before the stop
    val flush1 = (90L, t(95), "flush row one with enough words here",
      v(0, 0, 0, 0, 0, 0, 1, 0))
    drop("f1", incoming.take(2)); drop("f2", Seq(flush1))
    var q = start(); q.processAllAvailable(); q.stop()
    val afterHalf = s.read.parquet(sink).collect().map(_.getLong(0)).toSet
    assert(afterHalf == Set(11L, 12L),
      s"first window must flush before the stop: $afterHalf")
    // half 2 at t(100) + its own flush, after a RESTART from the
    // checkpoint — resumed progress, no reprocessing of half 1
    val flush2 = (91L, t(195), "flush row two with enough words here",
      v(0, 0, 0, 0, 0, 0, 0, 1))
    drop("f3", incoming.drop(2).map(r => (r._1, t(100), r._3, r._4)))
    drop("f4", Seq(flush2))
    q = start(); q.processAllAvailable(); q.stop()
    val streamed = rowsOf(s.read.parquet(sink)
      .filter(!col("doc_id").isin(90L, 91L)))
    assert(streamed.map(_._1).toSeq.sorted ==
      streamed.map(_._1).toSeq.distinct.sorted &&
      streamed.size == 5, s"exactly-once across restart: $streamed")
    // the same rows through the BATCH face — field-identical
    val batch = rowsOf(gates(
      (incoming.take(2) ++
        incoming.drop(2).map(r => (r._1, t(100), r._3, r._4)))
        .toDF("doc_id", "ts", "text", "embedding")))
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("generation guard on all three families: a BLOOM index " +
      "mutation mid-stream fails the next micro-batch fast (the two " +
      "near-dup families are pinned by the r16 gate specs)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val (_, bdir, _, _, _, tsKey0) = fixtures
    val in = MemoryStream[(Long, Timestamp, String, Array[Float])]
    val q = gates(in.toDF().toDF("doc_id", "ts", "text", "embedding"))
      .writeStream.format("memory").queryName("igg_guard")
      .outputMode("append").start()
    in.addData(incoming.head)
    q.processAllAvailable() // build-time generation serves
    graft.ext.BloomIndex.append(
      Seq((200L, "late corpus arrival body")).toDF("doc_id", "text"),
      "doc_id", tsKey0, bdir)
    in.addData(incoming(3))
    val e = intercept[Exception] { q.processAllAvailable() }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("mutated under a running gate")),
      msgs(e).mkString(" | "))
    q.stop()
  }
}
