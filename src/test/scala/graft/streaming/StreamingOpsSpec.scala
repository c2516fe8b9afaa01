package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

case class RawEvent(event_id: Long, ts: Timestamp, event_type: String,
    value: Double)

class StreamingOpsSpec extends SparkSpec {

  private def t(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("reference RuleSet runs unchanged over a stream") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[RawEvent]
    val out = StreamingOps.transformStream(in.toDF(),
      Seq(("_filter:big", "eval: src[value] >= 10"),
          ("Id", "src[event_id]"),
          ("Kind", "constant:stream")))
    val q = out.writeStream.format("memory").queryName("etl_stream")
      .outputMode("append").start()
    in.addData(RawEvent(1, t(0), "click", 5.0),
      RawEvent(2, t(1), "view", 15.0))
    q.processAllAvailable()
    val rows = s.sql("SELECT Id, Kind FROM etl_stream").collect()
      .map(r => (r.getString(0), r.getString(1)))
    q.stop()
    assert(rows.toSet == Set(("2", "stream")))
  }

  test("eval2: extended filters stream for free (stateless) — stream " +
      "output equals the batch transform on the same rows") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val rules = Seq(
      ("_filter:x", "eval2: !(src[event_type] == click) && " +
        "(src[value] >= 10 || src[event_type] == ping)"),
      ("Id", "src[event_id]"),
      ("Kind", "src[event_type]"))
    val rows = Seq(
      RawEvent(1, t(0), "click", 50.0), // negated: dropped
      RawEvent(2, t(1), "view", 15.0),  // value >= 10: kept
      RawEvent(3, t(2), "ping", 1.0),   // ping disjunct: kept
      RawEvent(4, t(3), "view", 2.0),   // neither: dropped
      RawEvent(5, t(4), "scan", 1.0))   // NaN-ish numeric leaf paths
    val in = MemoryStream[RawEvent]
    val q = StreamingOps.transformStream(in.toDF(), rules)
      .writeStream.format("memory").queryName("eval2_stream")
      .outputMode("append").start()
    in.addData(rows.take(2): _*)
    q.processAllAvailable()
    in.addData(rows.drop(2): _*)
    q.processAllAvailable()
    val streamed = s.sql("SELECT Id, Kind FROM eval2_stream")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    val batch = graft.etl.Engine.transform(rows.toDF(), rules)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == batch && batch == Set(("2", "view"), ("3", "ping")),
      s"stream=$streamed batch=$batch")
  }

  test("_join: over a stream is a stream-static join; _type: rejects " +
      "with a contextual error (bounded-scan validation)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val lookup = Seq(("click", "UI"), ("view", "UI2")).toDF("K", "Cat")
    val in = MemoryStream[RawEvent]
    val out = StreamingOps.transformStream(in.toDF(), Seq(
      "_join:Kinds" -> "src[event_type] == other[K]",
      "Id" -> "src[event_id]",
      "Cat" -> "src[Cat]"), sheets = Map("Kinds" -> lookup))
    val q = out.writeStream.format("memory").queryName("etl_js")
      .outputMode("append").start()
    in.addData(RawEvent(1, t(0), "click", 5.0),
      RawEvent(2, t(1), "scroll", 1.0)) // scroll: no match, drops
    q.processAllAvailable()
    val rows = s.sql("SELECT Id, Cat FROM etl_js").collect()
      .map(r => (r.getString(0), r.getString(1)))
    q.stop()
    assert(rows.toSet == Set(("1", "UI")))
    val e = intercept[graft.etl.dsl.Ast.DslError] {
      StreamingOps.transformStream(in.toDF(), Seq(
        "_type:event_type" -> "nonempty", "Id" -> "src[event_id]"))
    }
    assert(e.message.contains("streaming"), e.message)
  }

  test("file-source stream: RuleSet over a growing CSV directory") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("fstream")
    def drop(name: String, rows: String): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        s"id,amount\n$rows".getBytes)
    drop("b1.csv", "1,5\n2,20")
    val schema = org.apache.spark.sql.types.StructType(
      Seq("id", "amount").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.StringType)))
    val stream = s.readStream.schema(schema).option("header", true)
      .csv(dir.toString)
    val q = StreamingOps.transformStream(stream,
        Seq(("_filter:big", "eval: src[amount] >= 10"),
            ("Id", "src[id]")))
      .writeStream.format("memory").queryName("file_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    drop("b2.csv", "3,30\n4,1")
    q.processAllAvailable()
    val ids = s.sql("SELECT Id FROM file_stream").collect()
      .map(_.getString(0)).toSet
    q.stop()
    assert(ids == Set("2", "3"))
  }

  test("exactly-once parquet sink: a REPLAYED micro-batch (checkpoint " +
      "restored to before the sink's commit record) is deduplicated " +
      "by the sink's metadata log, progress continues afterwards, and " +
      "orphan part-files (a crash between task write and sink commit) " +
      "are invisible to readers") {
    val s = spark
    import java.nio.file.{Files => F, Path, Paths, StandardCopyOption}
    def copyDir(from: Path, to: Path): Unit = {
      val it = F.walk(from).iterator()
      while (it.hasNext) {
        val p = it.next()
        val t = to.resolve(from.relativize(p).toString)
        if (F.isDirectory(p)) F.createDirectories(t)
        else F.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    def deleteDir(d: Path): Unit = {
      val it = F.walk(d).sorted(java.util.Comparator.reverseOrder())
        .iterator()
      while (it.hasNext) F.delete(it.next())
    }
    val root = F.createTempDirectory("eonce")
    val srcDir = F.createDirectory(root.resolve("src"))
    val sink = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType)))
    def drop(name: String, rows: String): Unit =
      F.write(srcDir.resolve(name), s"id\n$rows".getBytes)
    def start() = s.readStream.schema(schema).option("header", true)
      .csv(srcDir.toString)
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    drop("a.csv", "1\n2")
    var q = start(); q.processAllAvailable(); q.stop()
    // snapshot the checkpoint as of batch 0's commit
    val snap = root.resolve("ckpt_snap")
    copyDir(ckpt, snap)
    drop("b.csv", "3\n4")
    q = start(); q.processAllAvailable(); q.stop()
    assert(s.read.parquet(sink).count() == 4)
    // the crash window: the SINK committed batch 1 to _spark_metadata
    // but the checkpoint's commit log "lost" it — restore the old
    // checkpoint, so restart must re-plan the b.csv batch with the
    // same batch id
    deleteDir(ckpt); copyDir(snap, ckpt)
    q = start(); q.processAllAvailable()
    assert(s.read.parquet(sink).count() == 4,
      "replayed batch must be deduplicated by the sink metadata log")
    // and the stream still makes progress after the dedup
    drop("c.csv", "5"); q.processAllAvailable(); q.stop()
    assert(s.read.parquet(sink).count() == 5)
    // orphan part-file: a task wrote data but the batch never
    // committed — readers go through the metadata log, so the file
    // is invisible (no double counting)
    val part = new java.io.File(sink).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    F.copy(part, Paths.get(sink,
      "part-99999-orphan.c000.snappy.parquet"))
    assert(s.read.parquet(sink).count() == 5,
      "orphan files outside the sink log must not be read")
  }

  test("runMappingStream: Map-sheet rules, csv dir -> parquet sink " +
      "with checkpoint, across restarts") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("smap")
    val srcDir = java.nio.file.Files.createDirectory(root.resolve("src"))
    // an ACTUAL Map sheet, read the same way RunMappingCli reads it
    java.nio.file.Files.write(root.resolve("Map.csv"),
      ("h,instruction\n" +
        "// promote big rows,\n" +
        "_filter:big,eval: src[amount] >= 10\n" +
        "Id,src[id]\n" +
        "Origin,constant:stream\n" +
        "Amount2,formula:src[amount]0\n").getBytes)
    val mapRules = graft.etl.Engine
      .readSheetCsv(s, root.resolve("Map.csv").toString)
      .collect().toSeq.map { r =>
        (Option(r.get(0)).map(_.toString).getOrElse(""),
         if (r.size > 1) Option(r.get(1)).map(_.toString).getOrElse("")
         else "")
      }
    def drop(name: String, rows: String): Unit =
      java.nio.file.Files.write(srcDir.resolve(name),
        s"id,amount\n$rows".getBytes)
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    drop("b1.csv", "1,5\n2,20")
    val q1 = StreamingOps.runMappingStream(s, srcDir.toString,
      Seq("id", "amount"), mapRules, out, ckpt)
    q1.processAllAvailable(); q1.stop()
    // restart from the checkpoint; only the NEW file is processed
    drop("b2.csv", "3,30\n4,1")
    val q2 = StreamingOps.runMappingStream(s, srcDir.toString,
      Seq("id", "amount"), mapRules, out, ckpt)
    q2.processAllAvailable(); q2.stop()
    val got = s.read.parquet(out)
      .select("Id", "Origin", "Amount2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("2", "stream", "200"), ("3", "stream", "300")))
    // self[] rejected with a contextual message before start()
    val e = intercept[graft.etl.dsl.Ast.DslError] {
      StreamingOps.runMappingStream(s, srcDir.toString,
        Seq("id", "amount"),
        Seq(("Row", "formula:self[A]")), out, ckpt)
    }
    assert(e.getMessage.contains("unbounded stream"))
  }

  test("gopher quality gate runs unchanged over a stream (stateless " +
      "column expression, no watermark needed)") {
    val s = spark
    import s.implicits._
    val src = java.nio.file.Files.createTempDirectory("gq").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "b1.csv"),
      ("text\n" +
        "the quick brown fox jumps over a lazy dog\n" +  // gq = 1.0
        "1 2 3 4 5 6 7 8 the of\n").getBytes)            // gq = 0.5
    val stream = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("header", true).csv(src)
    val gated = stream.filter(
      graft.ext.TextAnalysis.gopherScore(org.apache.spark.sql.functions
        .col("text")) >= 0.75)
    val q = gated.writeStream.format("memory").queryName("gq_gate")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.sql("SELECT text FROM gq_gate").collect().map(_.getString(0))
    assert(got.toSeq == Seq("the quick brown fox jumps over a lazy dog"))
  }

  test("resolveCheckpoint: migrates a legacy output-keyed checkpoint; " +
      "re-pointed source over a committed sink log fails loudly") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("sckpt")
    val srcDir = java.nio.file.Files.createDirectory(root.resolve("src"))
    java.nio.file.Files.write(srcDir.resolve("b1.csv"),
      "id,amount\n1,5\n2,20".getBytes)
    val rules = Seq(("Id", "src[id]"))
    val out = root.resolve("out").toString
    // simulate a PRE-KEYING deployment: checkpoint at _checkpoint/out
    val legacy = root.resolve("_checkpoint").resolve("out")
    val q1 = StreamingOps.runMappingStream(s, srcDir.toString,
      Seq("id", "amount"), rules, out, legacy.toString)
    q1.processAllAvailable(); q1.stop()
    // upgrade: resolveCheckpoint renames the legacy dir to the keyed
    // path, so the resumed stream keeps its batch-id progress …
    val keyed = StreamingOps.resolveCheckpoint(root.toString, "src", "out")
    assert(keyed.endsWith("src__out"))
    assert(!java.nio.file.Files.exists(legacy))
    java.nio.file.Files.write(srcDir.resolve("b2.csv"),
      "id,amount\n3,30".getBytes)
    val q2 = StreamingOps.runMappingStream(s, srcDir.toString,
      Seq("id", "amount"), rules, out, keyed)
    q2.processAllAvailable(); q2.stop()
    // … no skipped and no double-read batches across the migration
    val got = s.read.parquet(out).collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("1", "2", "3"))
    // re-pointing `source` keeping the same committed `output` must
    // not silently restart batch ids over the sink log — loud failure
    val e = intercept[IllegalStateException] {
      StreamingOps.resolveCheckpoint(root.toString, "src2", "out")
    }
    assert(e.getMessage.contains("sink log"))
    // a genuinely fresh pairing (new output) resolves fine
    assert(StreamingOps.resolveCheckpoint(root.toString, "src2", "out2")
      .endsWith("src2__out2"))
  }

  test("resolveCheckpoint: refuses to migrate a legacy checkpoint " +
      "recorded against a DIFFERENT source") {
    // the pre-keying layout cannot encode the source, so migration
    // must verify the FileStreamSource log's recorded paths before
    // adopting progress — a checkpoint left by another source writing
    // the same output would otherwise resume foreign batch ids
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("sckpt2")
    val otherSrc = java.nio.file.Files.createDirectory(root.resolve("other"))
    java.nio.file.Files.write(otherSrc.resolve("b1.csv"),
      "id,amount\n1,5".getBytes)
    val legacy = root.resolve("_checkpoint").resolve("out")
    val q = StreamingOps.runMappingStream(s, otherSrc.toString,
      Seq("id", "amount"), Seq(("Id", "src[id]")),
      root.resolve("out").toString, legacy.toString)
    q.processAllAvailable(); q.stop()
    // the legacy checkpoint's log records paths under other/, so
    // resolving for source 'src' must refuse loudly...
    val e = intercept[IllegalStateException] {
      StreamingOps.resolveCheckpoint(root.toString, "src", "out")
    }
    assert(e.getMessage.contains("DIFFERENT source"))
    assert(java.nio.file.Files.exists(legacy), "refusal must not move it")
    // ...while the true owner still migrates cleanly
    assert(StreamingOps.resolveCheckpoint(root.toString, "other", "out")
      .endsWith("other__out"))
    assert(!java.nio.file.Files.exists(legacy))
  }

  test("streaming curation (gate + dedup) over micro-batches equals " +
      "the batch result, across a checkpointed restart") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("scurate")
    val srcDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val good1 = "the quick brown fox jumps over a lazy dog near the river"
    val good2 = "a small band of travelers crossed the old stone bridge at dawn"
    val good3 = "her garden was full of bright flowers and the air smelled sweet"
    val bad = "1 2 3 4 5 6 7 8 9 10 11 12"
    def write(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(srcDir.resolve(name),
        ("text\n" + rows.mkString("\n")).getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def stream() = StreamingOps.curateStream(
      s.readStream.schema(schema).option("header", true)
        .option("maxFilesPerTrigger", 1).csv(srcDir.toString), "text")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    // epoch 1: two micro-batches; good1 duplicated ACROSS batches —
    // only the state store can catch that
    write("b1.csv", Seq(good1, bad))
    write("b2.csv", Seq(good2, good1))
    val q1 = stream(); q1.processAllAvailable(); q1.stop()
    // epoch 2 after a RESTART: a dup of epoch-1 content plus fresh
    // rows — admitted state must survive via the checkpoint
    write("b3.csv", Seq(good3, good2, bad))
    val q2 = stream(); q2.processAllAvailable(); q2.stop()
    val streamed = s.read.parquet(out).collect()
      .map(_.getString(0)).sorted.toSeq
    // batch reference: the SAME operator over all files at once
    val batch = StreamingOps.curateStream(
      s.read.schema(schema).option("header", true).csv(srcDir.toString),
      "text").collect().map(_.getString(0)).sorted.toSeq
    assert(streamed == batch)
    assert(streamed == Seq(good2, good1, good3).sorted,
      "gate drops the low-quality rows; dedup admits each text once")
  }

  test("lmGate: model-based keep flags on a stream equal the batch " +
      "run — trained bigram table as a stream-static broadcast join") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    // reference corpus -> the static model (batch-trained once)
    val ref = Seq(
      "the cat sat on the mat",
      "the dog sat on the rug",
      "a cat and a dog").toDF("text")
    val bigrams = StreamingOps.lmTrainBigrams(ref, "text")
    // docs: mostly-known bigrams (keep), mostly-novel (drop), exactly
    // at the 80% boundary, and a no-bigram doc (no output row)
    val docs = Seq(
      (1L, t(0), "the cat sat on the rug"),         // all 5 known
      (2L, t(1), "quantum flux capacitors hum"),     // 0 of 3 known
      (3L, t(2), "the cat sat on the mat quietly"),  // 5 of 6 -> 83%
      (4L, t(3), "word"),                            // no bigrams
      (5L, t(95), "flush event far in the future"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingOps.lmGate(
        in.toDF().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", bigrams)
      .writeStream.format("memory").queryName("lm_stream")
      .outputMode("append").start()
    // two micro-batches; the late flush row advances the watermark so
    // the first windows close and emit
    in.addData(docs.take(2).map(d => (d._1, d._2, d._3)): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2).map(d => (d._1, d._2, d._3)): _*)
    q.processAllAvailable()
    val streamed = s.sql(
        "SELECT doc_id, n_bigrams, n_known, lm_keep FROM lm_stream")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    q.stop()
    // batch reference: the SAME operator over the same rows
    val batch = StreamingOps.lmGate(
        docs.toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", bigrams)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    // the flush doc's window never closes on the stream — compare the
    // emitted horizon
    assert(streamed == batch.filter(_._1 != 5L))
    assert(streamed == Set((1L, 5L, 5L, true), (2L, 3L, 0L, false),
      (3L, 6L, 5L, true)), "keep iff >= 80% of bigrams known; " +
      "bigram-less docs emit nothing")
  }

  test("knGate: stream KN scores equal batch KneserNey.docScores " +
      "doc-for-doc; bigram-less docs emit nothing") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val ref = Seq((0L, "a b a b a c"), (1L, "b c a d"))
      .toDF("doc_id", "text")
    val scoredDocs = Seq(
      (10L, "a b c d"),        // seen + backoff mix
      (11L, "x y z"),          // all-novel
      (12L, "solo"))           // no bigrams -> emits nothing
    // batch ground truth: same corpus, refPred = ids < 10
    val corpus = ref.unionByName(scoredDocs.toDF("doc_id", "text"))
    val batch = graft.ext.KneserNey.docScores(corpus, col("doc_id") < 10)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val model = graft.ext.KneserNey.trainModel(ref)
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingOps.knGate(
        in.toDF().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", model)
      .writeStream.format("memory").queryName("kn_stream")
      .outputMode("append").start()
    in.addData(scoredDocs.map { case (id, tx) => (id, t(0), tx) }: _*)
    q.processAllAvailable()
    in.addData((999L, t(95), "flush event far in the future"))
    q.processAllAvailable()
    val streamed = s.sql(
        "SELECT doc_id, n_bigrams, n_known, kn_logq FROM kn_stream " +
        "WHERE doc_id < 999")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    q.stop()
    assert(batch.contains(10L) && batch.contains(11L) &&
      !batch.contains(12L), batch.toString)
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("dsirGate: stream importance weights equal batch Dsir.weights " +
      "doc-for-doc; unseen buckets score the smoothed 0") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val buckets = 64
    // static corpus: target docs carry marker tokens
    val corpus = Seq(
      (100L, "alpha apple anchor the of and", "target"),
      (101L, "alpha apple anchor the of and", "target"),
      (102L, "zulu zebra zenith the of and", "raw"),
      (103L, "zulu zebra zenith the of and", "raw")
    ).toDF("doc_id", "text", "src")
    val isTgt = col("src") === "target"
    val ft = graft.ext.Dsir.featureTable(corpus, isTgt, buckets)
    val Array(tt, tr) = ft.agg(sum("ct"), sum("cr")).collect().head
      .toSeq.map(_.asInstanceOf[Long]).toArray
    // batch weights over the corpus itself = the gate's ground truth
    val batchW = graft.ext.Dsir.weights(corpus, isTgt, buckets)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Seq(
      (100L, t(0), "alpha apple anchor the of and"),  // target-like
      (102L, t(1), "zulu zebra zenith the of and"),   // raw-like
      (200L, t(2), "qqq www eee"),                    // unseen buckets
      (999L, t(95), "flush event far in the future"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingOps.dsirGate(
        in.toDF().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", ft, tt, tr, buckets, minWeight = 0L)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    in.addData(docs.take(3): _*)
    q.processAllAvailable()
    in.addData(docs.drop(3): _*)
    q.processAllAvailable()
    val streamed = s.sql(
        "SELECT doc_id, n_tokens, w, dsir_keep FROM dsir_stream")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    q.stop()
    // corpus docs: stream weight == batch weight exactly
    assert(streamed(100L)._2 == batchW(100L))
    assert(streamed(102L)._2 == batchW(102L))
    // target-like keeps, raw-like drops at threshold 0
    assert(streamed(100L)._3 && !streamed(102L)._3)
    // all-unseen doc: every token scores lr=0, weight = n * perTok
    def bitlen(n: Long) = 64L - java.lang.Long.numberOfLeadingZeros(n)
    assert(streamed(200L)._2 ==
      3L * (bitlen(tr + buckets) - bitlen(tt + buckets)))
    // batch run of the SAME gate matches the stream rows it emitted
    val batchGate = StreamingOps.dsirGate(
        docs.toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", ft, tt, tr, buckets, minWeight = 0L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    assert(streamed == batchGate.view.filterKeys(_ != 999L).toMap)
  }

  test("nearDupGate: stream MinHash-LSH verdicts against a static " +
      "corpus equal the batch run; map-side signature probes the " +
      "same buckets as batch mining") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight nine"),
      (102L, "red orange yellow green blue indigo violet sky"))
      .toDF("doc_id", "text")
    val buckets = StreamingOps.corpusBandBuckets(corpus, "doc_id",
      "text").cache()
    val docs = Seq(
      // exact dup of corpus 100 -> every band hits
      (1L, t(0), "alpha beta gamma delta epsilon zeta eta theta"),
      // near dup of corpus 101 (one word changed) -> some band hits
      (2L, t(1), "one two three four five six seven eight ten"),
      // unrelated -> no hits, keep
      (3L, t(2), "totally novel content nothing shared with corpus"),
      // too short to shingle -> emits nothing
      (4L, t(3), "hi there"),
      (5L, t(95), "watermark flush row far in the future okay"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingOps.nearDupGate(
        in.toDF().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", buckets)
      .writeStream.format("memory").queryName("nd_stream")
      .outputMode("append").start()
    in.addData(docs.take(2).map(d => (d._1, d._2, d._3)): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2).map(d => (d._1, d._2, d._3)): _*)
    q.processAllAvailable()
    val streamed = s.sql(
        "SELECT doc_id, n_bands, n_hit, nd_keep FROM nd_stream")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    q.stop()
    // batch reference: the SAME operator over the same rows
    val batchDf = docs.toDF("doc_id", "ts", "text")
    val batch = StreamingOps.nearDupGate(batchDf,
        "doc_id", "text", "ts", buckets)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(streamed == batch.filter(_._1 != 5L))
    val verdicts = streamed.map(v => v._1 -> v._4).toMap
    assert(verdicts == Map(1L -> false, 2L -> false, 3L -> true),
      "exact dup and near dup flagged, novel doc kept, " +
        s"short doc absent: $streamed")
    assert(streamed.find(_._1 == 1L).get._3 == 8L,
      "an exact dup hits all 8 bands")
    // bit-compatibility: the map-side per-doc hit count equals the
    // BATCH signature family probing the same buckets
    val batchHits = graft.ext.Dedup.minhashSignatures(
        graft.ext.Dedup.shingleRows(batchDf.filter(col("doc_id") < 5),
          "doc_id", "text"), 32)
      .select(col("id"), posexplode(graft.ext.Dedup.bandKeys(8, 4))
        .as(Seq("band", "bk")))
      .join(buckets, Seq("band", "bk"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hit"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val gateHits = batch.filter(v => v._1 < 5 && v._3 > 0)
      .map(v => v._1 -> v._3).toMap
    assert(gateHits == batchHits,
      s"map-side signature diverged from batch: $gateHits vs $batchHits")
  }

  test("annGate: stream embedding near-dup verdicts against the " +
      "committed ANN index equal the batch run; self-matches " +
      "excluded; novel directions keep") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // one near-dup pair (0/1), the rest orthogonal basis vectors
    // (ids dense from 0 — the PQ trainer's init requirement)
    val corpus = Seq(
      (0L, v(1, 0, 0, 0, 0, 0, 0, 0)),
      (1L, v(0.99, 0.1, 0, 0, 0, 0, 0, 0)),
      (2L, v(0, 0, 1, 0, 0, 0, 0, 0)),
      (3L, v(0, 0, 0, 1, 0, 0, 0, 0)),
      (4L, v(0, 0, 0, 0, 1, 0, 0, 0)),
      (5L, v(0, 0, 0, 0, 0, 1, 0, 0)),
      (6L, v(0, 0, 0, 0, 0, 0, 1, 0)),
      (7L, v(0, 0, 0, 0, 0, 0, 0, 1)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("anngate")
      .toString
    graft.ext.AnnIndex.build(corpus, "vec_id", "embedding", dir,
      nCells = 2, m = 2, nCentroids = 4, iters = 1)
    // probes = nCells -> full coverage: the verdict machinery (self
    // exclusion, threshold, fold) is exercised without confinement
    // misses muddying the expected truth
    val cells = graft.ext.AnnIndex.cellTable(corpus, "vec_id",
      "embedding", dir, probes = 2).cache()
    assert(cells.count() == 16, "8 vectors x 2 probed cells")
    val docs = Seq(
      // near-dup of corpus 0 (cos ~0.9988) -> flagged
      (11L, t(0), v(1, 0.05, 0, 0, 0, 0, 0, 0)),
      // corpus member streaming through: its only >=0.9 candidate is
      // ITSELF -> self-exclusion keeps it
      (4L, t(1), v(0, 0, 0, 0, 1, 0, 0, 0)),
      // novel direction: every candidate at cos 1/sqrt(8) -> keep
      (13L, t(2), v(1, 1, 1, 1, 1, 1, 1, 1)),
      (99L, t(95), v(0, 1, 0, 0, 0, 0, 0, 0))) // watermark flush
    val in = MemoryStream[(Long, Timestamp, Array[Float])]
    val q = StreamingOps.annGate(
        in.toDF().toDF("vec_id", "ts", "embedding"),
        "vec_id", "embedding", "ts", cells, dir, threshold = 0.9,
        probes = 2)
      .writeStream.format("memory").queryName("ann_stream")
      .outputMode("append").start()
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*)
    q.processAllAvailable()
    val streamed = s.sql(
        "SELECT vec_id, n_cand, n_hit, ann_keep FROM ann_stream")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    q.stop()
    // batch reference: the SAME operator over the same rows
    val batch = StreamingOps.annGate(
        docs.toDF("vec_id", "ts", "embedding"),
        "vec_id", "embedding", "ts", cells, dir, threshold = 0.9,
        probes = 2)
      .select("vec_id", "n_cand", "n_hit", "ann_keep")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(streamed == batch.filter(_._1 != 99L),
      s"stream $streamed != batch $batch")
    val verdicts = streamed.map(x => x._1 -> x._4).toMap
    assert(verdicts == Map(11L -> false, 4L -> true, 13L -> true),
      s"near-dup flagged, corpus member self-excluded, novel kept: " +
        s"$streamed")
    // full coverage at probes = nCells: every corpus vector is a
    // candidate co-occurrence twice (both cells), minus self rows
    val byId = streamed.map(x => x._1 -> x._2).toMap
    assert(byId(13L) == 16L && byId(4L) == 14L,
      s"co-occurrence counts: $byId")
    // the gate's candidate rule IS the mining rule: corpus-side
    // mining at the same probes finds exactly the 0/1 pair, the
    // same truth the gate reported on doc 11
    val mined = graft.ext.AnnIndex.cosinePairsIndexed(corpus,
        "vec_id", "embedding", dir, 0.9, probes = 2)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mined == Set((0L, 1L)), s"mined=$mined")
    // candidate-less rows report best_cos = 0.0, never NULL — the
    // batch reference (embedAnnFlags) coalesces the same way, so
    // diffing stream vs batch surfaces is field-identical (ADVICE r15)
    val lone = StreamingOps.annGate(
        docs.toDF("vec_id", "ts", "embedding"),
        "vec_id", "embedding", "ts", cells.limit(0), dir,
        threshold = 0.9, probes = 2)
      .select("vec_id", "n_cand", "best_cos", "ann_keep").collect()
    assert(lone.length == docs.length && lone.forall(r =>
      r.getLong(1) == 0L && !r.isNullAt(2) && r.getDouble(2) == 0.0 &&
        r.getBoolean(3)),
      s"candidate-less contract: ${lone.mkString(", ")}")
  }

  test("gate generation guard (r16): an index mutation mid-stream " +
      "fails the NEXT micro-batch fast; marker-preserving compaction " +
      "keeps serving") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val corpus = Seq(
      (0L, v(1, 0, 0, 0, 0, 0, 0, 0)),
      (1L, v(0.99, 0.1, 0, 0, 0, 0, 0, 0)),
      (2L, v(0, 0, 1, 0, 0, 0, 0, 0)),
      (3L, v(0, 0, 0, 1, 0, 0, 0, 0)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("anngateg")
      .toString
    graft.ext.AnnIndex.build(corpus, "vec_id", "embedding", dir,
      nCells = 2, m = 2, nCentroids = 4, iters = 1)
    val cells = graft.ext.AnnIndex.cellTable(corpus, "vec_id",
      "embedding", dir, probes = 2).localCheckpoint(true)
    val in = MemoryStream[(Long, Timestamp, Array[Float])]
    val q = StreamingOps.annGate(
        in.toDF().toDF("vec_id", "ts", "embedding"),
        "vec_id", "embedding", "ts", cells, dir, threshold = 0.9,
        probes = 2)
      .writeStream.format("memory").queryName("ann_guard")
      .outputMode("append").start()
    in.addData((11L, t(0), v(1, 0.05, 0, 0, 0, 0, 0, 0)))
    q.processAllAvailable() // build-time generation serves fine
    // mutate the index under the running gate -> next batch fails
    graft.ext.AnnIndex.append(
      Seq((99L, v(0, 1, 0, 0, 0, 0, 0, 0)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    in.addData((12L, t(1), v(0, 0, 1, 0, 0, 0, 0, 0)))
    val e = intercept[Exception] { q.processAllAvailable() }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("mutated under a running gate")),
      msgs(e).mkString(" | "))
    q.stop()

    // nearDupGate with guardIndexDir: compact() rewrites tables but
    // preserves the marker TEXT (result-invisible by contract), so a
    // running gate keeps serving; a delete() trips the guard
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "mm nn oo pp qq rr ss tt"))
      .toDF("doc_id", "text")
    val mdir = java.nio.file.Files.createTempDirectory("mhgateg")
      .toString + "/idx"
    graft.ext.MinHashIndex.build(docs, "doc_id", "text", mdir)
    val buckets = graft.ext.MinHashIndex.bandBuckets(s, mdir)
      .localCheckpoint(true)
    val in2 = MemoryStream[(Long, Timestamp, String)]
    val q2 = StreamingOps.nearDupGate(
        in2.toDF().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", buckets,
        guardIndexDir = Some(mdir))
      .writeStream.format("memory").queryName("nd_guard")
      .outputMode("append").start()
    in2.addData((10L, t(0), "aa bb cc dd ee ff gg hh"))
    q2.processAllAvailable()
    graft.ext.MinHashIndex.compact(s, mdir) // marker text preserved
    in2.addData((11L, t(1), "mm nn oo pp qq rr ss tt"))
    q2.processAllAvailable() // still serving across compaction
    graft.ext.MinHashIndex.delete(s, mdir, Seq(2L)) // marker changed
    in2.addData((12L, t(2), "aa bb cc dd ee ff gg hh"))
    val e2 = intercept[Exception] { q2.processAllAvailable() }
    assert(msgs(e2).exists(_.contains("mutated under a running gate")),
      msgs(e2).mkString(" | "))
    q2.stop()
  }

  test("winnowGate: map-side fingerprints == batch winnowFingerprints " +
      "row-for-row; stream verdicts equal batch; SWA guarantee gates") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    // differential: HOF fingerprint column vs the batch window pass
    val rnd = new scala.util.Random(13)
    val vocab = Vector("ax", "bx", "cx", "dx", "ex", "fx", "gx", "hx")
    val docs0 = (1L to 30L).map { id =>
      id -> Seq.fill(2 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val ddf = docs0.toDF("doc_id", "text")
    val mapSide = ddf.select(col("doc_id"),
        explode(StreamingOps.winnowFpsCol(col("text"))).as("fp"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batchSide = graft.ext.Dedup
      .winnowFingerprints(ddf, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(mapSide == batchSide,
      s"map-side winnow diverged from batch window pass")

    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val fps = StreamingOps.corpusWinnowFps(corpus, "doc_id", "text")
      .cache()
    val rows = Seq(
      // exact dup of corpus 100 -> every fingerprint hits
      (1L, t(0), "alpha beta gamma delta epsilon zeta eta theta"),
      // shares an 8-token run (k+w-1) with corpus 101 -> SWA
      // guarantees >= 1 hit
      (2L, t(1), "zz one two three four five six seven eight yy"),
      // unrelated -> no hits, keep
      (3L, t(2), "totally novel content nothing shared whatsoever here"),
      // < k tokens -> no fingerprints, emits nothing
      (4L, t(3), "hi there you"),
      (5L, t(95), "watermark flush row far in the future okay fine"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingOps.winnowGate(
        in.toDF().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", fps)
      .writeStream.format("memory").queryName("wn_stream")
      .outputMode("append").start()
    in.addData(rows.take(2).map(d => (d._1, d._2, d._3)): _*)
    q.processAllAvailable()
    in.addData(rows.drop(2).map(d => (d._1, d._2, d._3)): _*)
    q.processAllAvailable()
    val streamed = s.sql(
        "SELECT doc_id, n_fps, n_hit, wn_keep FROM wn_stream")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    q.stop()
    val batch = StreamingOps.winnowGate(
        rows.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", fps)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(streamed == batch.filter(_._1 != 5L))
    val verdicts = streamed.map(v => v._1 -> v._4).toMap
    assert(verdicts == Map(1L -> false, 2L -> false, 3L -> true),
      s"dup and shared-run docs flagged, novel kept, short absent: " +
        s"$streamed")
    // the exact dup hits on EVERY one of its fingerprints
    val d1 = streamed.find(_._1 == 1L).get
    assert(d1._2 == d1._3 && d1._2 > 0)
  }

  test("cdcGate: stream verdicts equal the batch run; an exact corpus " +
      "dup hits on every chunk; novel content keeps") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val shared = "spark join window batch stream sort merge hash key " +
      "table scan row group filter order part small big slow fast"
    val corpus = Seq((100L, shared),
      (101L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val fps = StreamingOps.corpusCdcFps(corpus, "doc_id", "text").cache()
    val rows = Seq(
      (1L, t(0), shared), // exact dup -> every chunk hits
      // embeds the whole corpus-100 text shifted by a prefix: the
      // content-defined boundaries re-align inside the shared run
      (2L, t(1), "zz yy xx " + shared),
      (3L, t(2), "totally novel content nothing shared whatsoever"),
      (4L, t(95), "watermark flush row far in the future okay fine"))
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingOps.cdcGate(in.toDF().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", fps)
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("append").start()
    in.addData(rows.take(2).map(d => (d._1, d._2, d._3)): _*)
    q.processAllAvailable()
    in.addData(rows.drop(2).map(d => (d._1, d._2, d._3)): _*)
    q.processAllAvailable()
    val streamed = s.sql(
        "SELECT doc_id, n_chunks, n_hit, cdc_keep FROM cdc_stream")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    q.stop()
    val batch = StreamingOps.cdcGate(
        rows.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", fps)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(streamed == batch.filter(_._1 != 4L),
      s"stream/batch diverged: $streamed vs $batch")
    val verdicts = streamed.map(v => v._1 -> v._4).toMap
    assert(verdicts(1L) == false && verdicts(3L) == true, streamed)
    val d1 = streamed.find(_._1 == 1L).get
    assert(d1._2 == d1._3 && d1._2 > 0, s"exact dup must hit all: $d1")
    // shifted embed still shares at least one interior chunk
    val d2 = streamed.find(_._1 == 2L).get
    assert(d2._3 > 0 && !d2._4, s"shifted dup must be flagged: $d2")
  }

  test("bloomGate: stateless map-side probe — stream verdicts equal " +
      "the batch run; exact corpus members always hit") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val corpus = Seq((100L, "alpha beta gamma"), (101L, "delta epsilon"),
      (102L, "zeta eta theta")).toDF("doc_id", "text")
    val (k, m) = (7, 1 << 14)
    val bitmap = graft.ext.Bloom.buildBitmap(
      graft.ext.Bloom.positions(
        graft.ext.Bloom.keyed(corpus, "doc_id", col("text")), k, m), m)
    val docs = Seq(
      (1L, "alpha beta gamma"),     // exact corpus member -> must hit
      (2L, "delta epsilon"),        // exact corpus member -> must hit
      (3L, "novel document body"),  // new (may only FP)
      (4L, "another new one"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.bloomGate(in.toDF().toDF("doc_id", "text"),
        "doc_id", col("text"), bitmap, k, m)
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append").start()
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*)
    q.processAllAvailable()
    val streamed = s.sql("SELECT doc_id, bloom_hit FROM bloom_stream")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    q.stop()
    val batch = StreamingOps.bloomGate(docs.toDF("doc_id", "text"),
        "doc_id", col("text"), bitmap, k, m)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // stateless gate: every doc emits exactly once, verdicts identical
    assert(streamed == batch)
    assert(streamed(1L) && streamed(2L), "corpus members must hit")
  }

  test("bloomGate generation-guard parity (r17): with guardIndexDir a " +
      "mid-stream index mutation fails the NEXT micro-batch fast; " +
      "without it the frozen build-time bitmap keeps serving " +
      "(documented)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val corpus = Seq((100L, "alpha beta gamma"), (101L, "delta epsilon"))
      .toDF("doc_id", "text")
    val (k, m) = (7, 1 << 14)
    val dir = java.nio.file.Files.createTempDirectory("bloomgateg")
      .toString + "/idx"
    graft.ext.BloomIndex.build(corpus, "doc_id", col("text"), dir,
      k = k, mBits = m)
    val bitmap = graft.ext.Bloom.buildBitmap(
      graft.ext.Bloom.positions(
        graft.ext.Bloom.keyed(corpus, "doc_id", col("text")), k, m), m)
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    // GUARDED: an append under the running gate trips the next batch
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.bloomGate(in.toDF().toDF("doc_id", "text"),
        "doc_id", col("text"), bitmap, k, m,
        guardIndexDir = Some(dir))
      .writeStream.format("memory").queryName("bloom_guarded")
      .outputMode("append").start()
    in.addData((1L, "alpha beta gamma"))
    q.processAllAvailable() // build-time generation serves fine
    graft.ext.BloomIndex.append(
      Seq((200L, "late arrival body")).toDF("doc_id", "text"),
      "doc_id", col("text"), dir)
    in.addData((2L, "late arrival body"))
    val e = intercept[Exception] { q.processAllAvailable() }
    assert(msgs(e).exists(_.contains("mutated under a running gate")),
      msgs(e).mkString(" | "))
    q.stop()
    // UNGUARDED: same mutation — the gate keeps serving the FROZEN
    // build-time bitmap (a doc only in the appended batch reports
    // no-hit), the documented frozen-by-construction semantics
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.bloomGate(in2.toDF().toDF("doc_id", "text"),
        "doc_id", col("text"), bitmap, k, m)
      .writeStream.format("memory").queryName("bloom_unguarded")
      .outputMode("append").start()
    in2.addData((1L, "alpha beta gamma"), (2L, "late arrival body"))
    q2.processAllAvailable()
    val served = s.sql("SELECT doc_id, bloom_hit FROM bloom_unguarded")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    q2.stop()
    assert(served(1L), "build-time corpus member must hit")
    assert(!served(2L),
      "unguarded gate must serve the FROZEN bitmap (appended doc " +
        "invisible until restart)")
  }

  test("cusumStream: keyed-state running CUSUM across micro-batches " +
      "equals the batch computation; in-batch bursts replay in day " +
      "order") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    def d(i: Int) = java.sql.Date.valueOf(f"2026-01-${i}%02d")
    // history: type a averages 10/day over 4 days, type b 20/day
    val hist = Seq(("a", 1, 8L), ("a", 2, 12L), ("a", 3, 9L),
      ("a", 4, 11L), ("b", 1, 20L), ("b", 2, 20L))
      .map { case (t, i, n) => (t, d(i), n) }
      .toDF("event_type", "day", "n")
    val totals = StreamingOps.cusumTrainTotals(hist)
    assert(totals == Map("a" -> (40L, 4L), "b" -> (40L, 2L)))
    val live = Seq(("a", 5, 14L), ("a", 6, 2L), ("b", 3, 25L),
      ("a", 7, 10L), ("b", 4, 15L))
      .map { case (t, i, n) => StreamingOps.DailyCount(t, d(i), n) }
    val in = MemoryStream[StreamingOps.DailyCount]
    val q = StreamingOps.cusumStream(in.toDS(), totals)
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode("append").start()
    // batch 1 delivers a two-day burst for type a (must sort by day)
    in.addData(live(1), live(0), live(2))
    q.processAllAvailable()
    in.addData(live(3), live(4))
    q.processAllAvailable()
    val streamed = s.sql(
        "SELECT event_type, day, cusum FROM cusum_stream").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      .toSet
    q.stop()
    // reference: same integer scaling, cumulative in day order
    // a: dev(14)=14*4-40=16; dev(2)=2*4-40=-32; dev(10)=0
    // b: dev(25)=25*2-40=10; dev(15)=15*2-40=-10
    assert(streamed == Set(
      ("a", "2026-01-05", 16L), ("a", "2026-01-06", -16L),
      ("a", "2026-01-07", -16L),
      ("b", "2026-01-03", 10L), ("b", "2026-01-04", 0L)))
  }

  test("runMappingStream backpressure: a multi-file backlog drains in " +
      "multiple bounded micro-batches, not one giant catch-up batch") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("sbackp")
    val srcDir = java.nio.file.Files.createDirectory(root.resolve("src"))
    for (i <- 1 to 5)
      java.nio.file.Files.write(srcDir.resolve(s"b$i.csv"),
        s"id,amount\n$i,${i * 10}".getBytes)
    val q = StreamingOps.runMappingStream(s, srcDir.toString,
      Seq("id", "amount"), Seq(("Id", "src[id]")),
      root.resolve("out").toString, root.resolve("ckpt").toString,
      maxFilesPerTrigger = 2)
    q.processAllAvailable(); q.stop()
    // all rows arrive...
    val got = s.read.parquet(root.resolve("out").toString)
      .select("Id").collect().map(_.getString(0)).toSet
    assert(got == Set("1", "2", "3", "4", "5"))
    // ...but across >= ceil(5/2) = 3 batches of <= 2 files (2 rows)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3,
      s"backlog drained in ${batches.length} batches")
    assert(batches.forall(_.numInputRows <= 2),
      batches.map(_.numInputRows).mkString(","))
  }

  test("watermarked windowed aggregation emits per-window counts") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[RawEvent]
    val q = StreamingOps.windowedCounts(in.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("win_stream")
      .outputMode("update").start()
    in.addData(
      RawEvent(1, t(0), "click", 1.0),
      RawEvent(2, t(3), "click", 2.0),
      RawEvent(3, t(12), "view", 4.0))
    q.processAllAvailable()
    val rows = s.sql(
        "SELECT event_type, n, sum_value FROM win_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 4.0)))
  }

  test("stream dedup drops repeated event ids within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[RawEvent]
    val q = StreamingOps.dedupStream(in.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    in.addData(RawEvent(1, t(0), "click", 1.0),
      RawEvent(1, t(1), "click", 1.0), RawEvent(2, t(2), "view", 2.0))
    q.processAllAvailable()
    in.addData(RawEvent(1, t(3), "click", 1.0)) // still a dup
    q.processAllAvailable()
    val n = s.sql("SELECT count(*) FROM dedup_stream").head().getLong(0)
    q.stop()
    assert(n == 2)
  }

  test("flatMapGroupsWithState keeps running totals across batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[StreamingOps.Event]
    val q = StreamingOps.runningUserTotals(in.toDS())
      .writeStream.format("memory").queryName("state_stream")
      .outputMode("update").start()
    in.addData(StreamingOps.Event(1, 10, 1.0), StreamingOps.Event(2, 10, 2.0))
    q.processAllAvailable()
    in.addData(StreamingOps.Event(3, 10, 4.0), StreamingOps.Event(4, 20, 8.0))
    q.processAllAvailable()
    // memory sink in update mode appends each emitted update; the
    // LAST row per user carries the final running total.
    val last = s.sql(
        """SELECT user_id, n, total FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY n DESC) AS rn FROM state_stream) WHERE rn = 1""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(last == Set((10L, 3L, 7.0), (20L, 1L, 8.0)))
  }

  test("asofJoinStream seeded-random differential vs batch " +
      "lastEarlier: dense keys, same-instant version/probe ties, " +
      "one scrambled micro-batch") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    for (seed <- Seq(41, 42)) {
      val rnd = new scala.util.Random(seed)
      // unique (key, ts) versions so the batch operator's payload
      // tie-break can't differ from last-arrival-wins
      val versions = Seq.fill(150)((rnd.nextInt(6).toLong,
          rnd.nextInt(50).toLong, rnd.nextInt(9).toDouble))
        .groupBy(v => (v._1, v._2)).map(_._2.minBy(_._3)).toSeq
        .map { case (k, t, v) => StreamingOps.AsOfVersion(k, t, v) }
      val probes = Seq.fill(200)((rnd.nextInt(6).toLong,
          rnd.nextInt(50).toLong)).zipWithIndex
        .map { case ((k, t), i) => StreamingOps.AsOfProbe(k, t, 1000 + i) }
      val inP = MemoryStream[StreamingOps.AsOfProbe]
      val inV = MemoryStream[StreamingOps.AsOfVersion]
      // everything enqueued BEFORE start: one micro-batch, arrival
      // order scrambled, the (ts, side, probe_id) sort must recover
      // event order including same-instant version-before-probe
      inP.addData(rnd.shuffle(probes): _*)
      inV.addData(rnd.shuffle(versions): _*)
      val name = s"asof_ss_rand$seed"
      val q = StreamingOps.asofJoinStream(inP.toDS(), inV.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      q.processAllAvailable()
      val streamed = s.sql(
          s"SELECT probe_id, match_ts, match_value FROM $name")
        .collect().map(r => (r.getLong(0),
          Option(r.get(1)), Option(r.get(2)))).toSet
      q.stop()
      val batch = graft.operators.AsOfJoin.lastEarlier(
          probes.toDF().withColumnRenamed("ts", "pts"),
          versions.toDF(), "key", "pts", "ts", Seq("value"))
        .select(col("probe_id"), col("asof.ts"), col("asof.value"))
        .collect().map(r => (r.getLong(0),
          Option(r.get(1)), Option(r.get(2)))).toSet
      assert(streamed == batch, s"seed $seed diverged: " +
        s"onlyStream=${streamed -- batch} onlyBatch=${batch -- streamed}")
    }
  }

  test("asofJoinStream: version state survives a checkpointed " +
      "RESTART — an epoch-2 probe matches an epoch-1 version only " +
      "the persisted state store can supply") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("ssasof")
    val pDir = java.nio.file.Files.createDirectory(root.resolve("p"))
    val vDir = java.nio.file.Files.createDirectory(root.resolve("v"))
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def write(dir: java.nio.file.Path, name: String,
        header: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        (header + "\n" + rows.mkString("\n")).getBytes)
    def stream() = {
      val probes = s.readStream
        .schema("key LONG, ts LONG, probe_id LONG")
        .option("header", true).csv(pDir.toString)
        .as[StreamingOps.AsOfProbe]
      val versions = s.readStream
        .schema("key LONG, ts LONG, value DOUBLE")
        .option("header", true).csv(vDir.toString)
        .as[StreamingOps.AsOfVersion]
      StreamingOps.asofJoinStream(probes, versions)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    // epoch 1: v@10 + probes 5/10/25
    write(vDir, "v1.csv", "key,ts,value", Seq("1,10,1.0"))
    write(pDir, "p1.csv", "key,ts,probe_id",
      Seq("1,5,101", "1,10,102", "1,25,103"))
    val q1 = stream(); q1.processAllAvailable(); q1.stop()
    // epoch 2 after RESTART: probe 105@15 matches ONLY the epoch-1
    // v@10 (held in recovered state); v@30 + probe 104@35 arrive
    // together and must sort version-first
    write(vDir, "v2.csv", "key,ts,value", Seq("1,30,2.0"))
    write(pDir, "p2.csv", "key,ts,probe_id", Seq("1,15,105", "1,35,104"))
    val q2 = stream(); q2.processAllAvailable(); q2.stop()
    val streamed = s.read.parquet(out).collect()
      .map(r => (r.getLong(2), Option(r.get(3)), Option(r.get(4))))
      .toSet
    assert(streamed == Set(
      (101L, None, None),
      (102L, Some(10L), Some(1.0)),
      (103L, Some(10L), Some(1.0)),
      (105L, Some(10L), Some(1.0)), // only recovered state knows v@10
      (104L, Some(30L), Some(2.0))), streamed.toString)
  }

  test("kmvDistinctStream: running estimates are arrival-order " +
      "independent — after any micro-batch split, the latest " +
      "estimate equals the batch kmv_distinct aggregate exactly") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val rnd = new scala.util.Random(7)
    // key a: 3000 distinct (estimator path at k=128); key b: 50 (exact
    // path); duplicates sprinkled in
    val rows = rnd.shuffle(
      (1 to 3000).map(i => StreamingOps.KeyedValue("a", s"va$i")) ++
      (1 to 500).map(i => StreamingOps.KeyedValue("a", s"va${i % 40 + 1}")) ++
      (1 to 80).map(i => StreamingOps.KeyedValue("b", s"vb${i % 50 + 1}")))
    val parts = rows.grouped(1200).toSeq
    val in = MemoryStream[StreamingOps.KeyedValue]
    val q = StreamingOps.kmvDistinctStream(in.toDS())
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("update").start()
    parts.foreach { p => in.addData(p: _*); q.processAllAvailable() }
    // memory sink in update mode appends every emitted update; the
    // row with the max n_rows per key is the final state
    val fin = s.sql(
        """SELECT key, est_distinct FROM (
             SELECT *, row_number() OVER (PARTITION BY key
               ORDER BY n_rows DESC) AS rn FROM kmv_stream)
           WHERE rn = 1""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    val batch = rows.toDF("key", "value").groupBy("key")
      .agg(expr("kmv_distinct(value, 128)").as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fin == batch, s"stream=$fin batch=$batch")
    assert(batch("b") == 50L, "sub-k key must be exact")
    assert(math.abs(batch("a") - 3000L) < 3000 * 0.36)
  }

  test("urlCanon is a stateless map-side projection: stream " +
      "canonicalization equals batch") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val urls = Seq("HTTP://WWW.A.COM:80/x",
      "http://www.a.com/x?utm_source=f", "http://www.a.com/x/#s",
      "http://www.a.com/x", "https://B.com/y/")
    val in = MemoryStream[String]
    val q = in.toDF()
      .select(graft.ext.Dedup.urlCanon(col("value")).as("c"))
      .writeStream.format("memory").queryName("url_stream")
      .outputMode("append").start()
    in.addData(urls: _*)
    q.processAllAvailable()
    val streamed = s.sql("SELECT c FROM url_stream").collect()
      .map(_.getString(0)).sorted
    q.stop()
    val batch = urls.toDF("value")
      .select(graft.ext.Dedup.urlCanon(col("value")).as("c"))
      .collect().map(_.getString(0)).sorted
    assert(streamed.sameElements(batch))
    assert(batch.count(_ == "http://www.a.com/x") == 4,
      "all four messy variants must collapse")
    assert(batch.contains("https://b.com/y"))
    // schemeless/garbage input must pass through, never collapse to
    // the "://" degenerate key
    val junk = Seq("not a url", "www.a.com/x").toDF("value")
      .select(graft.ext.Dedup.urlCanon(col("value")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(junk == Seq("not a url", "www.a.com/x"), junk.toString)
  }

  test("asofJoinStream: stream-stream as-of with O(1) keyed state " +
      "equals batch lastEarlier across scrambled micro-batches; " +
      "inclusive boundary; null before first version") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val probes = Seq(
      StreamingOps.AsOfProbe(1L, 5L, 101),   // before any version
      StreamingOps.AsOfProbe(1L, 10L, 102),  // == version ts: inclusive
      StreamingOps.AsOfProbe(1L, 25L, 103),  // after v10, before v30
      StreamingOps.AsOfProbe(1L, 35L, 104),  // after v30
      StreamingOps.AsOfProbe(2L, 50L, 201))  // keyless side
    val versions = Seq(
      StreamingOps.AsOfVersion(1L, 10L, 1.0),
      StreamingOps.AsOfVersion(1L, 30L, 2.0))
    val inP = MemoryStream[StreamingOps.AsOfProbe]
    val inV = MemoryStream[StreamingOps.AsOfVersion]
    // batch 1 (scrambled, BOTH sides enqueued before start so one
    // micro-batch sees them together and the (ts, side) sort is
    // exercised): v10 + probes 5/10/25
    inP.addData(probes(2), probes(0), probes(1))
    inV.addData(versions(0))
    val q = StreamingOps.asofJoinStream(inP.toDS(), inV.toDS())
      .writeStream.format("memory").queryName("asof_ss")
      .outputMode("append").start()
    q.processAllAvailable()
    // batch 2: v30 lands (and is barriered into state) before the
    // probes that depend on it — the cross-batch arrival contract
    inV.addData(versions(1))
    q.processAllAvailable()
    inP.addData(probes(3), probes(4))
    q.processAllAvailable()
    val streamed = s.sql(
        "SELECT probe_id, match_ts, match_value FROM asof_ss")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)), Option(r.get(2)))).toSet
    q.stop()
    // batch reference: AsOfJoin.lastEarlier over the same data
    val batch = graft.operators.AsOfJoin.lastEarlier(
        probes.toDF().withColumnRenamed("ts", "pts"),
        versions.toDF(), "key", "pts", "ts", Seq("value"))
      .select(col("probe_id"), col("asof.ts"), col("asof.value"))
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)), Option(r.get(2)))).toSet
    assert(streamed == batch,
      s"stream=$streamed\nbatch=$batch")
    assert(streamed.contains((102L, Some(10L), Some(1.0))),
      "same-instant version must match (inclusive)")
    assert(streamed.contains((101L, None, None)) &&
      streamed.contains((201L, None, None)))
  }

  test("patternStream: closed sessions equal the batch events_pattern " +
      "pipeline across micro-batches; open sessions flush when a " +
      "later event closes them") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    implicit val sc = s.sqlContext
    val M = 60L * 1000000 // one minute in us
    // user 1: session 1 = view,click,purchase (hit), then a >30min
    // gap, session 2 = click only (no hit). user 2: one long session
    // view,view,click (no hit: no purchase). In-batch order is
    // scrambled to prove the (us, event_id) sort.
    val evs = Seq(
      StreamingOps.PatternEvent(1L, 101, "view", 0 * M),
      StreamingOps.PatternEvent(1L, 102, "click", 5 * M),
      StreamingOps.PatternEvent(1L, 103, "purchase", 9 * M),
      StreamingOps.PatternEvent(1L, 104, "click", 50 * M),
      StreamingOps.PatternEvent(2L, 201, "view", 0 * M),
      StreamingOps.PatternEvent(2L, 202, "view", 20 * M),
      StreamingOps.PatternEvent(2L, 203, "click", 45 * M))
    // batch reference: the events_pattern window pipeline verbatim
    val batch = evs.toDF()
      .withColumn("gap", col("us") - lag("us", 1).over(
        Window.partitionBy("user_id").orderBy("us", "event_id")))
      .withColumn("is_new", when(col("gap").isNull ||
        col("gap") > 1800000000L, 1).otherwise(0))
      .withColumn("sess", sum("is_new").over(
        Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess")
      .agg(count(lit(1)).as("n_events"),
        array_join(transform(array_sort(collect_list(struct(
          col("us"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ",").as("seq"))
      .select(col("user_id"), col("sess"), col("n_events"),
        col("seq").rlike("view.*click.*purchase").as("hit"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    val in = MemoryStream[StreamingOps.PatternEvent]
    val q = StreamingOps.patternStream(in.toDS())
      .writeStream.format("memory").queryName("pattern_stream")
      .outputMode("append").start()
    // batch 1 scrambled; batch 2 closes user 1's first session
    in.addData(evs(2), evs(0), evs(1), evs(4))
    q.processAllAvailable()
    in.addData(evs(3), evs(5), evs(6))
    q.processAllAvailable()
    def streamed = s.sql(
        "SELECT user_id, sess, n_events, hit FROM pattern_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    // only CLOSED sessions have been emitted: user 1's first
    val open = Set((1L, 2L, 1L, false), (2L, 1L, 3L, false))
    assert(streamed == batch -- open, s"closed-session mismatch: " +
      s"stream=$streamed batch=$batch")
    // a far-future event per user closes the open sessions — the
    // flushed rows complete the exact batch set
    in.addData(StreamingOps.PatternEvent(1L, 901, "view", 1000 * M),
      StreamingOps.PatternEvent(2L, 902, "view", 1000 * M))
    q.processAllAvailable()
    val after = streamed
    q.stop()
    assert(after == batch, s"flush mismatch: stream=$after batch=$batch")
  }

  test("patternStream flushAfterUs: a silent key's open session is " +
      "FLUSHED by the event-time timeout with exactly the row a " +
      "closing event would emit; a reborn key restarts at sess 1") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val M = 1000000L // 1s in us
    val gap = 60 * M
    def ev(u: Long, id: Long, t: String, us: Long) =
      StreamingOps.PatternEvent(u, id, t, us)
    val in = MemoryStream[StreamingOps.PatternEvent]
    val q = StreamingOps.patternStream(in.toDS(), gapUs = gap,
        flushAfterUs = gap)
      .writeStream.format("memory").queryName("pattern_flush")
      .outputMode("append").start()
    // user 2 exists only to advance the watermark; its own sessions
    // close/flush on their own schedule, so assert on user 1 only
    def rows = s.sql(
        "SELECT user_id, sess, n_events, hit FROM pattern_flush " +
        "WHERE user_id = 1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    // user 1 opens a matching session, then goes silent forever;
    // user 2's events advance the watermark past 1's flush deadline
    in.addData(ev(1, 1, "view", 10 * M), ev(1, 2, "click", 11 * M),
      ev(1, 3, "purchase", 12 * M), ev(2, 4, "view", 12 * M))
    q.processAllAvailable()
    assert(rows.isEmpty, "nothing closed yet")
    in.addData(ev(2, 5, "view", 500 * M)) // wm -> 500s after batch
    q.processAllAvailable()
    in.addData(ev(2, 6, "view", 501 * M)) // timer fires at batch start
    q.processAllAvailable()
    // the flushed row is EXACTLY what a closing event would produce
    assert(rows == Set((1L, 1L, 3L, true)), rows.toString)
    // reborn key 1: state was evicted, so numbering restarts at 1 —
    // close the new session with a beyond-gap event to observe it
    in.addData(ev(1, 7, "view", 600 * M))
    q.processAllAvailable()
    in.addData(ev(1, 8, "view", 700 * M))
    q.processAllAvailable()
    q.stop()
    assert(rows == Set((1L, 1L, 3L, true), (1L, 1L, 1L, false)),
      rows.toString)
  }

  test("asofJoinStream evictAfterUs: a key whose version falls " +
      "behind the watermark is evicted and re-enriches as NULL " +
      "until its next version arrives") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val M = 1000000L
    val probes = MemoryStream[StreamingOps.AsOfProbe]
    val versions = MemoryStream[StreamingOps.AsOfVersion]
    val q = StreamingOps.asofJoinStream(probes.toDS(), versions.toDS(),
        evictAfterUs = 60 * M)
      .writeStream.format("memory").queryName("asof_evict")
      .outputMode("append").start()
    def byProbe = s.sql(
        "SELECT probe_id, match_ts, match_value FROM asof_evict")
      .collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2))))
      .toMap
    // live enrichment works
    versions.addData(StreamingOps.AsOfVersion(1L, 10 * M, 1.5))
    probes.addData(StreamingOps.AsOfProbe(1L, 11 * M, 101L))
    q.processAllAvailable()
    assert(byProbe(101L) == (Some(10 * M), Some(1.5)))
    // another key's version pushes the watermark far past key 1's
    // eviction deadline; the following batch fires the timer
    versions.addData(StreamingOps.AsOfVersion(2L, 500 * M, 9.9))
    q.processAllAvailable()
    versions.addData(StreamingOps.AsOfVersion(2L, 501 * M, 9.8))
    q.processAllAvailable()
    // key 1 was evicted: a fresh probe enriches as NULL
    probes.addData(StreamingOps.AsOfProbe(1L, 502 * M, 102L))
    q.processAllAvailable()
    assert(byProbe(102L) == (None, None), byProbe.toString)
    // its next version restores enrichment
    versions.addData(StreamingOps.AsOfVersion(1L, 510 * M, 2.5))
    q.processAllAvailable()
    probes.addData(StreamingOps.AsOfProbe(1L, 511 * M, 103L))
    q.processAllAvailable()
    q.stop()
    assert(byProbe(103L) == (Some(510 * M), Some(2.5)), byProbe.toString)
  }

  test("kmvDistinctStream evictAfterIdleMs: an idle key's sketch is " +
      "dropped (processing-time timeout) and restarts from zero on " +
      "its next arrival") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[StreamingOps.KeyedValue]
    val q = StreamingOps.kmvDistinctStream(in.toDS(),
        evictAfterIdleMs = 1L)
      .writeStream.format("memory").queryName("kmv_evict")
      .outputMode("update").start()
    // ProcessingTimeTimeout makes shouldRunAnotherBatch always true:
    // the engine runs timer-check batches continuously, so
    // processAllAvailable never observes quiescence — poll the sink
    def aRows = s.sql(
        "SELECT n_rows, est_distinct FROM kmv_evict WHERE key = 'a'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def await(cond: => Boolean): Unit = {
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime < deadline) Thread.sleep(50)
      assert(cond, "condition not met within 30s")
    }
    in.addData(StreamingOps.KeyedValue("a", "x"),
      StreamingOps.KeyedValue("a", "y"))
    await(aRows.contains((2L, 2L)))
    // the 1 ms idle deadline passes; the continuously-running timer
    // batches evict key a's sketch well within this sleep
    Thread.sleep(300)
    in.addData(StreamingOps.KeyedValue("a", "x")) // reborn key
    // restart from zero: (1 row, 1 distinct) — NOT (3, 2)
    await(aRows.contains((1L, 1L)))
    q.stop()
    assert(aRows == Set((2L, 2L), (1L, 1L)), aRows.toString)
  }

  test("patternStream flushAfterUs: a user lagging the fastest " +
      "stream's event times by less than the flush horizon is NOT " +
      "dropped as late (watermark delay == horizon)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val M = 1000000L
    val gap = 60 * M
    def ev(u: Long, id: Long, t: String, us: Long) =
      StreamingOps.PatternEvent(u, id, t, us)
    val in = MemoryStream[StreamingOps.PatternEvent]
    val q = StreamingOps.patternStream(in.toDS(), gapUs = gap,
        flushAfterUs = gap)
      .writeStream.format("memory").queryName("pattern_lag")
      .outputMode("append").start()
    def rows = s.sql(
        "SELECT user_id, sess, n_events, hit FROM pattern_lag " +
        "WHERE user_id = 1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    // user 2 races ahead to 200s: watermark after this batch is
    // 200s - 60s = 140s (delay 0 would put it at 200s)
    in.addData(ev(2, 1, "view", 200 * M))
    q.processAllAvailable()
    // user 1 lags at 150-152s — above the delayed watermark, so the
    // whole session survives; with delay 0 it would be silently
    // dropped and the close below would report a 1-event session
    in.addData(ev(1, 2, "view", 150 * M), ev(1, 3, "click", 151 * M),
      ev(1, 4, "purchase", 152 * M))
    q.processAllAvailable()
    // a beyond-gap event closes user 1's session deterministically
    in.addData(ev(1, 5, "view", 300 * M))
    q.processAllAvailable()
    q.stop()
    assert(rows == Set((1L, 1L, 3L, true)), rows.toString)
  }

  test("asofJoinStream evictAfterUs: a key lagging the fastest " +
      "key's event times by less than the eviction horizon still " +
      "enriches (watermark delay == horizon)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val M = 1000000L
    val probes = MemoryStream[StreamingOps.AsOfProbe]
    val versions = MemoryStream[StreamingOps.AsOfVersion]
    val q = StreamingOps.asofJoinStream(probes.toDS(), versions.toDS(),
        evictAfterUs = 60 * M)
      .writeStream.format("memory").queryName("asof_lag")
      .outputMode("append").start()
    def byProbe = s.sql(
        "SELECT probe_id, match_ts, match_value FROM asof_lag")
      .collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2))))
      .toMap
    // key 2 races ahead to 200s: watermark becomes 140s, not 200s
    versions.addData(StreamingOps.AsOfVersion(2L, 200 * M, 9.9))
    q.processAllAvailable()
    // key 1 lags at 150-151s — within the horizon, so its version
    // and probe survive the watermark filter and the probe emits an
    // enriched row; with delay 0 both rows would be dropped and
    // probe 201 would emit NOTHING (violating every-probe-emits)
    versions.addData(StreamingOps.AsOfVersion(1L, 150 * M, 1.5))
    probes.addData(StreamingOps.AsOfProbe(1L, 151 * M, 201L))
    q.processAllAvailable()
    q.stop()
    assert(byProbe(201L) == (Some(150 * M), Some(1.5)),
      byProbe.toString)
  }
}
