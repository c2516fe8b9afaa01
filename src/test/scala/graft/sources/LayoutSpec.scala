package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CompactionSpec extends SparkSpec {

  test("compact collapses small files without changing the data") {
    val s = spark
    import s.implicits._
    val in = Files.createTempDirectory("cin").toString
    val out = Files.createTempDirectory("cout").toString
    (0L until 10000L).map(i => (i, s"row$i")).toDF("id", "v")
      .repartition(64).write.mode("overwrite").parquet(in)
    val rep = Compaction.compact(s, in, out, targetBytes = 1L << 30)
    assert(rep.filesIn == 64)
    assert(rep.filesOut == 1, s"got ${rep.filesOut}")
    val a = s.read.parquet(in)
    val b = s.read.parquet(out)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("run-history retention: one-file-per-run appends compact to a " +
      "single file with identical query results — the documented " +
      "maintenance op for a history table accruing millions of runs") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-histcomp")
    java.nio.file.Files.writeString(dir.resolve("Source.csv"),
      "K,V\n1,a\n2,b\n")
    java.nio.file.Files.writeString(dir.resolve("Map.csv"),
      "out,instr\nVal,src[V]\n")
    (1 to 5).foreach { _ =>
      graft.etl.Engine.runMapping(s, dir.toString,
        graft.etl.EngineConfig(history = "Runs"))
    }
    val histDir = s"$dir/Runs"
    val partsBefore = new java.io.File(histDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(partsBefore == 5, s"one appended file per run: $partsBefore")
    val before = s.read.parquet(histDir)
    val out = s"$dir/RunsCompacted"
    val rep = Compaction.compact(s, histDir, out)
    assert(rep.filesIn == 5 && rep.filesOut == 1, rep.toString)
    val after = s.read.parquet(out)
    assert(after.count() == 5 &&
      before.exceptAll(after).count() == 0 &&
      after.exceptAll(before).count() == 0,
      "compaction must not change a single run record")
  }

  test("run-history growth guard (r15): history_compact_every=N " +
      "compacts the table in place once N one-file runs accrue — " +
      "file count stays bounded at any run cadence, records " +
      "identical; an interrupted swap is recovered on the next run") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-histgrd")
    java.nio.file.Files.writeString(dir.resolve("Source.csv"),
      "K,V\n1,a\n2,b\n")
    java.nio.file.Files.writeString(dir.resolve("Map.csv"),
      "out,instr\nVal,src[V]\n")
    // the Dashboard key parses
    val cfg = graft.etl.EngineConfig.fromKeyValues(Seq(
      "history" -> "Runs", "history_compact_every" -> "3"))
    assert(cfg.historyCompactEvery == 3)
    (1 to 7).foreach { _ =>
      graft.etl.Engine.runMapping(s, dir.toString, cfg)
    }
    val histDir = new java.io.File(s"$dir/Runs")
    def nFiles() = histDir.listFiles()
      .count(_.getName.endsWith(".parquet"))
    // 7 appends with compaction at every 3rd file: never grows past
    // the threshold (compact folds to 1 file; tiny table)
    assert(nFiles() <= 3, s"guard must bound file count: ${nFiles()}")
    assert(s.read.parquet(histDir.getPath).count() == 7,
      "compaction must not lose a run record")
    // interrupted swap: the table vanished mid-compaction, data under
    // __compact_old — the next run restores it and records on top
    assert(histDir.renameTo(new java.io.File(s"$dir/Runs__compact_old")))
    graft.etl.Engine.runMapping(s, dir.toString, cfg)
    assert(s.read.parquet(histDir.getPath).count() == 8,
      "recovery must restore the staged history before recording")
    assert(!new java.io.File(s"$dir/Runs__compact_old").isDirectory)
  }

  /** A run-history sheet dir plus the one record earlier versions
    * appended per run: a one-row Spark write job over the tuple
    * encoding.
    */
  private def historySheets(prefix: String): java.nio.file.Path = {
    val dir = Files.createTempDirectory(prefix)
    Files.writeString(dir.resolve("Source.csv"), "K,V\n1,a\n2,b\n")
    Files.writeString(dir.resolve("Map.csv"), "out,instr\nVal,src[V]\n")
    dir
  }

  private def sparkWrittenRecord(histDir: String, runId: String): Unit = {
    val s = spark
    import s.implicits._
    Seq((runId, 1L, "Source", "Map", "Output", "digest", 2L, 3L, "ok",
        null: String))
      .toDF("run_id", "ts_ms", "source_sheet", "map_sheet",
        "output_sheet", "rules_digest", "rows_out", "duration_ms",
        "status", "error")
      .coalesce(1).write.mode("append").parquet(histDir)
  }

  private def partFiles(histDir: String): Seq[java.io.File] =
    new java.io.File(histDir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))

  /** (parquet message type, Spark row schema) from a file's footer. */
  private def footer(f: java.io.File) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI),
        spark.sparkContext.hadoopConfiguration))
    try {
      val m = r.getFooter.getFileMetaData
      (m.getSchema, org.apache.spark.sql.types.DataType.fromJson(
        m.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")))
    } finally r.close()
  }

  test("run history: a driver-written record has the SAME footer schema " +
      "(parquet types, Spark schema, nullability) as a Spark-written one") {
    val dir = historySheets("graft-histfooter")
    graft.etl.Engine.runMapping(spark, dir.toString,
      graft.etl.EngineConfig(history = "Runs"))
    sparkWrittenRecord(s"$dir/Old", "old")
    val Seq(driverWritten) = partFiles(s"$dir/Runs")
    val Seq(sparkWritten) = partFiles(s"$dir/Old")
    assert(footer(driverWritten) == footer(sparkWritten))
  }

  test("run history: a table mixing Spark-written and driver-written " +
      "records reads back and compacts under the growth guard with no " +
      "record changed") {
    val s = spark
    val dir = historySheets("graft-histmixed")
    val hist = s"$dir/Runs"
    sparkWrittenRecord(hist, "old-1")
    sparkWrittenRecord(hist, "old-2")
    val cfg = graft.etl.EngineConfig(history = "Runs",
      historyCompactEvery = 4)
    graft.etl.Engine.runMapping(s, dir.toString, cfg)
    assert(partFiles(hist).length == 3)
    val before = s.read.parquet(hist).collect().toSet
    assert(before.size == 3)
    // the fourth file trips the guard
    graft.etl.Engine.runMapping(s, dir.toString, cfg)
    assert(partFiles(hist).length == 1)
    val after = s.read.parquet(hist).collect().toSet
    assert(after.size == 4 && before.subsetOf(after),
      s"compaction changed a record: ${before -- after}")
  }

  test("run history: an in-progress record orphaned by a crash is " +
      "invisible to spark.read.parquet and not counted by the growth " +
      "guard") {
    val s = spark
    val dir = historySheets("graft-historphan")
    val hist = s"$dir/Runs"
    val cfg = graft.etl.EngineConfig(history = "Runs",
      historyCompactEvery = 3)
    graft.etl.Engine.runMapping(s, dir.toString, cfg)
    // a writer that died before its rename leaves its hidden
    // in-progress file, possibly truncated
    val bytes = Files.readAllBytes(partFiles(hist).head.toPath)
    val orphans = (1 to 2).map { _ =>
      val f = new java.io.File(hist, s".${java.util.UUID.randomUUID}.inprogress")
      Files.write(f.toPath, bytes.take(bytes.length / 2))
      f
    }
    graft.etl.Engine.runMapping(s, dir.toString, cfg)
    // two runs + two orphans: below the guard, nothing compacted
    assert(partFiles(hist).length == 2 && orphans.forall(_.exists))
    assert(s.read.parquet(hist).count() == 2)
    // the third run compacts around the orphans
    graft.etl.Engine.runMapping(s, dir.toString, cfg)
    assert(partFiles(hist).length == 1)
    assert(s.read.parquet(hist).count() == 3)
  }

  test("compact sees nested partitionBy layouts (recursive listing)") {
    val s = spark
    import s.implicits._
    val in = Files.createTempDirectory("cpart").toString
    val out = Files.createTempDirectory("cpartout").toString
    (0L until 5000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
      .repartition(16).write.partitionBy("lang").mode("overwrite")
      .parquet(in)
    val rep = Compaction.compact(s, in, out, targetBytes = 1L << 30)
    assert(rep.bytesIn > 0, "nested part files must be counted")
    assert(rep.filesIn >= 16)
    assert(s.read.parquet(out).count() == 5000)
    // the partitionBy layout must survive the rewrite
    val outDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(outDirs == Set("lang=en", "lang=de"), s"layout lost: $outDirs")
    assert(s.read.parquet(out).filter(col("lang") === "en").count() == 2500)
  }

  test("compact ignores _temporary debris invisible to the reader") {
    val s = spark
    import s.implicits._
    val in = Files.createTempDirectory("cdebris").toString
    val out = Files.createTempDirectory("cdebrisout").toString
    (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4).write.mode("overwrite").parquet(in)
    // orphaned task output from an aborted write
    (0L until 100000L).map(i => (i, "junk" * 50)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$in/_temporary/0/task")
    val clean = Compaction.compact(s, in, out, targetBytes = 1L << 30)
    assert(clean.filesIn == 4, s"debris counted: ${clean.filesIn}")
    assert(s.read.parquet(out).count() == 1000)
  }

  test("compact preserves string partition values verbatim (key=01)") {
    val s = spark
    import s.implicits._
    val in = Files.createTempDirectory("cstr").toString
    val out = Files.createTempDirectory("cstrout").toString
    // numeric-LOOKING string partition values: re-inferring them as
    // ints on the rewrite read would rewrite key=01 as key=1
    Seq((1L, "01"), (2L, "01"), (3L, "10")).toDF("id", "key")
      .write.partitionBy("key").mode("overwrite").parquet(in)
    Compaction.compact(s, in, out, targetBytes = 1L << 30)
    val outDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(outDirs == Set("key=01", "key=10"), s"layout changed: $outDirs")
    // the conf flip must not leak into the session
    assert(s.conf.get(
      "spark.sql.sources.partitionColumnTypeInference.enabled",
      "true") == "true")
  }

  test("compact fails fast on a dir with no parquet files") {
    val in = Files.createTempDirectory("cempty").toString
    val out = Files.createTempDirectory("cemptyout").toString
    val e = intercept[IllegalArgumentException] {
      Compaction.compact(spark, in, out)
    }
    assert(e.getMessage.contains("no parquet files"))
  }

  test("compact respects targetBytes granularity") {
    val s = spark
    import s.implicits._
    val in = Files.createTempDirectory("cin2").toString
    val out = Files.createTempDirectory("cout2").toString
    (0L until 20000L).map(i => (i, ("x" * 100) + i)).toDF("id", "v")
      .repartition(32).write.mode("overwrite").parquet(in)
    val bytes = Compaction.compact(s, in, out + "/probe",
      targetBytes = 1L << 30).bytesIn
    // aim for ~4 output files
    val rep = Compaction.compact(s, in, out + "/real",
      targetBytes = math.max(1L, bytes / 4))
    assert(rep.filesOut >= 3 && rep.filesOut <= 5, s"got ${rep.filesOut}")
  }
}

class PartitionedLayoutSpec extends SparkSpec {

  test("partitionBy layout gives partition-pruned scans") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("playout").toString
    val langs = Seq("en", "de", "es", "fr", "zh")
    (0L until 5000L).map(i => (i, langs((i % 5).toInt), s"doc$i"))
      .toDF("id", "lang", "text")
      .write.partitionBy("lang").mode("overwrite").parquet(dir)
    val q = s.read.parquet(dir).filter(col("lang") === "en")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert(plan.contains("lang"), "pruning predicate missing")
    // pruned scan must read exactly the one partition
    assert(q.count() == 1000)
    val parts = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      })
    assert(parts.nonEmpty && parts.forall(_ == 1),
      s"expected 1 selected partition, got $parts")
  }
}

class AnnLayoutSpec extends SparkSpec {

  test("IVF cell at-rest layout: probe-2 query scans only 2 partitions") {
    import graft.ext.Similarity
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
    val dir = Files.createTempDirectory("ivflayout").toString
    // WRITE the corpus partitioned by its IVF cell — the at-rest form
    // of the `ivfTopK` quantizer, so probing is partition pruning
    emb.withColumn("cell",
        Similarity.ivfCell(col("embedding"), cents))
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val t = s.read.parquet(dir)
    // two populated cells, as a probe-2 query would select
    val probe = t.groupBy("cell").count().orderBy(desc("count"))
      .limit(2).collect().map(_.getInt(0)).toSeq
    val q = t.filter(col("cell").isin(probe: _*))
    val parts = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      })
    assert(parts.nonEmpty && parts.forall(_ == 2),
      s"expected 2 selected partitions, got $parts")
    // and the pruned scan returns exactly the probed cells' rows
    val expected = emb.withColumn("cell",
        Similarity.ivfCell(col("embedding"), cents))
      .filter(col("cell").isin(probe: _*)).count()
    assert(q.count() == expected && expected > 0)
  }

  test("IVF-PQ at-rest layout: the 2-partition pruned read's member " +
      "ids drive pqTopKRescored to ivfPqTopK's exact result") {
    import graft.ext.Similarity
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
    // the query's probe-2 cells, exactly as ivfPqTopK picks them
    val qd = qv.map(_.toDouble)
    val probe = cents.zipWithIndex
      .map { case (c, j) =>
        (qd.zip(c).foldLeft(0.0)((a, p) => a + p._1 * p._2.toDouble), j) }
      .sortBy { case (d, j) => (-d, j) }.take(2).map(_._2)
    val dir = Files.createTempDirectory("ivfpqlayout").toString
    emb.withColumn("cell",
        Similarity.ivfCell(col("embedding"), cents))
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val pruned = s.read.parquet(dir).filter(col("cell").isin(probe: _*))
    val parts = pruned.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      })
    assert(parts.nonEmpty && parts.forall(_ == 2),
      s"expected a 2-partition pruned read, got $parts")
    // the pruned read's ids ARE the semi-join restriction: feeding
    // them to the PQ pipeline reproduces ivfPqTopK row for row —
    // i.e. at rest, cell pruning is partition pruning
    val viaLayout = Similarity.pqTopKRescored(emb, "vec_id",
        "embedding", qv, m = 32, nCentroids = 64, k = 10, nCand = 80,
        restrictTo = Some(pruned.select(col("vec_id"))))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = Similarity.ivfPqTopK(emb, "vec_id", "embedding", qv,
        nCells = 16, probes = 2, m = 32, nCentroids = 64, k = 10,
        nCand = 80)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaLayout == direct && direct.nonEmpty)
  }
}

class BloomSkipSpec extends SparkSpec {

  /** Row groups a point probe on `key == v` leaves readable in one
    * parquet file, at the parquet-hadoop layer Spark's scan delegates
    * to — with each skipping tier toggleable, so the test isolates
    * WHICH tier did the skipping.
    */
  private def rowGroups(file: String, v: Long, bloom: Boolean,
      stats: Boolean, dict: Boolean): Int = {
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.filter2.compat.FilterCompat
    val conf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf)
    val pred = FilterApi.eq(FilterApi.longColumn("k"),
      java.lang.Long.valueOf(v))
    val opts = org.apache.parquet.HadoopReadOptions.builder(conf)
      .withRecordFilter(FilterCompat.get(pred))
      .useBloomFilter(bloom).useStatsFilter(stats)
      .useDictionaryFilter(dict)
      .build()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in, opts)
    try r.getRowGroups.size finally r.close()
  }

  test("column bloom filters skip row groups where stats and " +
      "dictionaries cannot: shuffled high-cardinality keys, absent-" +
      "key probe reads 0 of N row groups with bloom ON, all N with " +
      "bloom OFF") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("bloomskip").toString
    // keys shuffled by xxhash so EVERY row group's [min, max] spans
    // ~the whole domain (stats can't skip), dictionary disabled for
    // the key column (dictionary filtering can't run), small pages →
    // several row groups in one file
    (0L until 200000L).map(i => i).toDF("seq")
      .select((xxhash64(col("seq")) % 1000000000L).as("k"),
        col("seq").as("v"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .option("parquet.bloom.filter.expected.ndv#k", "200000")
      .option("parquet.enable.dictionary", "false")
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val absent = 123L // xxhash64 range makes this key absent w.h.p.
    assert(s.read.parquet(dir).filter(col("k") === absent).count() == 0,
      "probe key must be absent for the skipping contrast")
    val total = rowGroups(file, absent, bloom = false, stats = false,
      dict = false)
    assert(total >= 3, s"need several row groups to demo skipping: $total")
    // stats alone cannot skip (shuffled keys), dictionary can't exist
    val statsOnly = rowGroups(file, absent, bloom = false,
      stats = true, dict = true)
    assert(statsOnly == total,
      s"stats/dict should NOT skip shuffled row groups: $statsOnly/$total")
    // bloom skips every group for an absent key
    val bloomOn = rowGroups(file, absent, bloom = true, stats = true,
      dict = true)
    assert(bloomOn == 0, s"bloom should skip all groups: $bloomOn/$total")
    // a PRESENT key keeps its group readable (no false negatives)
    val present = s.read.parquet(dir).select("k").head().getLong(0)
    assert(rowGroups(file, present, bloom = true, stats = true,
      dict = true) >= 1)
  }

  test("source_bloom_skip query: the IN probe reaches the scan as " +
      "PushedFilters and the roundtrip read answers it") {
    val df = graft.SparkEntry.queries("source_bloom_skip")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      "PushedFilters: \\[[^\\]]*l_orderkey".r.findFirstIn(plan).isDefined,
      plan.take(800))
    assert(df.collect().length >= 1)
  }
}

class AnnIndexSpec extends SparkSpec {
  import graft.ext.{AnnIndex, Similarity}

  private val embPath = "/root/testdata/sf0.001/embeddings.parquet"

  test("persisted IVF-PQ lifecycle: first ensureBuilt trains and " +
      "commits, a warm index skips training, changed geometry or " +
      "corpus fingerprint rebuilds; serve is HASH-IDENTICAL to the " +
      "retrain path") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
    val dir = Files.createTempDirectory("annidx").toString
    val fp = AnnIndex.parquetFingerprint(s, embPath)
    assert(AnnIndex.ensureBuilt(emb, "vec_id", "embedding", dir,
      nCells = 16, m = 32, nCentroids = 64, iters = 3,
      fingerprint = fp), "cold dir must build")
    assert(!AnnIndex.ensureBuilt(emb, "vec_id", "embedding", dir,
      nCells = 16, m = 32, nCentroids = 64, iters = 3,
      fingerprint = fp), "warm index must NOT retrain")
    // a corpus-fingerprint change (regenerated testdata) rebuilds
    assert(AnnIndex.ensureBuilt(emb, "vec_id", "embedding", dir,
      nCells = 16, m = 32, nCentroids = 64, iters = 3,
      fingerprint = "other-corpus"))
    // restore the real fingerprint, then compare against retrain
    AnnIndex.ensureBuilt(emb, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 3, fingerprint = fp)
    val served = AnnIndex.search(emb, "vec_id", "embedding", dir, qv,
        probes = 2, k = 10, nCand = 80)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val retrain = Similarity.ivfPqTopK(emb, "vec_id", "embedding", qv,
        nCells = 16, probes = 2, m = 32, nCentroids = 64, k = 10,
        nCand = 80)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == retrain && served.nonEmpty,
      s"served=$served retrain=$retrain")
  }

  test("serve plan has NO training stage: the codes scan is " +
      "partition-pruned to the 2 probed cells, the corpus parquet is " +
      "scanned exactly once (the rescore leg), and no PQ-encode " +
      "expression appears") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
    val dir = Files.createTempDirectory("annidx2").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = AnnIndex.search(emb, "vec_id", "embedding", dir, qv,
        probes = 2, k = 10, nCand = 80)
      val scans = df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        })
      val codeScans = scans.filter(_.relation.location.rootPaths
        .exists(_.toString.contains(dir)))
      assert(codeScans.nonEmpty, "codes scan missing from the plan")
      assert(codeScans.map(_.selectedPartitions.partitionCount)
        .forall(_ == 2),
        s"probe-2 must prune to 2 partitions: " +
          codeScans.map(_.selectedPartitions.partitionCount))
      val corpusScans = scans.filter(_.relation.location.rootPaths
        .exists(_.toString.contains("embeddings.parquet")))
      assert(corpusScans.size == 1,
        s"exactly one corpus scan (rescore), got ${corpusScans.size}")
      val plan = df.queryExecution.executedPlan.toString.toLowerCase
      assert(!plan.contains("pq_best_codes") &&
        !plan.contains("pqbestcodes"), "encode stage leaked into serve")
      assert(df.collect().length == 10)
    } finally s.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("append: new vectors are encoded with FROZEN quantizers and " +
      "become searchable without touching existing code rows; the " +
      "composed lifecycle is idempotent; exhaustive probing over the " +
      "appended index recovers exact brute-force top-k") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val base = emb.filter(col("vec_id") < 256)
    val extra = emb.filter(col("vec_id") >= 256)
    val dirA = Files.createTempDirectory("annA").toString
    val dirB = Files.createTempDirectory("annB").toString
    // reference: build on base only (dirB); appended index in dirA
    AnnIndex.build(base, "vec_id", "embedding", dirB, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    assert(AnnIndex.ensureBuiltWithAppend(base, extra, "vec_id",
      "embedding", dirA, nCells = 16, m = 32, nCentroids = 64,
      iters = 1, fingerprint = "fp1"), "cold dir must build+append")
    assert(!AnnIndex.ensureBuiltWithAppend(base, extra, "vec_id",
      "embedding", dirA, nCells = 16, m = 32, nCentroids = 64,
      iters = 1, fingerprint = "fp1"),
      "warm composed index must not rebuild or re-append")
    val all = s.read.parquet(s"$dirA/codes")
    val nBase = base.count(); val nExtra = extra.count()
    assert(all.count() == nBase + nExtra && nExtra > 0)
    // existing rows byte-identical to the base-only build
    val baseRows = s.read.parquet(s"$dirB/codes")
      .selectExpr("id", "naa", "bc", "cell")
    val appendedOldRows = all.filter(col("id") < 256)
      .selectExpr("id", "naa", "bc", "cell")
    assert(appendedOldRows.exceptAll(baseRows).count() == 0 &&
      baseRows.exceptAll(appendedOldRows).count() == 0,
      "append must not alter existing code rows")
    // exhaustive probes + full-corpus shortlist degrade the serve
    // path to EXACT top-k: appended vectors must be fully visible
    val qv = emb.filter(col("vec_id") === 300).select("embedding")
      .head().getSeq[Float](0)
    val served = AnnIndex.search(emb, "vec_id", "embedding", dirA, qv,
        probes = 16, k = 10, nCand = 4096)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity.topK(emb, "vec_id", "embedding", qv, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == brute && served.head._1 == 300L,
      s"served=$served brute=$brute")
  }

  test("streaming ingest: vectors arriving on a stream are encoded " +
      "with the frozen quantizers into the codes_stream segment " +
      "(exactly-once file sink), rows IDENTICAL to the batch append " +
      "encode; search unions the segment and a full rebuild retires " +
      "it") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val emb = s.read.parquet(embPath)
    val base = emb.filter(col("vec_id") < 256)
    val extra = emb.filter(col("vec_id") >= 256 && col("vec_id") < 300)
    val dir = Files.createTempDirectory("annstream").toString
    val dirRef = Files.createTempDirectory("annref").toString
    AnnIndex.build(base, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    AnnIndex.build(base, "vec_id", "embedding", dirRef, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    // reference rows: the BATCH append encode of the same vectors
    AnnIndex.append(extra, "vec_id", "embedding", dirRef)
    val rows = extra.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val q = AnnIndex.ingestStream(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, Files.createTempDirectory("annck").toString)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    in.addData(b1.toSeq); q.processAllAvailable()
    in.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    awaitLeaseRelease(dir)
    val seg = s.read.parquet(s"$dir/codes_stream")
      .selectExpr("id", "naa", "bc", "cell")
    val ref = s.read.parquet(s"$dirRef/codes")
      .filter(col("id") >= 256).selectExpr("id", "naa", "bc", "cell")
    assert(seg.count() == rows.length &&
      seg.exceptAll(ref).count() == 0 && ref.exceptAll(seg).count() == 0,
      "stream encode must equal the batch append encode row for row")
    // search sees base + streamed: exhaustive probing == brute force
    val corpus = emb.filter(col("vec_id") < 300)
    val qv = emb.filter(col("vec_id") === 280).select("embedding")
      .head().getSeq[Float](0)
    val served = AnnIndex.search(corpus, "vec_id", "embedding", dir,
        qv, probes = 16, k = 5, nCand = 4096)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity.topK(corpus, "vec_id", "embedding", qv, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == brute && served.head._1 == 280L,
      s"served=$served brute=$brute")
    // compaction folds the segment into the base table: same rows,
    // same search results, segment gone
    val beforeCompact = AnnIndex.search(corpus, "vec_id", "embedding",
        dir, qv, probes = 16, k = 5, nCand = 4096)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val moved = AnnIndex.compactSegment(s, dir)
    assert(moved == rows.length, s"moved $moved of ${rows.length}")
    assert(!new java.io.File(s"$dir/codes_stream").exists)
    assert(s.read.parquet(s"$dir/codes").count() == 256 + rows.length)
    val afterCompact = AnnIndex.search(corpus, "vec_id", "embedding",
        dir, qv, probes = 16, k = 5, nCand = 4096)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(afterCompact == beforeCompact,
      "compaction must not change search results")
    assert(AnnIndex.compactSegment(s, dir) == 0L, "idempotent when empty")
    // a full rebuild retires any (new) stale-quantizer segment
    AnnIndex.build(base, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    assert(!new java.io.File(s"$dir/codes_stream").exists,
      "rebuild must retire the streaming segment")
  }

  test("a markerless (uncommitted) index dir refuses to serve") {
    val dir = Files.createTempDirectory("annidx3").toString
    val e = intercept[IllegalArgumentException] {
      AnnIndex.load(spark, dir)
    }
    assert(e.getMessage.contains("INDEX_READY"), e.getMessage)
  }

  test("batch serve: searchBatch over 10 query vectors is ROW-" +
      "IDENTICAL to 10 per-query search() calls, with ONE codes scan " +
      "and ONE corpus rescore scan in the pinned plan") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val dir = Files.createTempDirectory("annidx5").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val batch = AnnIndex.searchBatch(emb, "vec_id", "embedding", dir,
      queries, "vec_id", "embedding", probes = 2, k = 10, nCand = 80)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val qids = queries.select("vec_id").collect().map(_.getLong(0))
    assert(qids.length == 10 && got.keySet == qids.toSet)
    qids.foreach { qid =>
      val qv = emb.filter(col("vec_id") === qid).select("embedding")
        .head().getSeq[Float](0)
      val single = AnnIndex.search(emb, "vec_id", "embedding", dir,
          qv, probes = 2, k = 10, nCand = 80)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got(qid) == single, s"qid=$qid: ${got(qid)} vs $single")
    }
    // pinned plan: one codes scan (pruned to the union of probed
    // cells) + one corpus scan (rescore) + the driver-side batch
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = AnnIndex.searchBatch(emb, "vec_id", "embedding", dir,
        queries, "vec_id", "embedding", probes = 2, k = 10, nCand = 80)
      val scans = df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        })
      val codeScans = scans.filter(_.relation.location.rootPaths
        .exists(_.toString.contains(dir)))
      assert(codeScans.size == 1,
        s"ONE codes scan for the whole batch, got ${codeScans.size}")
      val corpusScans = scans.filter(_.relation.location.rootPaths
        .exists(_.toString.contains("embeddings.parquet")))
      assert(corpusScans.size == 1,
        s"ONE corpus rescore scan, got ${corpusScans.size}")
    } finally s.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("cosinePairsIndexed: probe-confined near-dup pairs are a " +
      "SUBSET of brute-force truth (exact verify = perfect precision) " +
      "with measured recall >= 0.7 at probes=4; composes tombstones") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val dir = Files.createTempDirectory("annidx6").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    val pairRows = AnnIndex.cosinePairsIndexed(emb, "vec_id",
        "embedding", dir, 0.45, probes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // r18 structural dedup (min-common-cell emission) must emit every
    // pair exactly ONCE — a multi-cell co-occurrence may not repeat
    assert(pairRows.size == pairRows.toSet.size,
      "duplicate pair emissions from the min-common-cell dedup")
    val pairs = pairRows.toSet
    // brute-force truth: every pair at cosine >= threshold
    val n = emb.select(col("vec_id"), col("embedding").as("v"),
      Similarity.l2norm(col("embedding")).as("nrm"))
    val a = n.select(col("vec_id").as("ia"), col("v").as("va"),
      col("nrm").as("na"))
    val b = n.select(col("vec_id").as("ib"), col("v").as("vb"),
      col("nrm").as("nb"))
    val brute = a.crossJoin(b).filter(col("ia") < col("ib"))
      .filter(Similarity.dot(col("va"), col("vb")) /
        (col("na") * col("nb")) >= 0.45)
      .select("ia", "ib")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(brute), "exact verify admits no false pairs")
    val recall = pairs.size.toDouble / brute.size
    assert(recall >= 0.7, s"recall $recall (${pairs.size}/${brute.size})")
    // a tombstoned id drops out of the pair stream immediately
    val victim = pairs.head._1
    AnnIndex.delete(s, dir, Seq(victim))
    val after = AnnIndex.cosinePairsIndexed(emb, "vec_id", "embedding",
        dir, 0.45, probes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after.forall(p => p._1 != victim && p._2 != victim))
  }

  test("tombstones: delete() hides ids from search immediately, " +
      "compactSegment physically drops them from the codes table and " +
      "clears the queue, ensureBuilt sees the mutated index as stale, " +
      "rebuild clears tombstones") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
    val dir = Files.createTempDirectory("annidx4").toString
    val fp = AnnIndex.parquetFingerprint(s, embPath)
    AnnIndex.build(emb, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 1, fingerprint = fp)
    val before = AnnIndex.search(emb, "vec_id", "embedding", dir, qv,
        probes = 16, k = 5, nCand = 4096)
      .collect().map(_.getLong(0)).toSeq
    // delete the top hit: search must exclude it, the rest shift up
    val victim = before.head
    AnnIndex.delete(s, dir, Seq(victim))
    val after = AnnIndex.search(emb, "vec_id", "embedding", dir, qv,
        probes = 16, k = 5, nCand = 4096)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(victim), s"deleted id $victim still served")
    assert(after.take(4) == before.drop(1).take(4),
      s"survivors must keep their order: $after vs $before")
    // batch serve reads the same logical codes table → same exclusion
    val afterBatch = AnnIndex.searchBatch(emb, "vec_id", "embedding",
        dir, emb.filter(col("vec_id") === 0), "vec_id", "embedding",
        probes = 16, k = 5, nCand = 4096)
      .collect().map(_.getLong(1)).toSeq
    assert(afterBatch == after, s"$afterBatch vs $after")
    // the mutated index is STALE for the single-corpus freshness check
    assert(AnnIndex.ensureBuilt(emb, "vec_id", "embedding", dir,
      nCells = 16, m = 32, nCentroids = 64, iters = 1,
      fingerprint = fp), "ensureBuilt must rebuild a deleted-from index")
    // rebuild cleared the queue; delete again, then fold physically
    AnnIndex.delete(s, dir, Seq(victim))
    val total = s.read.parquet(s"$dir/codes").count()
    AnnIndex.compactSegment(s, dir)
    assert(s.read.parquet(s"$dir/codes").count() == total - 1,
      "compaction must physically drop the tombstoned row")
    assert(!new java.io.File(s"$dir/deletes").exists,
      "compaction must clear the tombstone queue")
    val afterCompact = AnnIndex.search(emb, "vec_id", "embedding",
        dir, qv, probes = 16, k = 5, nCand = 4096)
      .collect().map(_.getLong(0)).toSeq
    assert(afterCompact == after,
      "served results identical before and after the physical fold")
  }

  test("two-level cell assignment: hierarchical probes are CONFINED " +
      "to the chosen supers' children and match an independent " +
      "driver evaluation; superProbes >= nSuper equals the flat " +
      "ranking exactly; pairs at the _2level query's operating point " +
      "(p=4/sp=3) equal the flat assignment's on this corpus") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val dir = Files.createTempDirectory("annidx7").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    val (_, coarse, _) = AnnIndex.load(s, dir)
    val n = emb.select(col("vec_id").cast("long").as("id"),
      col("embedding").as("v"))
    def probesOf(p: Int, sp: Int): Map[Long, Set[Int]] =
      AnnIndex.probeCells(n, coarse, p, sp).collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // independent driver evaluation of the hierarchy (same folds)
    def sdot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) =>
        acc + p._1.toDouble * p._2.toDouble)
    val nSuper = AnnIndex.superCount(coarse.size)
    assert(nSuper == 4, s"ceil(sqrt(16)) = 4, got $nSuper")
    val supers = coarse.take(nSuper)
    val childrenOf: Map[Int, Set[Int]] = coarse.zipWithIndex
      .map { case (cv, c) =>
        c -> supers.zipWithIndex.map { case (sv, ss) => (sdot(cv, sv), ss) }
          .sortBy { case (d, ss) => (-d, ss) }.head._2
      }.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val got = probesOf(4, 3)
    rows.foreach { case (id, vec) =>
      val topSup = supers.zipWithIndex
        .map { case (sv, ss) => (sdot(vec, sv), ss) }
        .sortBy { case (d, ss) => (-d, ss) }.take(3).map(_._2)
      val allowed = topSup.flatMap(ss =>
        childrenOf.getOrElse(ss, Set.empty)).toSet
      val expected = allowed.toSeq
        .map(c => (sdot(vec, coarse(c)), c))
        .sortBy { case (d, c) => (-d, c) }.take(4).map(_._2).toSet
      assert(got(id).subsetOf(allowed),
        s"id=$id probed outside its supers: ${got(id)} vs $allowed")
      assert(got(id) == expected, s"id=$id: ${got(id)} vs $expected")
    }
    // probing every super IS the flat ranking, by construction
    assert(probesOf(4, nSuper) == probesOf(4, 0))
    // battery operating point: the final PAIRS match flat assignment
    def pairs(sp: Int) = AnnIndex.cosinePairsIndexed(emb, "vec_id",
        "embedding", dir, 0.45, probes = 4, superProbes = sp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(3) == pairs(0),
      "hierarchical p=4/sp=3 must keep the flat assignment's pairs " +
        "on this corpus")
  }

  test("distributed batch serve: searchBatchDist is ROW-IDENTICAL to " +
      "searchBatch, keeps the query table a SCAN (no driver " +
      "materialization — pinned in the plan), and rejects duplicate " +
      "qids in-plan") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val dir = Files.createTempDirectory("annidx8").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    // queries come from their OWN parquet table so the plan pin can
    // name its path unambiguously
    val qDir = Files.createTempDirectory("annq").toString
    emb.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding").write.mode("overwrite")
      .parquet(qDir)
    val qdf = s.read.parquet(qDir)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val dist = AnnIndex.searchBatchDist(emb, "vec_id", "embedding",
      dir, qdf, "vec_id", "embedding", probes = 2, k = 10, nCand = 80)
    val batch = AnnIndex.searchBatch(emb, "vec_id", "embedding", dir,
      qdf, "vec_id", "embedding", probes = 2, k = 10, nCand = 80)
    assert(norm(dist) == norm(batch) && norm(dist).size == 100)
    // plan pin: the queries parquet appears as a real scan — the
    // query table was never collect()ed to the driver
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = AnnIndex.searchBatchDist(emb, "vec_id", "embedding",
        dir, qdf, "vec_id", "embedding", probes = 2, k = 10, nCand = 80)
      val scans = df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        })
      assert(scans.exists(_.relation.location.rootPaths
        .exists(_.toString.contains(qDir))),
        "queries table must stay a distributed scan")
    } finally s.conf.set("spark.sql.adaptive.enabled", "true")
    // duplicate qids are a silent-merge hazard: the in-plan guard
    // fails the job instead
    val dup = qdf.unionAll(qdf.limit(1))
    val e = intercept[Exception] {
      AnnIndex.searchBatchDist(emb, "vec_id", "embedding", dir, dup,
        "vec_id", "embedding", probes = 2, k = 10, nCand = 80).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("duplicate qid")), msgs(e).toString)
  }

  test("searchBatchDist on a flat index ranks probe cells map-side: " +
      "no nested-loop or cartesian join, no rank window over the " +
      "query-cell dots") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val s = spark
    val emb = s.read.parquet(embPath)
    val dir = Files.createTempDirectory("annflat").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    val qdf = emb.filter(col("vec_id") % 50 === 0)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = AnnIndex.searchBatchDist(emb, "vec_id", "embedding",
          dir, qdf, "vec_id", "embedding", probes = 2, k = 10,
          nCand = 80)
        .queryExecution.executedPlan
      val bad = plan.collect {
        case j: BroadcastNestedLoopJoinExec => j: SparkPlan
        case j: CartesianProductExec => j
        case w: WindowExec if w.orderSpec.exists(
            _.references.exists(_.name == "__d")) => w
      }
      assert(bad.isEmpty, s"probe rank must be map-side:\n$plan")
    } finally s.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("maintenance lease: a held lease makes every maintenance op " +
      "abort loudly (one winner + one clean abort) and leaves the " +
      "index unchanged; searches keep serving; release unblocks") {
    val s = spark
    import s.implicits._
    val emb = s.read.parquet(embPath)
    val dir = Files.createTempDirectory("annidx9").toString
    AnnIndex.build(emb.filter(col("vec_id") < 256), "vec_id",
      "embedding", dir, nCells = 16, m = 32, nCentroids = 64, iters = 1)
    // a successful op releases its lease
    val lease = new java.io.File(dir, ".MAINT_LEASE")
    assert(!lease.exists, "lease must be released after build")
    val extra = emb.filter(col("vec_id") >= 256)
    val codesBefore = s.read.parquet(s"$dir/codes").count()
    // writer A holds the lease (mid-append); B, C, D must abort
    assert(lease.createNewFile())
    Seq(
      () => AnnIndex.append(extra, "vec_id", "embedding", dir),
      () => AnnIndex.delete(s, dir, Seq(0L)),
      () => { AnnIndex.compactSegment(s, dir); () },
      () => AnnIndex.build(emb, "vec_id", "embedding", dir,
        nCells = 16, m = 32, nCentroids = 64, iters = 1)
    ).foreach { op =>
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("lease"), e.getMessage)
    }
    assert(s.read.parquet(s"$dir/codes").count() == codesBefore,
      "a refused writer must not touch the index")
    // searches never take the lease
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
    assert(AnnIndex.search(emb, "vec_id", "embedding", dir, qv,
      probes = 16, k = 5, nCand = 4096).count() == 5)
    // release → the append wins cleanly
    assert(lease.delete())
    AnnIndex.append(extra, "vec_id", "embedding", dir)
    assert(s.read.parquet(s"$dir/codes").count() > codesBefore)
    assert(!lease.exists, "winner must release the lease")
  }

  test("hierarchical ENCODE path (r15): a hier>0 index records the " +
      "hierarchy in meta/, build+append is BIT-IDENTICAL to a full " +
      "rebuild under the same marker (append/ingest assign with the " +
      "same two-level rule), flat and hierarchical markers are " +
      "distinct, and exhaustive search over a hier index == brute " +
      "force") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val dirFull = Files.createTempDirectory("annhier2").toString
    // hier=2 (nCells=16 -> 4 supers), trained once on the full corpus
    AnnIndex.build(emb, "vec_id", "embedding", dirFull, nCells = 16,
      m = 32, nCentroids = 64, iters = 1, hier = 2)
    // append the SAME vectors re-keyed: the frozen-quantizer append
    // must assign each one exactly the codes/cell the build pass gave
    // its identical twin — the bit-identity that proves build and
    // append share one (hierarchical) assignment path
    AnnIndex.append(
      emb.select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding")),
      "vec_id", "embedding", dirFull)
    val codes = s.read.parquet(s"$dirFull/codes")
      .selectExpr("id", "naa", "bc", "cell")
    val builtRows = codes.filter(col("id") < 100000L)
    val appended = codes.filter(col("id") >= 100000L)
      .select((col("id") - 100000L).as("id"), col("naa"), col("bc"),
        col("cell"))
    assert(builtRows.count() == appended.count() &&
      builtRows.exceptAll(appended).count() == 0 &&
      appended.exceptAll(builtRows).count() == 0,
      "append under a hierarchical marker must encode bit-identically " +
        "to the build pass")
    // encode-side top-1 == probe-side hierarchy at probes=1 with the
    // same superProbes: the two paths share one tree (build/append/
    // ingest/probe assign identically)
    val coarse = s.read.parquet(s"$dirFull/coarse").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toSeq)
      .sortBy(_._1).map(_._2).toSeq
    val n = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    val probeSide = AnnIndex.probeCells(n, coarse, probes = 1,
        superProbes = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val encodeSide = builtRows.select("id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(probeSide == encodeSide,
      s"probe/encode hierarchy disagree on ${
        (probeSide diff encodeSide).take(5)}")
    // the hierarchy genuinely changes assignment vs flat (otherwise
    // this spec proves nothing): SOME cell differs
    val dirFlat = Files.createTempDirectory("annhier3").toString
    AnnIndex.build(emb, "vec_id", "embedding", dirFlat, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    val flat = s.read.parquet(s"$dirFlat/codes")
      .selectExpr("id", "cell")
    assert(builtRows.select("id", "cell").exceptAll(flat).count() > 0,
      "hier=2 assignment should differ from flat somewhere on this " +
        "corpus")
    // marker records the hierarchy: a flat ensureBuilt over the hier
    // index is stale (and vice versa)
    assert(AnnIndex.ensureBuilt(emb, "vec_id", "embedding", dirFull,
      nCells = 16, m = 32, nCentroids = 64, iters = 1,
      hier = 0) === true)
    // exhaustive probing finds everything whatever the assignment
    AnnIndex.build(emb, "vec_id", "embedding", dirFull, nCells = 16,
      m = 32, nCentroids = 64, iters = 1, hier = 2)
    val qv = emb.filter(col("vec_id") === 42).select("embedding")
      .head().getSeq[Float](0)
    val served = AnnIndex.search(emb, "vec_id", "embedding", dirFull,
        qv, probes = 16, k = 5, nCand = 4096)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity.topK(emb, "vec_id", "embedding", qv, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == brute, s"served=$served brute=$brute")
  }

  test("searchBatchDist on a hier-marker index (r16): probe-cell " +
      "selection routes through the RECORDED hierarchy — " +
      "row-identical to the flat rank when hier >= nSuper (by " +
      "construction), the nCells cross product gone from the plan, " +
      "and probes=1 serves from the query's own encode cell") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val qdf = emb.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    // nCells=16 -> nSuper=4: hier=4 ranks every super's children ==
    // the flat ranking by construction, so the hier CODE PATH must be
    // row-identical to searchBatch's exact flat driver rank on the
    // same index
    val dirEq = Files.createTempDirectory("annhierserve1").toString
    AnnIndex.build(emb, "vec_id", "embedding", dirEq, nCells = 16,
      m = 32, nCentroids = 64, iters = 1, hier = 4)
    val hierServe = AnnIndex.searchBatchDist(emb, "vec_id",
      "embedding", dirEq, qdf, "vec_id", "embedding", probes = 2,
      k = 10, nCand = 80)
    val flatRank = AnnIndex.searchBatch(emb, "vec_id", "embedding",
      dirEq, qdf, "vec_id", "embedding", probes = 2, k = 10,
      nCand = 80)
    assert(norm(hierServe) == norm(flatRank) &&
      norm(hierServe).nonEmpty)
    // the branch genuinely fired: the flat serve's |Q| x nCells
    // cross product (BroadcastNestedLoopJoin) is replaced by the
    // broadcast child-table equi-join
    val plan = hierServe.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"hier serve must not cross-join the coarse table:\n${
        plan.take(1500)}")
    // probes=1 on a hier<nSuper index probes EXACTLY the query's
    // encode cell (probeCells@1 == hierCellCol, the encode-spec
    // consistency) — every corpus-member query must find a perfect
    // cosine-1.0 match (itself, or an identical twin in the same
    // cell) at rank 1
    val dirH2 = Files.createTempDirectory("annhierserve2").toString
    AnnIndex.build(emb, "vec_id", "embedding", dirH2, nCells = 16,
      m = 32, nCentroids = 64, iters = 1, hier = 2)
    val self1 = AnnIndex.searchBatchDist(emb, "vec_id", "embedding",
        dirH2, qdf, "vec_id", "embedding", probes = 1, k = 1,
        nCand = 512)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(self1.length == qdf.count() &&
      self1.forall { case (_, sc) => math.abs(sc - 1.0) < 1e-9 },
      s"probes=1 must serve the encode cell: ${
        self1.filter(t => math.abs(t._2 - 1.0) >= 1e-9).take(5)
          .mkString(", ")}")
    // serve-time override (ADVICE r16): recall is a knob per CALL,
    // not frozen at build — superProbes=0 on the hier index forces
    // the EXACT flat distributed rank (== searchBatch's driver rank),
    // and superProbes = nSuper equals flat by construction through
    // the hier code path
    val flatH2 = norm(AnnIndex.searchBatch(emb, "vec_id", "embedding",
      dirH2, qdf, "vec_id", "embedding", probes = 2, k = 10,
      nCand = 80))
    val forcedFlat = AnnIndex.searchBatchDist(emb, "vec_id",
      "embedding", dirH2, qdf, "vec_id", "embedding", probes = 2,
      k = 10, nCand = 80, superProbes = 0)
    assert(norm(forcedFlat) == flatH2 && flatH2.nonEmpty)
    val widened = AnnIndex.searchBatchDist(emb, "vec_id",
      "embedding", dirH2, qdf, "vec_id", "embedding", probes = 2,
      k = 10, nCand = 80, superProbes = 4)
    assert(norm(widened) == flatH2)
  }

  test("groups at rest for the EMBEDDING family (r16): appendGroups' " +
      "super-node fold equals a full buildGroups over the SAME index " +
      "state; markers track index mutations, params, and strict " +
      "foldability") {
    val s = spark
    val emb = s.read.parquet(embPath)
    // base keeps vec_id < 64 dense (the PQ trainer's init requirement)
    val split = col("vec_id") % 3 === 2 && col("vec_id") >= 64
    val base = emb.filter(!split)
    val batch = emb.filter(split)
    def groupsOf(dir: String): Map[Long, Long] =
      AnnIndex.readGroups(s, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dirInc = Files.createTempDirectory("anngrp1").toString
    AnnIndex.build(base, "vec_id", "embedding", dirInc, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    // fold without a committed groups table -> refused
    intercept[Exception] {
      AnnIndex.appendGroups(batch, emb, "vec_id", "embedding",
        dirInc, 0.45)
    }
    AnnIndex.buildGroups(base, "vec_id", "embedding", dirInc, 0.45)
    assert(AnnIndex.groupsFresh(s, dirInc, 0.45))
    assert(!AnnIndex.groupsFresh(s, dirInc, 0.5),
      "a different threshold is a different groups table")
    assert(AnnIndex.groupsStatus(s, dirInc).exists(_._2))
    // fold with NO un-folded trailing mutation -> refused (strict)
    intercept[IllegalStateException] {
      AnnIndex.appendGroups(batch, emb, "vec_id", "embedding",
        dirInc, 0.45)
    }
    AnnIndex.append(batch, "vec_id", "embedding", dirInc)
    assert(!AnnIndex.groupsFresh(s, dirInc, 0.45),
      "an index mutation must flip the groups table stale")
    assert(AnnIndex.groupsStatus(s, dirInc).exists(!_._2))
    AnnIndex.appendGroups(batch, emb, "vec_id", "embedding", dirInc,
      0.45)
    assert(AnnIndex.groupsFresh(s, dirInc, 0.45))
    // THE guarantee: the fold equals a full re-mine + CC over the
    // SAME index state (same frozen quantizer: base-trained + append;
    // a from-scratch full-corpus rebuild would train a different
    // quantizer — the append contract freezes it deliberately)
    val dirFull = Files.createTempDirectory("anngrp2").toString
    AnnIndex.build(base, "vec_id", "embedding", dirFull, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    AnnIndex.append(batch, "vec_id", "embedding", dirFull)
    AnnIndex.buildGroups(emb, "vec_id", "embedding", dirFull, 0.45)
    val inc = groupsOf(dirInc)
    val full = groupsOf(dirFull)
    assert(inc.nonEmpty, "spec corpus must have near-dup groups")
    assert(inc == full, s"incremental ${inc.size} rows != rebuild ${
      full.size}: ${(inc.toSet diff full.toSet).take(5)} / ${
      (full.toSet diff inc.toSet).take(5)}")
    // DELETE fold (the MinHash deleteGroups dual): tombstone a
    // grouped vector, fold confined to the touched groups' survivors,
    // result equals a full buildGroups over the same index state
    val victim = inc.keys.min
    AnnIndex.delete(s, dirInc, Seq(victim))
    assert(!AnnIndex.groupsFresh(s, dirInc, 0.45))
    // appendGroups must refuse to fold a delete
    intercept[IllegalStateException] {
      AnnIndex.appendGroups(batch.limit(0), emb, "vec_id",
        "embedding", dirInc, 0.45)
    }
    val post = emb.filter(col("vec_id") =!= victim)
    AnnIndex.deleteGroups(post, "vec_id", "embedding", dirInc, 0.45)
    assert(AnnIndex.groupsFresh(s, dirInc, 0.45))
    AnnIndex.delete(s, dirFull, Seq(victim))
    AnnIndex.buildGroups(post, "vec_id", "embedding", dirFull, 0.45)
    val incD = groupsOf(dirInc)
    val fullD = groupsOf(dirFull)
    assert(!incD.contains(victim) && incD == fullD,
      s"delete fold ${incD.size} != rebuild ${fullD.size}: ${
        (incD.toSet diff fullD.toSet).take(5)} / ${
        (fullD.toSet diff incD.toSet).take(5)}")
  }

  test("searchBatchDist salted fan-out (r15): salts>0 joins codes to " +
      "probes on (cell, salt) — plan carries the salt key — with " +
      "results ROW-IDENTICAL to the unsalted path") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val dir = Files.createTempDirectory("annsalt").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    // a hot-cell batch: every query near vec 0 probes similar cells
    val qdf = emb.filter(col("vec_id") < 64)
      .select(col("vec_id"), col("embedding"))
    def run(salts: Int) = AnnIndex.searchBatchDist(emb, "vec_id",
      "embedding", dir, qdf, "vec_id", "embedding", probes = 2,
      k = 5, nCand = 40, salts = salts)
    val unsalted = run(0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = run(8)
    assert(salted.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == unsalted && unsalted.nonEmpty)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), "salted plan must join on the " +
      s"salt key; got:\n${plan.take(2000)}")
  }

  test("delete records EXACTLY the written tombstone rows in the " +
      "marker (ids frame materialized once, marker committed BEFORE " +
      "the append so a crash forces a rebuild instead of ghosts)") {
    val s = spark
    val emb = s.read.parquet(embPath)
    val dir = Files.createTempDirectory("annidx10").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir, nCells = 16,
      m = 32, nCentroids = 64, iters = 1)
    // a re-execution-unstable ids frame: unseeded sample + limit
    val ids = emb.select(col("vec_id")).sample(0.3).limit(50)
    AnnIndex.delete(s, dir, ids)
    val written = s.read.parquet(s"$dir/deletes").count()
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "INDEX_READY")), "UTF-8")
    val recorded = "\\+delete\\[(\\d+)\\]".r
      .findFirstMatchIn(marker).map(_.group(1).toLong)
    assert(recorded.contains(written),
      s"marker says $recorded, deletes/ holds $written rows")
  }
}

class ZOrderSpec extends SparkSpec {

  test("zValue matches a bit-twiddling reference implementation") {
    val s = spark
    import s.implicits._
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, b) =>
        acc | (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))
      }
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L),
      (12345L, 54321L), (65535L, 1L))
    val got = rows.toDF("x", "y")
      .select(ZOrder.zValue($"x", $"y", 16).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == rows.map { case (x, y) => ref(x, y, 16) })
  }

  test("negative keys: pmod bucketing matches the oracle's " +
      "((v % m) + m) % m mirror, and bare % would not") {
    val s = spark
    import s.implicits._
    val keys = Seq(-65537L, -65536L, -1L, 0L, 1L, 65535L, 65536L)
    val got = keys.toDF("v")
      .select(pmod($"v", lit(65536L)).as("b"))
      .collect().map(_.getLong(0))
    // Math.floorMod is the ((v % m) + m) % m the DuckDB oracle uses
    assert(got.toSeq == keys.map(Math.floorMod(_, 65536L)))
    // and the divergence the mirror exists to paper over is real:
    // DuckDB-style dividend-sign % disagrees on every negative key
    assert(keys.filter(_ < 0).exists(v => v % 65536L != Math.floorMod(v, 65536L)))
    // bucketed negatives stay in-range for the shift interleave
    assert(got.forall(b => b >= 0 && b < 65536L))
  }

  test("z-order clustering concentrates 2-D range boxes in few files " +
      "where a 1-D sort touches every file") {
    val s = spark
    import s.implicits._
    // deterministic 256x256 grid: every (x, y) combination once
    val grid = (0 until 65536).map(i => (i.toLong, (i % 256).toLong,
      (i / 256).toLong)).toDF("id", "x", "y")
    val zDir = Files.createTempDirectory("zord").toString
    val xDir = Files.createTempDirectory("xsort").toString
    ZOrder.clusterBy(grid, ZOrder.zValue($"x", $"y", 8), 16, zDir)
    // baseline: classic single-column sort layout
    grid.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)
    def filesHit(dir: String): (Long, Long) = {
      val t = s.read.parquet(dir)
      val box = t.filter($"x" < 16 && $"y" < 16)
        .select(input_file_name()).distinct().count()
      val yOnly = t.filter($"y" < 16)
        .select(input_file_name()).distinct().count()
      (box, yOnly)
    }
    val (zBox, zY) = filesHit(zDir)
    val (xBox, xY) = filesHit(xDir)
    // the z-layout puts the 16x16 box (and even a full y-stripe) into
    // a minority of the 16 files; the x-sorted layout spreads any
    // y-predicate across ALL files
    assert(zBox <= 4, s"z-order box hit $zBox of 16 files")
    assert(zY <= 8, s"z-order y-stripe hit $zY of 16 files")
    assert(xY == 16, s"x-sorted y-stripe should hit all files, got $xY")
    assert(xBox <= 4) // 1-D sort still prunes its own column
    // identical CONTENT (not just count) after the clustered rewrite
    val z = s.read.parquet(zDir).select("id", "x", "y")
    assert(z.exceptAll(grid).count() == 0 &&
      grid.exceptAll(z).count() == 0)
  }

  test("zValueN: 2-col case equals zValue; 3-col matches reference") {
    val s = spark
    import s.implicits._
    def ref(vs: Seq[Long], bits: Int): Long = {
      val n = vs.size
      (for { b <- 0 until bits; i <- 0 until n } yield
        ((vs(i) >> b) & 1L) << (b * n + i)).foldLeft(0L)(_ | _)
    }
    val rows = Seq((3L, 5L, 7L), (0L, 0L, 0L), (1023L, 1L, 512L),
      (12L, 345L, 678L))
    val got = rows.toDF("x", "y", "w")
      .select(ZOrder.zValue($"x", $"y", 16).as("z2"),
        ZOrder.zValueN(Seq($"x", $"y"), 16).as("z2n"),
        ZOrder.zValueN(Seq($"x", $"y", $"w"), 10).as("z3"))
      .collect()
    rows.zip(got).foreach { case ((x, y, w), r) =>
      assert(r.getLong(0) == r.getLong(1)) // 2-col layout unchanged
      assert(r.getLong(2) == ref(Seq(x, y, w), 10), s"($x,$y,$w)")
    }
  }

  test("3-column z-order: 3-D box and every single-column stripe " +
      "concentrate in few files; 1-D sort only prunes its own column") {
    val s = spark
    import s.implicits._
    // deterministic 32x32x32 grid: every (x, y, w) combination once
    val grid = (0 until 32768).map(i => (i.toLong, (i % 32).toLong,
      ((i / 32) % 32).toLong, (i / 1024).toLong)).toDF("id", "x", "y", "w")
    val zDir = Files.createTempDirectory("zord3").toString
    val xDir = Files.createTempDirectory("xsort3").toString
    ZOrder.clusterBy(grid, ZOrder.zValueN(Seq($"x", $"y", $"w"), 5),
      16, zDir)
    grid.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)
    def hits(dir: String, f: org.apache.spark.sql.Column): Long =
      s.read.parquet(dir).filter(f)
        .select(input_file_name()).distinct().count()
    // the half-stripes (col < 8 = 1/4 of each axis) each select 1/4 of
    // the rows; on the z-layout the curve's top bits split ALL THREE
    // columns, so each stripe lands in at most half the files and the
    // 1/64-volume box in 1-2
    assert(hits(zDir, $"x" < 8 && $"y" < 8 && $"w" < 8) <= 3)
    assert(hits(zDir, $"x" < 8) <= 10)
    assert(hits(zDir, $"y" < 8) <= 10)
    assert(hits(zDir, $"w" < 8) <= 10)
    // the x-sorted baseline prunes x but spreads y/w over ALL files
    assert(hits(xDir, $"x" < 8) <= 4)
    assert(hits(xDir, $"y" < 8) == 16)
    assert(hits(xDir, $"w" < 8) == 16)
    // identical content after the clustered rewrite
    val z = s.read.parquet(zDir).select("id", "x", "y", "w")
    assert(z.exceptAll(grid).count() == 0 &&
      grid.exceptAll(z).count() == 0)
  }
}

class SchemaEvolutionSpec extends SparkSpec {

  test("mergeSchema reads old and new batches as one evolved table") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("sevo").toString
    // batch 1: original schema
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$dir/batch=1")
    // batch 2: a column was added upstream
    Seq((3L, "c", 0.5), (4L, "d", 0.9)).toDF("id", "v", "score")
      .write.parquet(s"$dir/batch=2")
    val t = s.read.option("mergeSchema", "true").parquet(dir)
    assert(t.columns.toSet == Set("id", "v", "score", "batch"))
    val rows = t.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getDouble(1)))).toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty) // old rows: null score
    assert(rows(3L).contains(0.5) && rows(4L).contains(0.9))
  }
}

class BloomFilterJoinSpec extends SparkSpec {

  test("runtime bloom filter prunes the fact side of a selective join") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("bloom").toString
    (0L until 100000L).map(i => (i % 1000, s"payload$i"))
      .toDF("fk", "payload").write.mode("overwrite").parquet(s"$dir/fact")
    (0L until 1000L).map(i => (i, if (i < 10) "hot" else "cold"))
      .toDF("pk", "tag").write.mode("overwrite").parquet(s"$dir/dim")
    withSQLConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = s.read.parquet(s"$dir/fact")
      val dim = s.read.parquet(s"$dir/dim").filter(col("tag") === "hot")
      val j = fact.join(dim, col("fk") === col("pk"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter") ||
        plan.contains("might_contain"),
        "no runtime bloom filter injected:\n" + plan.take(2000))
      assert(j.count() == 1000) // 10 hot keys x 100 fact rows each
    }
  }

  private def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
