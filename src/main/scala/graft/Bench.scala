package graft
object Bench {
  /** The LAST stdout line, and the ONLY thing the driver reliably
    * sees: scalars only. The driver keeps a bounded stdout tail, and
    * r03-r06 all came back "parsed": null because an inline per-query
    * map pushed the head of this line out of the window —
    * BenchSummarySpec pins the length so that regression cannot
    * return silently.
    */
  /** Per-sweep totals and the interleaved calib probes ride in the
    * summary (VERDICT r15 #10): the r14 drift diagnosis needed
    * per-sweep numbers recovered after the fact — with them inline, a
    * host-noise burst is self-diagnosing from BENCH_rN.json alone
    * (one inflated sweep + a matching calib spike = burst; uniform
    * inflation at flat calibs = real regression). Bounded: 3 sweeps +
    * 4 probes ≈ 60 chars, still far inside the driver's tail window.
    */
  /** Fixed cross-round normalization anchor (VERDICT r16 #8): the
    * CPU-calib median the r15 battery recorded (bench_calib.jsonl,
    * sf0.1 line). `value_normalized` = total × (this / calib) — the
    * same arithmetic the r15/r16 drift diagnoses did by hand over the
    * summary, now self-reported: flat normalized totals at swinging
    * raw totals = host drift; a normalized jump = a real regression.
    */
  val ReferenceCalib = 0.301

  def summaryLine(total: Double, calib: Double, calib2: Double,
      calibIo: Double, calibIo2: Double, nQueries: Int, nFailed: Int,
      sfDir: String, sweepTotals: Seq[Double] = Nil,
      sweepCpu: Seq[Double] = Nil, sweepIo: Seq[Double] = Nil,
      scalePathTotal: Double = -1.0): String = {
    def arr(xs: Seq[Double]) =
      xs.map(x => f"$x%.1f").mkString("[", ",", "]")
    val normalized =
      if (calib > 0) total * ReferenceCalib / calib else total
    val scale = if (scalePathTotal >= 0) scalePathTotal else total
    s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","value_normalized":${f"$normalized%.3f"},"value_scale_path":${f"$scale%.3f"},"calib":${f"$calib%.3f"},"calib2":${f"$calib2%.3f"},"calib_io":${f"$calibIo%.3f"},"calib_io2":${f"$calibIo2%.3f"},"n_queries":$nQueries,"n_failed":$nFailed,"sweep_totals":${arr(sweepTotals)},"sweep_cpu":${arr(sweepCpu)},"sweep_io":${arr(sweepIo)},"queries_path":"bench_queries.jsonl","sf":"$sfDir"}"""
  }

  /** The FULL driver-contract line (VERDICT r17 #3): the per-query
    * minima map inline with the same total/unit/sf. Printed BEFORE the
    * compact summary, never last: the driver's stdout tail is
    * hard-capped at 2000 chars (every BENCH_r*.json "tail" is exactly
    * 2000 chars; r03-r06 came back "parsed": null when a per-query map
    * rode in the LAST line and pushed its head out of the window), and
    * a 280-query map is ~7 kB — mathematically unable to fit. A
    * full-stdout reader finds this complete
    * {"metric","value","unit","queries",...,"sf"} line; the bounded
    * tail reader keeps parsing the compact last line exactly as
    * before. Both lines report the identical value. The same map also
    * persists to the repo-tracked bench_queries.jsonl (one line per
    * run), named machine-readably by the summary's queries_path field.
    */
  def queriesLine(total: Double, qs: String, sfDir: String): String =
    s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Absorb one-time JVM/codegen/scheduler warmup outside the timed
    // loop. The flagship query warms the relational paths; the heavy
    // LSH/shingle/window machinery JITs separately and costs whichever
    // heavy query runs FIRST 2-3x (measured: dedup_groups 11.4s cold
    // vs 3.2s warm at sf0.1) — warm those code paths on the tiny
    // sf0.001 data (~2s total) so per-query numbers reflect the
    // engine, not Map iteration order. Skipped if the sibling warmup
    // dir does not exist.
    // `prev` pins the previous query until the next fence has drained
    // (see GraftSession.fence).
    var prev: org.apache.spark.sql.DataFrame = null
    try { prev = SparkEntry.entry(spark); prev.count() }
    catch { case _: Throwable => () }
    val sfCanon = new java.io.File(sfDir).getCanonicalFile
    val warm = new java.io.File(sfCanon.getParentFile, "sf0.001")
    if (warm.isDirectory && warm.getCanonicalFile != sfCanon)
      for (q <- Seq("dedup_minhash", "dedup_ngram", "dedup_simhash",
          "dedup_groups", "dedup_embed", "sim_knn_join", "graph_pagerank"))
        try { prev = SparkEntry.queries(q)(spark, warm.getPath); prev.count() }
        catch { case _: Throwable => () }
    // deterministic execution order → comparable numbers across rounds;
    // a FAILED query reports -1 (not its time-to-failure) so a broken
    // query can never read as a performance win.
    // Each query is timed PASSES times back-to-back and the MIN is
    // reported: a single-pass timer is poisoned by any transient
    // contention on the host (BENCH_r04 inflated every query 1.5-1.8x
    // incl. untouched scan-only ones — classic contended-run
    // signature), while min-of-N reports the steady-state cost the
    // engine actually has. The raw passes are kept in a side field so
    // the variance itself stays auditable.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt max 1
    // Host-speed calibration: a fixed, data-independent workload
    // (hash-agg over a generated range) timed min-of-3 AFTER warmup.
    // Round-over-round query times divide out host drift via this
    // number — round 6's box measured ~1.2x slower than round 5's on
    // untouched scan-only queries, which would otherwise read as a
    // uniform regression.
    def calibrate(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, 32)
        .selectExpr("xxhash64(id) % 1024 AS b")
        .groupBy("b").count().count()
      (System.nanoTime() - t0) / 1e9
    }.min
    // I/O-side calibration: a full decode scan of a fixed parquet
    // input. Measured: one round-6 run showed every query (including
    // untouched 0.1s ones) uniformly 1.65x slower while the CPU-only
    // calib stayed flat — storage-side neighbor contention that only
    // a real file scan exposes.
    def calibrateIo(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr(
          // modulo before SUM: a raw xxhash64 sum overflows long
          // under ANSI after ~2 rows in the worst case
          "sum(xxhash64(l_orderkey, l_extendedprice, l_shipdate) % 1024)" +
            " AS h")
        .collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    // Probes are INTERLEAVED through the run (before sweep 1, after
    // every sweep) and summarized as median-of-k: r11's two-endpoint
    // scheme measured CPU calib swinging 0.279-1.244 across same-SF
    // runs, putting ±50% error bars on any cross-round normalization.
    // The median of k probes spread across the run tracks the host
    // speed the QUERIES actually saw; the max is kept as the spread
    // indicator and the full probe lists go to bench_calib.jsonl.
    val cpuProbes = scala.collection.mutable.ArrayBuffer[Double]()
    val ioProbes = scala.collection.mutable.ArrayBuffer[Double]()
    def probeHost(): Unit = { cpuProbes += calibrate(); ioProbes += calibrateIo() }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    probeHost()
    // Passes run as full SWEEPS over the query list (pass 1 of every
    // query, then pass 2, ...), not back-to-back per query: this
    // host's noise arrives in tens-of-seconds hypervisor bursts
    // (measured 1.65x uniform inflation across identical runs with
    // flat CPU/IO calibrations), and back-to-back passes put ALL of a
    // query's samples inside one burst. Interleaved, a burst poisons
    // part of one sweep and the per-query MIN across sweeps dodges it.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val sweeps: Seq[Map[String, Double]] = (1 to passes).map { _ =>
      val sweep = names.map { case (name, fn) =>
        GraftSession.fence(spark) { prev = null }
        val t0 = System.nanoTime()
        val ok = try { prev = fn(spark, sfDir); prev.count(); true }
                 catch { case _: Throwable => false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }.toMap
      probeHost() // interleaved host-speed sample after each sweep
      sweep
    }
    val results = names.map { case (name, _) =>
      val times = sweeps.map(_(name))
      // any failed pass marks the query failed — a flaky query must
      // not report the time of its lucky pass
      val best = if (times.exists(_ < 0)) -1.0 else times.min
      (name, best, times)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val raw = results.map { case (k, _, ts) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, t, _) if t >= 0 => t }.sum
    // Raw per-pass times go to a SIDE FILE: the driver captures only a
    // bounded stdout tail, and round 5's inline passes blob pushed the
    // summary's head out of that window (BENCH_r05 "parsed": null).
    // The compact one-line summary must be the LAST stdout line.
    val rawPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_RAW",
      "target/bench_passes.json")
    // calib = MEDIAN of the k interleaved probes (the number to
    // normalize cross-round totals by); calib2 = the MAX probe — if
    // calib2 >> calib the host got busy during part of the run and
    // per-query minima near that probe are suspect. Same for io.
    val calib = median(cpuProbes.toSeq)
    val calib2 = cpuProbes.max
    val calibIo = median(ioProbes.toSeq)
    val calibIo2 = ioProbes.max
    // Per-query minima AND raw passes both go to the side file: the
    // driver captures only a ~2kB stdout TAIL, and with 128 queries the
    // inline per-query map alone is ~3.3kB — BENCH_r03..r06 all came
    // back "parsed": null because the head of the summary line
    // (total + calibrations) was truncated away. The LAST stdout line
    // must therefore carry ONLY the scalars (~170 chars).
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(rawPath),
      s"""{"queries":$qs,"passes":$raw,"sf":"$sfDir"}""" + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] raw passes not written: ${e.getMessage}")
    }
    val nFailed = results.count(_._2 < 0)
    // scale-path total (VERDICT r16 #7): the battery minus the
    // documented equality REFEREES (SparkEntry.refereeQueries — the
    // from-scratch re-mine legs whose index-served replacements share
    // their oracles). No query is removed; the summary just reports
    // what the production plan set costs alongside the full total.
    val scalePathTotal = results.collect {
      case (name, t, _)
        if t >= 0 && !SparkEntry.refereeQueries(name) => t
    }.sum
    // per-sweep totals over queries that succeeded in EVERY sweep, so
    // the sweep numbers compare like-for-like when a query flakes
    val stable = results.collect {
      case (name, best, _) if best >= 0 => name
    }.toSet
    val sweepTotals = sweeps.map(
      _.collect { case (n, t) if stable(n) && t >= 0 => t }.sum)
    val summary = summaryLine(total, calib, calib2, calibIo, calibIo2,
      results.size, nFailed, sfDir, sweepTotals, cpuProbes.toSeq,
      ioProbes.toSeq, scalePathTotal)
    // Calibration history survives driver-artifact truncation: append
    // each run's scalars to a repo-tracked JSONL so round-over-round
    // host-drift normalization can always be reconstructed from git.
    try {
      val hist = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_HIST", "bench_calib.jsonl"))
      // full interleaved probe lists ride along in the history line
      // (NOT the stdout summary — the driver's tail window is small),
      // so the spread behind the median is auditable from git
      val probes = s""","probes_cpu":${cpuProbes.map(p => f"$p%.3f")
        .mkString("[", ",", "]")},"probes_io":${ioProbes
        .map(p => f"$p%.3f").mkString("[", ",", "]")}}"""
      java.nio.file.Files.writeString(hist,
        summary.dropRight(1) + probes + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] calib history not written: ${e.getMessage}")
    }
    // Per-query continuity (VERDICT r9 #8): the minima also append to
    // a repo-TRACKED JSONL (one line per run, ~4 kB), so the next
    // round diffs per-query regressions from git history instead of
    // totals-only — target/bench_passes.json is wiped by clean builds
    // and never committed.
    try {
      val qhist = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_QHIST", "bench_queries.jsonl"))
      java.nio.file.Files.writeString(qhist,
        s"""{"sf":"$sfDir","calib":${f"$calib%.3f"},"calib_io":${f"$calibIo%.3f"},"queries":$qs}""" + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] query history not written: ${e.getMessage}")
    }
    // full contract line first (complete per-query map for full-stdout
    // readers), compact scalars-only line LAST (the only line whose
    // parse survives the driver's 2000-char stdout tail) — see
    // queriesLine's scaladoc for the measured evidence
    println(queriesLine(total, qs, sfDir))
    println(summary)
    spark.stop()
  }
}
