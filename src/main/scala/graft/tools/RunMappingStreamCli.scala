package graft.tools

import graft.GraftSession
import graft.etl.{Engine, EngineConfig}
import graft.streaming.StreamingOps

/** Streaming counterpart of `RunMappingCli`: the same sheet directory
  * layout, but `<dir>/<source>/` is a DIRECTORY of CSV files that may
  * keep growing, and the output is a checkpointed parquet sink at
  * `<dir>/<output>/` (checkpoint at `<dir>/_checkpoint`). Re-running
  * resumes from the checkpoint and processes only new files —
  * exactly-once incremental ETL with zero rule changes vs batch.
  *
  * The Source sheet's headers are sniffed from the files already
  * present (a streaming read needs a declared schema), so at least one
  * CSV must exist on first run.
  *
  * Usage: runMain graft.tools.RunMappingStreamCli <sheets-dir> [maxFilesPerTrigger]
  *   processes everything currently available, then exits (run it on a
  *   schedule, or embed `StreamingOps.runMappingStream` for a
  *   continuous query). `maxFilesPerTrigger` (default 1000) bounds how
  *   many backlog files one micro-batch ingests — a huge catch-up
  *   drains as many bounded batches; pass 0 to disable.
  */
object RunMappingStreamCli {
  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 2,
      "usage: RunMappingStreamCli <sheets-dir> [maxFilesPerTrigger]")
    val dir = args(0)
    val maxFiles = if (args.length == 2) args(1).toInt else 1000
    val spark = GraftSession.local(master = sys.env.get("SPARK_MASTER"))
    try {
      val config =
        if (new java.io.File(s"$dir/Dashboard.csv").exists())
          EngineConfig.fromKeyValues(Engine.sheetPairs(
            spark.read.option("header", false).csv(s"$dir/Dashboard.csv")))
        else EngineConfig()
      val srcDir = s"$dir/${config.source}"
      val headers = Engine.readSheetCsv(spark, srcDir).columns.toSeq
      val mapRules = Engine.readSheetPairs(spark, s"$dir/${config.map}.csv")
      val outDir = s"$dir/${config.output}"
      // checkpoint keyed to SOURCE and OUTPUT: re-pointing Dashboard's
      // `output` must not resume from another sink's progress, and
      // re-pointing `source` while keeping the same `output` must not
      // resume from a file log recorded against the old source dir —
      // either would silently skip (or double-read) source files.
      // resolveCheckpoint also migrates the legacy <output>-keyed dir
      // and refuses a fresh key over an already-committed sink log.
      val q = StreamingOps.runMappingStream(spark, srcDir, headers,
        mapRules, outDir,
        StreamingOps.resolveCheckpoint(dir, config.source, config.output),
        maxFiles)
      q.processAllAvailable()
      q.stop()
      // a catch-up that commits zero part files (header-only seed
      // file, or the filter drops every row) is SUCCESS with n=0, not
      // an abort — parquet schema inference would throw on it
      val hasParts = Option(new java.io.File(outDir).listFiles())
        .exists(_.exists(_.getName.endsWith(".parquet")))
      val n = if (hasParts) spark.read.parquet(outDir).count() else 0L
      println(s"[graft] stream mapping caught up: $n total rows -> $outDir")
    } catch {
      case e: Throwable =>
        System.err.println(s"[graft] run aborted: ${e.getMessage}")
        sys.exit(1)
    } finally spark.stop()
  }
}
