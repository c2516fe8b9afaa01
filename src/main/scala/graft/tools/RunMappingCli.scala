package graft.tools

import graft.GraftSession
import graft.etl.{Engine, EngineConfig}

/** CLI analog of the reference's one entry point, `runMapping()`
  * (`/root/reference/main.gs:38-139`): a directory holds the three
  * "sheets" as CSVs — `Dashboard.csv` (optional key/value config),
  * `<source>.csv`, `<map>.csv` — and the run overwrites `<output>/`.
  *
  * Usage: runMain graft.tools.RunMappingCli <dir>
  */
object RunMappingCli {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: RunMappingCli <sheets-dir>")
    val dir = args(0)
    val spark = GraftSession.local(master = sys.env.get("SPARK_MASTER"))
    try {
      val config =
        if (new java.io.File(s"$dir/Dashboard.csv").exists())
          EngineConfig.fromKeyValues(Engine.sheetPairs(
            spark.read.option("header", false).csv(s"$dir/Dashboard.csv")))
        else EngineConfig()
      val n = Engine.runMapping(spark, dir, config)
      // Success report with produced row count (main.gs:131-133).
      println(s"[graft] mapping complete: $n rows -> $dir/${config.output}")
    } catch {
      case e: Throwable =>
        // Fail-fast error isolation: one bad rule aborts the run,
        // output untouched (main.gs:135-139).
        System.err.println(s"[graft] run aborted: ${e.getMessage}")
        sys.exit(1)
    } finally spark.stop()
  }
}
