package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.etl.{Engine, EngineConfig}
import graft.etl.dsl.{Compiler, Parser}

/** The paper's three-sheet run: `Engine.runMapping` over an all-string
  * Source sheet (lineitem) with seeded rule tables, a joinable Orders
  * sheet, run history on with its growth-guard compaction, and the
  * Output overwritten by every op.
  */
final class EtlWorkload(spark: SparkSession, inputs: String, cfg: JsonNode,
    rec: Recorder) extends Workload {
  private val plan = Main.json.readTree(new File(s"$inputs/plan.json"))
  private val sourceRows = plan.get("source_rows").asLong
  private val compactEvery = cfg.get("history_compact_every").asInt
  private var sheets = ""
  private val seenMaps = scala.collection.mutable.Set[String]()

  private def config(map: String) = EngineConfig(map = map,
    output = "Output", history = "Runs", historyCompactEvery = compactEvery)

  def setup(dir: String): Unit = {
    sheets = s"$dir/sheets"
    val src = Paths.get(s"$inputs/sheets")
    Files.createDirectories(Paths.get(sheets))
    Files.list(src).iterator.asScala.foreach(p =>
      Files.copy(p, Paths.get(sheets).resolve(p.getFileName),
        StandardCopyOption.REPLACE_EXISTING))
    // the workbook's first run: output and run history created
    Engine.runMapping(spark, sheets, config("Map_type"))
  }

  /** Two runs of every rule table on the last set-up's workbook: after
    * one, the first timed cycle was still 10-15% slower than the second
    * as the JIT kept compiling.
    */
  def warmUp(): Unit = {
    val maps = plan.get("maps").fieldNames.asScala.toSeq.sorted
    (1 to 2).foreach(_ =>
      maps.foreach(m => Engine.runMapping(spark, sheets, config(m))))
  }

  /** The pre-write layers of runMapping, called one by one so the
    * traced run can time each. Only the traced run makes these calls,
    * after the op's clock has stopped: the op window, and every Spark
    * job, stage, query and GC pause attributed to it, holds the
    * program's own runMapping alone.
    */
  private def tracedLayers(map: String, join: Boolean): Unit = {
    val (source, rules, others) = rec.span("etl.Engine.read_sheets") {
      val s = Engine.readSheetCsv(spark, s"$sheets/Source.csv")
      val r = Engine.sheetPairs(
        Engine.readSheetCsv(spark, s"$sheets/$map.csv"))
      val o = if (join)
          Map("Orders" -> Engine.readSheetCsv(spark, s"$sheets/Orders.csv"))
        else Map.empty[String, org.apache.spark.sql.DataFrame]
      (s, r, o)
    }
    val otherHeaders = others.map { case (n, d) => n -> d.columns.toSeq }
    val parsed = rec.span("etl.dsl.parse") {
      Parser.parse(rules, source.columns.toSeq, otherHeaders,
        Engine.registeredPlugins(spark))
    }
    rec.span("etl.dsl.compile") {
      Compiler.compile(parsed,
        source.columns.toSeq ++ otherHeaders.values.flatten, lit(1L))
    }
    rec.span("etl.Engine.transform") {
      Engine.transform(source, rules, sheets = others)
    }
  }

  def op(index: Int, spec: JsonNode): Unit = {
    val kind = spec.get("kind").asText
    val map = spec.get("map").asText
    rec.op(index, kind) {
      rec.span(s"etl.Engine.run.$kind") {
        Engine.runMapping(spark, sheets, config(map))
      }
    } { rows =>
      val d = outputDigest()
      rec.fact("source_rows", sourceRows.toDouble)
      if (rec.tracing) {
        rec.fact("etl.filter_selectivity", rows.toDouble / sourceRows)
        rec.fact("etl.history_files", new File(s"$sheets/Runs").listFiles()
          .count(_.getName.endsWith(".parquet")).toDouble)
      }
      // the first output of each rule table is kept for the DuckDB
      // oracle; every op's digest is compared against that copy's
      rec.fact("digest_hi", (d >>> 32).toDouble)
      rec.fact("digest_lo", (d & 0xffffffffL).toDouble)
      if (seenMaps.add(map)) copyOutput(map)
      None
    }
    if (rec.tracing) tracedLayers(map, kind == "join")
  }

  private def parts: Seq[File] = new File(s"$sheets/Output").listFiles()
    .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    .toSeq

  /** Order-independent digest of the Output's data lines: the sum of
    * each line's leading 8 SHA-256 bytes (summarize.py computes the
    * same over the kept copy).
    */
  private def outputDigest(): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    for (f <- parts; line <- Files.readAllLines(f.toPath, UTF_8).asScala.drop(1)) {
      val h = md.digest(line.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    sum
  }

  private def copyOutput(map: String): Unit = {
    val dst = Paths.get(s"$checks/$map")
    Files.createDirectories(dst)
    parts.foreach(f => Files.copy(f.toPath, dst.resolve(f.getName)))
  }

  override def finish(): Map[String, Double] =
    Map("disk_mb" -> Disk.mb(new File(s"$sheets/Output")),
      "history_mb" -> Disk.mb(new File(s"$sheets/Runs")))
}

object Disk {
  def bytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(bytes).sum
  def mb(f: File): Double = bytes(f) / 1048576.0
}
