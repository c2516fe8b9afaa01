package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The multi-action battery: a frozen list of `SparkEntry.queries`
  * that each fire many Spark jobs, run in seeded order, each op timed
  * as construction plus `count()` like graft.Bench. The JVM's working
  * directory is the run's work directory, so any persisted index a
  * query serves from lands there.
  */
final class BatteryWorkload(spark: SparkSession, inputs: String, cfg: JsonNode,
    rec: Recorder) extends Workload {
  private val tables = s"$inputs/tables"
  private val names = cfg.get("queries").elements.asScala.map(_.asText).toSeq

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case f @ ("dedup" | "text" | "sim" | "pipeline" | "graph" | "events") => f
    case _ => "other"
  }

  /** Set-up: drop the persisted indexes, then construct each query
    * that serves from one; construction builds the index.
    */
  def setup(dir: String): Unit = {
    deleteTree(new File("target"))
    cfg.get("setup_queries").elements.asScala.map(_.asText)
      .foreach(q => SparkEntry.queries(q)(spark, tables))
  }

  /** One pass that writes each query's result for the DuckDB oracle
    * check; the index-served queries serve from the last set-up's
    * indexes.
    */
  def warmUp(): Unit = {
    names.foreach { q =>
      try SparkEntry.queries(q)(spark, tables).write.parquet(s"$checks/$q")
      catch { case e: Throwable =>
        setupErrors += s"$q: ${Main.describe(e)}" }
      Main.release(spark)
    }
    Main.json.writeValue(new File(s"$checks/oracle_sql.json"),
      names.map(q => q -> SparkEntry.oracleSql.get(q).orNull).toMap)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def op(index: Int, spec: JsonNode): Unit = {
    val q = spec.get("kind").asText
    rec.op(index, q) {
      rec.span(s"queries.${family(q)}") {
        val df = rec.span("queries.construct")(SparkEntry.queries(q)(spark, tables))
        rec.span("queries.execute")(df.count())
      }
    } { _ => None }
  }

  override def finish(): Map[String, Double] =
    Map("index_disk_mb" -> Disk.mb(new File("target")))
}
