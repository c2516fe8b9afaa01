package org.apache.spark.sql.graft

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The one `private[sql]` doorway the library uses: turning a custom
  * [[LogicalPlan]] node into a `DataFrame`, a custom Catalyst
  * [[Expression]] into a `Column` (and a `Column` back into its
  * expression, for the Column API's arguments), reading a session's
  * [[SQLConf]], and the CSV row parser and parquet writer factory a
  * scan or write task uses, for driver-side sheet reads and
  * single-record appends. Spark deliberately keeps `Dataset.ofRows`
  * and `ExpressionUtils` package-private — extension libraries
  * (Delta, Iceberg, spark-rapids…) all open this same door with a
  * shim in a subpackage of `org.apache.spark.sql`. Nothing else in the library lives
  * outside the `graft` namespace.
  */
object GraftPlanBridge {
  def ofRows(df: DataFrame, plan: LogicalPlan): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(spark, plan)
  }

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** CSV lines to rows, exactly as a CSV scan task parses its split. */
  def parseCsvLines(lines: Iterator[String], parser: UnivocityParser,
      checker: CSVHeaderChecker, schema: StructType): Iterator[InternalRow] =
    UnivocityParser.parseIterator(lines, parser, checker, schema)

  /** The factory a Spark parquet write job hands its tasks, configured
    * into `job` with the session's parquet options (codec, timestamp
    * and legacy-rebase settings), so a file it writes carries the
    * same footer as one a Spark write of `schema` would.
    */
  def parquetWriterFactory(spark: SparkSession, job: Job,
      schema: StructType): OutputWriterFactory = {
    val conf = sqlConf(spark)
    ParquetUtils.prepareWrite(conf, job, schema,
      new ParquetOptions(Map.empty[String, String], conf))
  }
}
