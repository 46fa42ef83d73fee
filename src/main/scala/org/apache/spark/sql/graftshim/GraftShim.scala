package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Column <-> Expression bridge for graft's native Catalyst
  * expressions. Spark keeps these converters `private[sql]`, so —
  * like every Spark extension library shipping custom expressions —
  * we expose them from a shim inside the sql package namespace.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan node (the entry every
    * custom-operator library needs; `Dataset.ofRows` is `private[sql]`).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a native expression as a SQL function on a LIVE session
    * (the session-build-time path is `spark.sql.extensions` →
    * [[graft.GraftExtensions]], pure public API; this covers sessions
    * that already exist — `sessionState` is `private[sql]`).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** Block until every listener event posted so far has been
    * delivered. Listener events arrive asynchronously, so code that
    * reads what a listener recorded drains the bus first
    * (`listenerBus` is `private[spark]`).
    */
  def waitUntilEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The Spark schema of one parquet file, read on the driver from its
    * footer — the rule Spark's schema-inference task runs
    * (`ParquetFileFormat.readSchemaFromFooter`): the schema Spark wrote
    * under the `org.apache.spark.sql.parquet.row.metadata` key, field
    * metadata included, or the Parquet schema converted under the
    * session's parquet confs when that key is absent. Reading it here
    * costs one footer read and no Spark job.
    */
  def parquetSchema(spark: org.apache.spark.sql.SparkSession, file: String): StructType = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val path = new Path(file)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(path, session.sessionState.newHadoopConf()), NO_FILTER)
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(session.sessionState.conf))
  }
}
