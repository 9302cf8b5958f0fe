package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The classic-API internals graft needs, re-exported
  * from inside the `org.apache.spark.sql` package (the standard shim
  * pattern connector libraries use for classic-API internals):
  *
  *  - [[ofRows]]: materialize an already-analyzed LogicalPlan as a
  *    DataFrame — how the MERGE command turns the statement's USING
  *    source plan into the store's merge input without re-parsing SQL,
  *    and how the store reads its files (a DSv2 relation over the
  *    graft scan);
  *  - [[column]]: wrap a Catalyst Expression as a public Column — how
  *    translated assignment/condition expressions cross back into the
  *    public DataFrame API the store is built on;
  *  - [[recacheTable]]: re-cache every cached plan that reads a
  *    catalog table (by its qualified name parts, time-travelled reads
  *    excepted) — what the SQL DML commands do after their commit,
  *    exactly as Spark's own DSv2 DELETE does;
  *  - [[asStreamingBatch]]: re-tag a batch DataFrame as streaming — the
  *    one thing a V1 streaming `Source.getBatch` result must carry
  *    (MicroBatchExecution asserts `isStreaming`); Delta's DeltaSource
  *    crosses the same seam via DeltaLog.createDataFrame.
  *
  * Nothing else may live here: every other Spark touchpoint in the repo
  * goes through the public DataFrame/DSv2/extension APIs — with ONE
  * sibling exception, [[org.apache.spark.sql.execution.datasources
  * .GraftParquetReadShim]], which re-exports the per-file Parquet/ORC
  * reader, the file-split packing, the task input metrics and the
  * nullable file schema that the one scan of table files
  * (graft.catalog.GraftScan) and the store's copy-on-write rewrites need.
  */
object GraftSparkInternals {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def recacheTable(spark: SparkSession, nameParts: Seq[String]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.sharedState.cacheManager.recacheTableOrView(cs, nameParts, false)
  }

  def asStreamingBatch(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)
  }
}
