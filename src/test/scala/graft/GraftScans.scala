package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.catalog.GraftScan

/** The graft scans a plan reads through, and the files they plan. */
object GraftScans {
  def of(plan: SparkPlan): Seq[GraftScan] =
    plan.collect { case b: BatchScanExec => b.scan }.collect { case g: GraftScan => g }

  def of(df: DataFrame): Seq[GraftScan] = of(df.queryExecution.sparkPlan)

  /** The files `df`'s graft scans open after pruning (table-relative
    * paths): what `Dataset.inputFiles` reports for a file-relation read. */
  def inputFiles(df: DataFrame): Array[String] =
    of(df).flatMap(_.files.map(_.path)).distinct.toArray
}
