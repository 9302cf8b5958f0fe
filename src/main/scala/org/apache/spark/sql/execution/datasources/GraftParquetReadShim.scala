package org.apache.spark.sql.execution.datasources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The one `private[sql]` seam graft's catalog scan (graft.catalog
  * .GraftScan) needs, re-exported from inside the package (same shim
  * pattern as [[org.apache.spark.sql.GraftSparkInternals]], which
  * documents the rule: every other Spark touchpoint goes through public
  * APIs). Two pieces of `FileSourceScanExec`'s machinery:
  *
  *  - [[buildReader]]: the format's (Parquet or ORC `FileFormat`)
  *    `buildReaderWithPartitionValues`, built ON THE DRIVER (it captures
  *    SQLConf — field-id resolution, rebase modes, vectorization — at
  *    build time); the returned closure is serializable and reads one
  *    file split with column pruning (nested fields included) and
  *    row-group/stripe filter pushdown. Re-implementing a decoder would
  *    be both slower and wrong.
  *  - [[filePartitions]]: Spark's own split + bin-packing of a file list
  *    into read tasks (`FilePartition.maxSplitBytes` +
  *    `getFilePartitions`), so a catalog scan plans exactly as many
  *    tasks as a plain file read of the same files.
  */
object GraftParquetReadShim {

  private def fileFormat(format: String): FileFormat = format match {
    case "parquet" => new ParquetFileFormat()
    case "orc" => new OrcFileFormat()
    case other => throw new IllegalArgumentException(s"unsupported graft file format '$other'")
  }

  /** Build the serializable per-file reader. When the session's
    * vectorized reader is enabled the closure yields ColumnarBatch
    * objects disguised as InternalRow (the FileFormat contract that
    * whole-stage codegen exploits); this wrapper unwraps them back to
    * rows, so callers always see true InternalRows. */
  def buildReader(spark: SparkSession,
                  format: String,
                  dataSchema: StructType,
                  requiredSchema: StructType,
                  filters: Seq[Filter]): PartitionedFile => Iterator[InternalRow] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val readFile = fileFormat(format).buildReaderWithPartitionValues(
      sparkSession = classic,
      dataSchema = dataSchema,
      partitionSchema = new StructType(),
      requiredSchema = requiredSchema,
      filters = filters,
      // rows, never ColumnarBatch: this reader feeds a row-based
      // PartitionReader (the vectorized decoder still runs underneath;
      // it just hands rows off the batch)
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = classic.sessionState.newHadoopConfWithOptions(Map.empty))
    file =>
      readFile(file).flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case r: InternalRow => Iterator.single(r)
      }
  }

  /** Read tasks for `(absolute path, length)` files, planned the way
    * `FileSourceScanExec` plans a non-bucketed read: files split at
    * `maxSplitBytes` when the format allows, largest first, packed by
    * `getFilePartitions`. */
  def filePartitions(spark: SparkSession, format: String,
                     files: Seq[(String, Long)]): Seq[FilePartition] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val statuses = files.map { case (p, len) =>
      FileStatusWithMetadata(new FileStatus(len, false, 0, 0L, 0L, new Path(p)))
    }
    val maxSplitBytes =
      FilePartition.maxSplitBytes(classic, Seq(PartitionDirectory(InternalRow.empty, statuses)))
    val fmt = fileFormat(format)
    val splits = statuses.flatMap { st =>
      PartitionedFileUtil.splitFiles(st, st.getPath,
        fmt.isSplitable(classic, Map.empty, st.getPath), maxSplitBytes, InternalRow.empty)
    }.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(classic, splits, maxSplitBytes)
  }

  /** One whole file as a read split. */
  def mkFile(path: String, length: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, length, Array.empty, 0L, length)
}
