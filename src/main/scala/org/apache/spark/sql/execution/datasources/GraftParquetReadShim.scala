package org.apache.spark.sql.execution.datasources

import java.io.Closeable

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.TaskContext
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.joins.{HashedRelation, HashedRelationBroadcastMode}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.NextIterator

/** The one `private[sql]` seam graft's file reads need — the catalog
  * scan (graft.catalog.GraftScan) and the store's copy-on-write rewrite
  * (graft.store.GraftTable's DML) — re-exported from inside the package
  * (same shim pattern as [[org.apache.spark.sql.GraftSparkInternals]],
  * which documents the rule: every other Spark touchpoint goes through
  * public APIs). Pieces of `FileSourceScanExec`/`FileScanRDD`'s
  * machinery:
  *
  *  - [[buildReader]]: the format's (Parquet or ORC `FileFormat`)
  *    `buildReaderWithPartitionValues`, built ON THE DRIVER (it captures
  *    SQLConf — field-id resolution, rebase modes, vectorization — at
  *    build time); the returned closure is serializable and reads one
  *    file split with column pruning (nested fields included) and
  *    row-group/stripe filter pushdown, as a [[FileRows]] its caller
  *    closes. Re-implementing a decoder would be both slower and wrong.
  *  - [[filePartitions]]: Spark's own split + bin-packing of a file list
  *    into read tasks (`FilePartition.maxSplitBytes` +
  *    `getFilePartitions`), so a catalog scan plans exactly as many
  *    tasks as a plain file read of the same files.
  *  - [[pushableFilters]]: the data-source filters a predicate's
  *    conjuncts translate to (`DataSourceStrategy.translateFilter`).
  *  - [[withInputMetrics]]: a task's reads counted in its input metrics
  *    the way `FileScanRDD` counts them.
  *  - [[asNullable]]: a table schema as its data files hold it.
  *  - [[rowHash]], [[joinKey]]: the `HashedRelation` a broadcast hash
  *    join builds, over rows the driver holds, and its keys as the
  *    optimizer normalizes them — the source side of the store's
  *    copy-on-write MERGE.
  */
object GraftParquetReadShim {

  private def fileFormat(format: String): FileFormat = format match {
    case "parquet" => new ParquetFileFormat()
    case "orc" => new OrcFileFormat()
    case other => throw new IllegalArgumentException(s"unsupported graft file format '$other'")
  }

  /** `sch` with every column, element and value nullable: a stored NOT
    * NULL is not enforced on the data (later appends and updates can
    * write NULL there), so data files declare every column optional and
    * everything that reads or evaluates over their rows sees it
    * nullable, as `spark.read.schema` does. */
  def asNullable(sch: StructType): StructType = sch.asNullable

  /** The rows of one file read. `close` releases the file's reader
    * (stream, footer, batch) the way `FileScanRDD` does between files;
    * a read that runs to its end has already released it. */
  final class FileRows private[GraftParquetReadShim] (raw: Iterator[_])
      extends Iterator[InternalRow] with Closeable {
    // a vectorized read may hand ColumnarBatch objects disguised as
    // InternalRow (the FileFormat contract whole-stage codegen
    // exploits); unwrap them, so callers always see true InternalRows
    private val rows = raw.flatMap {
      case b: ColumnarBatch => b.rowIterator().asScala
      case r: InternalRow => Iterator.single(r)
    }
    override def hasNext: Boolean = rows.hasNext
    override def next(): InternalRow = rows.next()
    override def close(): Unit = raw match {
      case it: NextIterator[_] => it.closeIfNeeded()
      case c: Closeable => c.close()
      case _ => ()
    }
  }

  /** Build the serializable per-file reader. */
  def buildReader(spark: SparkSession,
                  format: String,
                  dataSchema: StructType,
                  requiredSchema: StructType,
                  filters: Seq[Filter]): PartitionedFile => FileRows = {
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
    file => new FileRows(readFile(file))
  }

  /** Read tasks for `(absolute path, length)` files, planned the way
    * `FileSourceScanExec` plans a non-bucketed read: files split at
    * `maxSplitBytes` when the format allows (and `split` is on; off,
    * every file stays whole), largest first, packed by
    * `getFilePartitions`. */
  def filePartitions(spark: SparkSession, format: String,
                     files: Seq[(String, Long)], split: Boolean = true): Seq[FilePartition] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val statuses = files.map { case (p, len) =>
      FileStatusWithMetadata(new FileStatus(len, false, 0, 0L, 0L, new Path(p)))
    }
    val maxSplitBytes =
      FilePartition.maxSplitBytes(classic, Seq(PartitionDirectory(InternalRow.empty, statuses)))
    val fmt = fileFormat(format)
    val splits = statuses.flatMap { st =>
      PartitionedFileUtil.splitFiles(st, st.getPath,
        split && fmt.isSplitable(classic, Map.empty, st.getPath), maxSplitBytes,
        InternalRow.empty)
    }.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(classic, splits, maxSplitBytes)
  }

  /** One whole file as a read split. */
  def mkFile(path: String, length: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, length, Array.empty, 0L, length)

  /** The data-source filters the deterministic conjuncts of `cond` (a
    * predicate over top-level attributes) translate to — what a reader
    * may push down without changing which rows satisfy `cond`. */
  def pushableFilters(cond: Expression): Seq[Filter] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).filter(_.deterministic)
      .flatMap(DataSourceStrategy.translateFilter(_, supportNestedPredicatePushdown = false))
  }

  /** Run a task's file reads (`body`) and add them to the task's input
    * metrics as `FileScanRDD` does: the bytes read on this thread
    * (Hadoop FileSystem statistics) and the rows of every read `body`
    * passes through the counter it is handed. InputMetrics' setters are
    * `private[spark]`. */
  def withInputMetrics[T](ctx: TaskContext)(
      body: (Iterator[InternalRow] => Iterator[InternalRow]) => T): T = {
    val in = ctx.taskMetrics().inputMetrics
    val before = in.bytesRead
    val bytesOnThread = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    try body(_.map { r => in.incRecordsRead(1); r })
    finally in.setBytesRead(before + bytesOnThread())
  }

  /** Rows hashed on key expressions, serializable for a broadcast. A
    * row whose key holds a NULL is left out, as in a hash join's build
    * side. Tasks sharing one copy must each take [[readOnly]]. */
  final class RowHash private[GraftParquetReadShim] (rel: HashedRelation) extends Serializable {
    def readOnly: RowHash = new RowHash(rel.asReadOnlyCopy())
    /** The rows whose key equals `key` (an `UnsafeRow` of the key
      * types), or null when there are none; the returned rows are
      * reused as the iterator advances. */
    def get(key: InternalRow): Iterator[InternalRow] = rel.get(key)
  }

  /** A join key as a hash join compares it: floating-point NaN and -0.0
    * normalized, as the optimizer does to every join's keys. */
  def joinKey(key: Expression): Expression = NormalizeFloatingNumbers.normalize(key)

  /** Hash `rows` (`UnsafeRow`s) on `keys`, bound to their columns. */
  def rowHash(rows: Array[InternalRow], keys: Seq[Expression]): RowHash =
    new RowHash(HashedRelationBroadcastMode(keys).transform(rows))
}
