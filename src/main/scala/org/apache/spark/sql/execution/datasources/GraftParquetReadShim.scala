package org.apache.spark.sql.execution.datasources

import java.io.Closeable

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.{InterruptibleIterator, SparkContext, TaskContext}
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.InputFileBlockHolder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.joins.{HashedRelation, HashedRelationBroadcastMode}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.NextIterator

/** The one `private[sql]` seam graft's file reads need — the scan
  * behind every read of table files (graft.catalog.GraftScan) and the
  * store's copy-on-write rewrite (graft.store.GraftTable's DML) —
  * re-exported from inside the package (same shim pattern as
  * [[org.apache.spark.sql.GraftSparkInternals]], which documents the
  * rule: every other Spark touchpoint goes through public APIs). Pieces
  * of `FileSourceScanExec`/`FileScanRDD`'s machinery:
  *
  *  - [[buildReader]]: the format's (Parquet or ORC `FileFormat`)
  *    `buildReaderWithPartitionValues`, built ON THE DRIVER (it captures
  *    SQLConf — field-id resolution, rebase modes, vectorization — at
  *    build time). It returns columnar batches exactly when the format's
  *    `supportBatch` accepts the projection, as `FileSourceScanExec`
  *    decides; the returned [[FileReader]] is serializable and reads one
  *    file split with column pruning (nested fields included) and
  *    row-group/stripe filter pushdown, as a [[FileRows]] its caller
  *    closes. Re-implementing a decoder would be both slower and wrong.
  *    A reader with no pushed filters is built once per input and
  *    reused by later statements ([[Prepared]]); the store's
  *    copy-on-write reads all push none.
  *  - [[filePartitions]]: Spark's own split + bin-packing of a file list
  *    into read tasks (`FilePartition.maxSplitBytes` +
  *    `getFilePartitions`), so a scan plans exactly as many tasks as a
  *    plain file read of the same files.
  *  - [[withInputMetrics]]: a task's reads counted in its input metrics
  *    the way `FileScanRDD` counts them.
  *  - [[afterTasksEnd]]: clean up after a failed job only once every
  *    task it launched has ended.
  *  - [[asNullable]]: a table schema as its data files hold it.
  *  - [[Prepared]], [[confEntries]]: driver-side readers and writers
  *    kept for reuse, keyed on everything they were built from.
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
    // a batch reader hands ColumnarBatch objects disguised as
    // InternalRow (the FileFormat contract whole-stage codegen
    // exploits); unwrap them, so row callers always see true InternalRows
    private lazy val rows = raw.flatMap {
      case b: ColumnarBatch => b.rowIterator().asScala
      case r: InternalRow => Iterator.single(r)
    }
    override def hasNext: Boolean = rows.hasNext
    override def next(): InternalRow = rows.next()
    /** The read's batches, for a reader built with `batch` set. */
    def batches: Iterator[ColumnarBatch] = raw.asInstanceOf[Iterator[ColumnarBatch]]
    override def close(): Unit = {
      raw match {
        case it: NextIterator[_] => it.closeIfNeeded()
        case c: Closeable => c.close()
        case _ => ()
      }
      InputFileBlockHolder.unset()
    }
  }

  /** A serializable per-file reader ([[buildReader]]): `batch` says
    * whether its reads return columnar batches. Opening a file names it
    * as the task's input file, as `FilePartitionReader` does, so
    * `input_file_name()` above the read sees it. */
  final class FileReader private[GraftParquetReadShim] (
      read: PartitionedFile => Iterator[InternalRow], val batch: Boolean) extends Serializable {
    def apply(file: PartitionedFile): FileRows = {
      InputFileBlockHolder.set(file.urlEncodedPath, file.start, file.length)
      new FileRows(read(file))
    }
  }

  /** The content of `conf`, every string-valued entry: what a reader
    * or writer prepared from `conf` depends on. Two confs with equal
    * entries prepare equal objects. */
  def confEntries(conf: Configuration): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String](conf.size() * 2)
    conf.iterator().forEachRemaining(e => m.put(e.getKey, e.getValue))
    m
  }

  /** Driver-side objects prepared once and reused by every later
    * statement with the same inputs: a small least-recently-used map
    * from a SparkContext and a key — which must hold everything the
    * object was built from, the [[confEntries]] of its Hadoop conf
    * included, so a `SET` or a change to the context's Hadoop conf
    * builds a new one — to the object. At most `capacity` entries are
    * kept; an evicted one is dropped (the ContextCleaner frees any
    * broadcast it holds once nothing references it), and an entry whose
    * SparkContext has stopped is dropped, never reused. Two threads
    * missing the same key both build; the later object is kept. */
  final class Prepared[K, V](capacity: Int) {
    private val entries = new java.util.LinkedHashMap[(SparkContext, K), V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(SparkContext, K), V]): Boolean =
        size() > capacity
    }

    def apply(sc: SparkContext, key: K)(build: => V): V = {
      val k = (sc, key)
      val hit = entries.synchronized {
        entries.keySet.removeIf(_._1.isStopped)
        Option(entries.get(k))
      }
      hit.getOrElse {
        val v = build
        entries.synchronized(entries.put(k, v))
        v
      }
    }
  }

  /** Readers with no pushed filters ([[buildReader]]): both reads of a
    * copy-on-write UPDATE, DELETE or MERGE, a catalog scan with no
    * filter. */
  private val unfilteredReaders =
    new Prepared[(String, StructType, StructType, java.util.Map[String, String]),
      FileReader](8)

  /** Build the serializable per-file reader. It returns columnar
    * batches when the format can batch `requiredSchema` (its own
    * `supportBatch`: vectorization on, flat or supported nested types,
    * no more columns than `spark.sql.codegen.maxFields`), rows
    * otherwise. The format broadcasts the Hadoop conf the reader opens
    * files with, so each build encodes the whole conf once. A reader
    * with no `filters` is built once per format, data schema, required
    * schema and content of the session's Hadoop conf view
    * ([[Prepared]]) and reused by later statements. A reader with
    * pushed filters (a scan's) is built per call and not retained: its
    * filters carry one statement's literals, so keeping it would hold
    * one conf per distinct literal with no later reuse. Pushed filters
    * buy row-group (and bloom) skipping inside a file; a read that stops
    * at its first matching row, as a copy-on-write probe does, pushes
    * none and takes the shared reader. */
  def buildReader(spark: SparkSession,
                  format: String,
                  dataSchema: StructType,
                  requiredSchema: StructType,
                  filters: Seq[Filter]): FileReader = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // the session's Hadoop conf view: the context's conf with the SQL
    // conf overlaid — its content keys every SQLConf value the format
    // captures as well
    val hadoopConf = classic.sessionState.newHadoopConfWithOptions(Map.empty)
    def build(): FileReader = {
      val fmt = fileFormat(format)
      val batch = fmt.supportBatch(classic, requiredSchema)
      new FileReader(fmt.buildReaderWithPartitionValues(
        sparkSession = classic,
        dataSchema = dataSchema,
        partitionSchema = new StructType(),
        requiredSchema = requiredSchema,
        filters = filters,
        options = Map(FileFormat.OPTION_RETURNING_BATCH -> batch.toString),
        hadoopConf = hadoopConf), batch)
    }
    if (filters.nonEmpty) build()
    else unfilteredReaders(spark.sparkContext,
      (format, dataSchema, requiredSchema, confEntries(hadoopConf)))(build())
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

  /** Run a task's file reads (`body`) and add them to the task's input
    * metrics as `FileScanRDD` does: the bytes read on this thread
    * (Hadoop FileSystem statistics) and the rows of every read `body`
    * passes through the counter it is handed. The counter also checks
    * the task's kill flag at every row, as `FileScanRDD` does, so a
    * task of a failed or cancelled job stops at its next row.
    * InputMetrics' setters are `private[spark]`. */
  def withInputMetrics[T](ctx: TaskContext)(
      body: (Iterator[InternalRow] => Iterator[InternalRow]) => T): T = {
    val in = ctx.taskMetrics().inputMetrics
    val before = in.bytesRead
    val bytesOnThread = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    try body(rows => new InterruptibleIterator(ctx, rows.map { r => in.incRecordsRead(1); r }))
    finally in.setBytesRead(before + bytesOnThread())
  }

  /** Run `jobs` (Spark jobs this thread submits); when it throws, run
    * `cleanup` only after every task those jobs launched has ended, then
    * rethrow. A job fails as soon as one task fails, while its other
    * running tasks are only flagged for kill: one of them can still
    * write after a cleanup run at once. The job's task starts and ends
    * are counted by a listener; the bus is drained before the count is
    * read, because task ends reach the listener asynchronously. */
  def afterTasksEnd[T](sc: SparkContext)(jobs: => T)(cleanup: => Unit): T = {
    val tag = java.util.UUID.randomUUID().toString
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val running = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(JobTagProperty) == tag)
          e.stageIds.foreach(stages.add)
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (stages.contains(e.stageId)) running.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) running.decrementAndGet()
    }
    val previous = sc.getLocalProperty(JobTagProperty)
    sc.addSparkListener(listener)
    sc.setLocalProperty(JobTagProperty, tag)
    try jobs
    catch {
      case t: Throwable =>
        def settled: Boolean = {
          try sc.listenerBus.waitUntilEmpty()
          catch { case _: java.util.concurrent.TimeoutException => () }
          running.get <= 0
        }
        try {
          while (!settled) Thread.sleep(10)
          cleanup
        } catch { case e: Throwable => t.addSuppressed(e) }
        throw t
    } finally {
      sc.setLocalProperty(JobTagProperty, previous)
      sc.removeSparkListener(listener)
    }
  }

  /** The local property naming the jobs of one [[afterTasksEnd]] call. */
  private val JobTagProperty = "graft.cleanupTag"

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
