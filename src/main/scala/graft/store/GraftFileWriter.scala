package graft.store

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{GraftParquetReadShim, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** What one write task reports: the finished stats of the file it wrote,
  * or None when its partition was empty (an empty partition opens no
  * file). The driver commits exactly these files — never a listing. */
private[store] final case class GraftFileMessage(stat: Option[FileStat])
  extends WriterCommitMessage

/** The single data-file writer of graft tables, prepared on the driver
  * and shipped to the write tasks. Both write entry points use it: the
  * store's own jobs ([[GraftFileWriter.write]] — appends, DML rewrites,
  * compact, create, streaming sinks) and the catalog's DSv2 batch write
  * (SQL INSERT, CTAS), which hands this factory to Spark as-is.
  *
  * Everything that must match between the two paths is fixed here:
  * the format's `OutputWriterFactory` (schema with field-id metadata,
  * codec, timezone and bloom options baked into the job conf, exactly
  * `FileFormatWriter`'s driver-side capture), the `data/<uuid8>` target
  * directory, and the stats the tasks compute as rows go by. */
final class GraftFileWriterFactory private[store] (
    owf: OutputWriterFactory,
    conf: SerializableHadoopConf,
    private[store] val schema: StructType,
    root: String,
    subdir: String,
    private[store] val statOrdinals: Array[Int],
    private[store] val render: Array[Expression],
    private[store] val bucket: Option[(Int, Int)]) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftFileWriter(this, partitionId, taskId)

  /** Task side: open the output file `subdir/name` (first row only). */
  private[store] def open(partitionId: Int, taskId: Long): (OutputWriter, String) = {
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId), (taskId & 0x7fffffff).toInt)
    val ctx = new TaskAttemptContextImpl(conf.value, attempt)
    val name = s"part-$partitionId-${UUID.randomUUID().toString.take(12)}${owf.getFileExtension(ctx)}"
    (owf.newInstance(s"$root/$subdir/$name", schema, ctx), s"$subdir/$name")
  }

  private def fsPath(rel: String): Path = new Path(s"$root/$rel")

  private[store] def sizeOf(rel: String): Long =
    try {
      val p = fsPath(rel)
      p.getFileSystem(conf.value).getFileStatus(p).getLen
    } catch { case _: Exception => 0L }

  /** Best-effort delete of one written file (task abort). */
  private[store] def delete(rel: String): Unit =
    try {
      val p = fsPath(rel)
      p.getFileSystem(conf.value).delete(p, false)
    } catch { case _: Exception => () }

  /** Best-effort removal of the whole write directory — for a failed or
    * aborted write, none of whose files was committed. A crashed
    * driver's leftovers fall to vacuum's unreferenced-file sweep. */
  private[graft] def removeDir(): Unit =
    try {
      val p = fsPath(subdir)
      p.getFileSystem(conf.value).delete(p, true)
    } catch { case _: Exception => () }

  /** Task side: write every row of one partition, commit or abort. */
  private[store] def runTask(ctx: TaskContext, rows: Iterator[InternalRow]): WriterCommitMessage = {
    val w = createWriter(ctx.partitionId(), ctx.taskAttemptId())
    try {
      while (rows.hasNext) w.write(rows.next())
      w.commit()
    } catch {
      case t: Throwable =>
        try w.abort() catch { case e: Throwable => t.addSuppressed(e) }
        throw t
    } finally w.close()
  }

  /** Driver side: the committed tasks' files, ready for a commit. String
    * bounds are TRUNCATED (StatsPruner.StringBoundLen) so a long-text
    * column cannot bloat the commit log: lower bounds prefix-truncate,
    * upper bounds increment-truncate, and an un-incrementable upper
    * bound is dropped (the pruner then keeps the file). */
  private[graft] def committed(messages: Seq[WriterCommitMessage]): Seq[FileStat] = {
    val strings = schema.fields.collect { case f if f.dataType == StringType => f.name }.toSet
    def bounds(m: Map[String, String], lower: Boolean): Map[String, String] =
      m.flatMap { case (c, v) =>
        if (!strings(c)) Some(c -> v)
        else if (lower) Some(c -> StatsPruner.truncateLower(v))
        else StatsPruner.truncateUpper(v).map(c -> _)
      }
    messages.collect { case GraftFileMessage(Some(s)) =>
      s.copy(min = bounds(s.min, lower = true), max = bounds(s.max, lower = false))
    }
  }
}

/** One task's writer: at most one file, opened on the first row. While
  * rows go by it keeps the row count and, for every
  * [[StatsPruner.comparable]] column, min/max (Catalyst's interpreted
  * ordering for the type — `Min`/`Max` semantics, nulls skipped, first
  * value wins a tie) and the null count; for bucketed tables also the
  * range of `pmod(murmur3(col), n)` ids. Bounds render with the same
  * `Cast`-to-string Spark's aggregates use (TIMESTAMP as epoch micros:
  * a rendered timestamp string would depend on the session timezone). */
final class GraftFileWriter private[store] (f: GraftFileWriterFactory,
                                           partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {

  private var out: OutputWriter = _
  private var path: String = _
  private var rows = 0L
  private val ords = f.statOrdinals
  private val types = ords.map(f.schema(_).dataType)
  private val orderings = types.map(TypeUtils.getInterpretedOrdering)
  private val mins = new Array[Any](ords.length)
  private val maxs = new Array[Any](ords.length)
  private val nulls = new Array[Long](ords.length)
  private val (bucketOrd, bucketN) = f.bucket.getOrElse((-1, 1))
  private val bucketType = if (bucketOrd < 0) NullType else f.schema(bucketOrd).dataType
  private var bucketLo = Int.MaxValue
  private var bucketHi = Int.MinValue

  override def write(row: InternalRow): Unit = {
    if (out == null) {
      val (w, p) = f.open(partitionId, taskId)
      out = w; path = p
    }
    out.write(row)
    rows += 1
    var i = 0
    while (i < ords.length) {
      val c = ords(i)
      if (row.isNullAt(c)) nulls(i) += 1
      else {
        val v = row.get(c, types(i))
        if (mins(i) == null || orderings(i).lt(v, mins(i))) mins(i) = InternalRow.copyValue(v)
        if (maxs(i) == null || orderings(i).gt(v, maxs(i))) maxs(i) = InternalRow.copyValue(v)
      }
      i += 1
    }
    if (bucketOrd >= 0) {
      val key = if (row.isNullAt(bucketOrd)) null else row.get(bucketOrd, bucketType)
      val b = GraftTable.bucketOf(key, bucketN)
      if (b < bucketLo) bucketLo = b
      if (b > bucketHi) bucketHi = b
    }
  }

  private def rendered(i: Int, v: Any): String =
    f.render(i).eval(InternalRow(v)).toString

  override def commit(): WriterCommitMessage = {
    if (out == null) return GraftFileMessage(None)
    out.close(); out = null
    val names = ords.map(f.schema(_).name)
    def bounds(vs: Array[Any]): Map[String, String] =
      names.indices.collect { case i if vs(i) != null => names(i) -> rendered(i, vs(i)) }.toMap
    // the __bucket stat only when the whole file sits in one bucket:
    // writes that bypass the bucket layout (compact's explicit
    // re-layouts) produce straddling files, and the storage-partitioned
    // scan falls back to the ordinary path for them
    val bucketStat =
      if (bucketOrd >= 0 && bucketLo == bucketHi) Map(GraftTable.BucketStatKey -> bucketLo.toString)
      else Map.empty[String, String]
    GraftFileMessage(Some(FileStat(
      path = path,
      rows = rows,
      bytes = f.sizeOf(path),
      min = bounds(mins) ++ bucketStat,
      max = bounds(maxs) ++ bucketStat,
      nullCount = names.indices.map(i => names(i) -> nulls(i)).toMap)))
  }

  override def abort(): Unit =
    if (out != null) {
      try out.close() catch { case _: Exception => () }
      out = null
      f.delete(path)
    }

  override def close(): Unit =
    if (out != null) { out.close(); out = null }
}

object GraftFileWriter {
  /** Driver side: prepare the writer for one write of `sch`-shaped rows
    * into `root/subdir`. `options` are format writer options (bloom
    * filters); `bucket` is the bucket column's name and count. */
  private[store] def factory(spark: SparkSession, root: String, subdir: String,
                             format: String, tableSch: StructType, options: Map[String, String],
                             bucket: Option[(String, Int)]): GraftFileWriterFactory = {
    // files declare every column optional, as Spark's own file writes
    // do: a required Parquet column given a NULL (a NOT NULL table
    // column that a later append or update filled with one) is written
    // as a corrupt page that only a later read notices
    val sch = GraftParquetReadShim.asNullable(tableSch)
    val hconf = new Configuration(spark.sparkContext.hadoopConfiguration)
    // SQL-conf overlay (fieldId.write, session timezone, codec, ...):
    // the session's hadoop-conf view, as every file-format writer expects
    for ((k, v) <- spark.conf.getAll if k.startsWith("spark.sql.")) hconf.set(k, v)
    for ((k, v) <- options) hconf.set(k, v)
    val job = Job.getInstance(hconf)
    val fmt = if (format == "orc") new OrcFileFormat() else new ParquetFileFormat()
    val owf = fmt.prepareWrite(spark, job, options, sch)
    val ords = sch.fields.indices.filter(i => StatsPruner.comparable(sch(i).dataType)).toArray
    // built here, on the driver, so the cast takes this session's
    // timezone and ANSI mode like the aggregate it replaces
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    val mode = if (spark.conf.get("spark.sql.ansi.enabled").toBoolean) EvalMode.ANSI else EvalMode.LEGACY
    val render: Array[Expression] = ords.map { i =>
      val dt = sch(i).dataType match {
        case TimestampType => LongType
        case other => other
      }
      Cast(BoundReference(0, dt, nullable = true), StringType, tz, mode)
    }
    new GraftFileWriterFactory(owf, new SerializableHadoopConf(job.getConfiguration), sch,
      root, subdir, ords, render, bucket.map { case (c, n) => (sch.fieldIndex(c), n) })
  }

  /** Run one write job over `df`'s rows — a SQL execution, so query
    * listeners see it like any other — and return the committed files.
    * No file is read back: the stats arrive in the task commit
    * messages. On failure the write directory is removed (nothing in it
    * was committed). */
  private[store] def write(df: DataFrame, factory: GraftFileWriterFactory): Seq[FileStat] = {
    val qe = df.queryExecution
    val messages =
      try SQLExecution.withNewExecutionId(qe, Some("graft write")) {
        df.sparkSession.sparkContext.runJob(qe.toRdd,
          (ctx: TaskContext, rows: Iterator[InternalRow]) => factory.runTask(ctx, rows))
      } catch {
        case t: Throwable =>
          factory.removeDir()
          throw t
      }
    factory.committed(messages.toSeq)
  }
}

/** Hadoop Configuration is not Serializable; ship it the way Spark's
  * own `SerializableConfiguration` (private) does — via its
  * Writable encoding. */
private[store] final class SerializableHadoopConf(@transient private var conf: Configuration)
  extends Serializable {
  def value: Configuration = conf

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}
