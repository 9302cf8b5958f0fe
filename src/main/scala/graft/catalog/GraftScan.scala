package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, GraftParquetReadShim, PartitionedFile}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.store.{FileSet, FileStat, GraftTable}

/** The one scan behind every DataFrame that reads graft data files: a
  * catalog query, `GraftTable.read` and every store-internal read
  * (staged files, a change feed's commit range, copy-on-write victims,
  * compaction, a streaming micro-batch). It is a native DSv2 batch scan
  * over the files [[GraftTable.plan]] keeps of one [[FileSet]] under the
  * pushed filters (stats pruning + bucket pruning, metadata-only; the
  * filters arrive as resolved predicates, so planning analyzes
  * nothing). The scan picks its layout from those files:
  *
  *  - bucketed: the table has a bucket spec and every planned file
  *    records its single bucket id in the commit-log stats (`__bucket`,
  *    computed by the write task itself — graft.store.GraftFileWriter).
  *    One InputPartition per OCCUPIED bucket, each reporting its bucket
  *    id via [[HasPartitionKey]]; `outputPartitioning` declares
  *    `KeyGroupedPartitioning(bucket(n, col), #buckets)`. Catalyst
  *    resolves the `bucket` transform through the catalog's V2
  *    FunctionCatalog ([[GraftBucketFunction]]), both sides of a join
  *    resolve the SAME canonical function, and EnsureRequirements plans
  *    co-bucketed joins with no shuffle at all (Spark's
  *    storage-partitioned join, the Iceberg `bucket(n, col)`
  *    integration; `spark.sql.sources.v2.bucketing.enabled`, set by
  *    GraftSession). At 100 TB this is THE fact-fact join strategy.
  *  - packed: anything else (not bucketed, or files of an explicit
  *    compact re-layout that straddle buckets). Files are split and
  *    bin-packed exactly as `FileSourceScanExec` packs a plain file
  *    read. No files means zero partitions. A layout downgrade is a
  *    performance event, never a correctness one.
  *
  * Reading: the per-file reader is Spark's own Parquet or ORC reader
  * (GraftParquetReadShim — column pruning including nested fields,
  * row-group/stripe filter pushdown, field-id resolution,
  * vectorization), built on the driver so it captures this session's
  * SQLConf exactly like FileSourceScanExec. It hands whole-stage codegen
  * columnar batches whenever the format can batch the projection, and
  * rows otherwise (the format's own `supportBatch`, as in Spark's file
  * scan). It is built once per scan, and a reader with no pushed filter
  * once per schema and projection (the shim keeps it for later scans); a
  * reader with pushed filters holds their literals and is not kept past
  * its scan. Statistics are the planned files' commit-log rows and
  * bytes, which static join selection sees: a small table broadcasts
  * without waiting for AQE. The description names the planned file
  * count, the quickest check of what pruning kept.
  */
final class GraftScan(
    gt: GraftTable,
    set: FileSet,
    required: StructType,
    pushed: Array[Filter],
    private[graft] val files: Seq[FileStat]) extends Scan with Batch
  with SupportsReportPartitioning with SupportsReportStatistics
  with SupportsReportOrdering {

  /** Bucketed layout: (bucket column, bucket count, files by ascending
    * bucket id) when the table is bucketed and every planned file sits
    * in one bucket; None selects the packed layout. */
  private val buckets: Option[(String, Int, Seq[(Int, Seq[FileStat])])] =
    gt.bucketCount
      .filter(_ => files.nonEmpty && files.forall(_.min.contains(GraftTable.BucketStatKey)))
      .map(n => (gt.bucketColumnIn(set.schema).get, n,
        files.groupBy(_.min(GraftTable.BucketStatKey).toInt).toSeq.sortBy(_._1)))

  private def absPath(f: FileStat): String = s"${gt.root}/${f.path}"

  /** Empty buckets are simply absent; Spark's push-part-values handling
    * aligns mismatched key sets between the two sides of a join. */
  private lazy val partitions: Array[InputPartition] = buckets match {
    case Some((_, _, groups)) =>
      groups.map { case (b, fs) =>
        GraftBucketPartition(b,
          fs.map(f => GraftParquetReadShim.mkFile(absPath(f), f.bytes)).toArray)
      }.toArray
    case None =>
      GraftParquetReadShim.filePartitions(gt.spark, gt.format,
        files.map(f => (absPath(f), f.bytes))).toArray
  }

  /** The columns as the files hold them: every one nullable (a stored
    * NOT NULL is not enforced on the data). */
  private val readCols = GraftParquetReadShim.asNullable(required)

  /** Scans are equal when they read the same columns of the same file
    * set under the same pushed filters (the planned files follow from
    * those): Spark's `sameResult` and exchange reuse compare scans, so
    * two snapshots, or two different listed sets, never compare equal. */
  override def equals(o: Any): Boolean = o match {
    case s: GraftScan => s.identity == identity
    case _ => false
  }
  override lazy val hashCode: Int = identity.hashCode
  private def identity = (gt.root, set, required, pushed.toSeq)

  override def readSchema(): StructType = readCols
  override def toBatch: Batch = this

  override def description(): String = {
    val layout = buckets match {
      case Some((c, n, groups)) =>
        s"bucket($n, $c), ${groups.size} occupied buckets, ${files.size} files"
      case None => s"${files.size} files"
    }
    val at = set.version.fold("")(v => s"@v$v")
    s"GraftScan(${gt.root}$at, ${gt.format}, $layout, " +
      s"PushedFilters: [${pushed.mkString(", ")}])"
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def outputPartitioning(): Partitioning = buckets match {
    case Some((c, n, groups)) =>
      new KeyGroupedPartitioning(Array(Expressions.bucket(n, c)), groups.size)
    case None => new UnknownPartitioning(partitions.length)
  }

  /** Every write sorts within buckets on the key, so a ONE-file bucket
    * is a sorted partition and the scan can report it — a co-bucketed
    * SortMergeJoin then runs with no Exchange AND no Sort (the state
    * every bucketed table reaches after a plain compact()). Multi-file
    * buckets are concatenations of sorted runs, not sorted — report
    * nothing. The key column must survive pruning to be claimable. */
  override def outputOrdering(): Array[SortOrder] = buckets match {
    case Some((c, _, groups)) if groups.forall(_._2.size <= 1) &&
        required.fieldNames.exists(_.equalsIgnoreCase(c)) =>
      Array(Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
    case _ => Array.empty
  }

  /** Built once per scan while its query runs: Spark asks a scan for its
    * reader factory more than once per query (twice for a catalog point
    * read). With no pushed filter the shim reuses one reader across
    * scans; one carrying the pushed filters' literals is this scan's own.
    * Held weakly: a reader holds a copy of the Hadoop conf (about 150 KB),
    * and a scan outlives its query inside the query service's
    * result-cache keys, which compare plans. */
  private var readerFactory = new java.lang.ref.WeakReference[PartitionReaderFactory](null)

  override def createReaderFactory(): PartitionReaderFactory = synchronized {
    Option(readerFactory.get).getOrElse {
      val f = new GraftReaderFactory(GraftParquetReadShim.buildReader(
        gt.spark, gt.format, GraftParquetReadShim.asNullable(set.schema), readCols,
        pushed.toSeq))
      readerFactory = new java.lang.ref.WeakReference(f)
      f
    }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.bytes).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.rows).sum)
  }
}

/** Files of one bucket; `partitionKey` is the bucket transform's value
  * for every row in these files (the HasPartitionKey contract). */
final case class GraftBucketPartition(bucketId: Int, files: Array[PartitionedFile])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(Array[Any](bucketId))
}

/** Reads a partition of either layout: its files, one after another,
  * each file's reader closed before the next opens (as `FileScanRDD`
  * does) and the open one closed with the partition reader. A reader
  * that returns batches serves them to whole-stage codegen as they come
  * (`ColumnarToRow` above the scan); one that cannot batch the
  * projection serves rows. */
final class GraftReaderFactory(readFile: GraftParquetReadShim.FileReader)
  extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = readFile.batch

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new FilesReader(p, (rows: GraftParquetReadShim.FileRows) => rows)

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    new FilesReader(p, (rows: GraftParquetReadShim.FileRows) => rows.batches)

  private final class FilesReader[T](p: InputPartition,
                                     items: GraftParquetReadShim.FileRows => Iterator[T])
    extends PartitionReader[T] {
    private val pending = (p match {
      case fp: FilePartition => fp.files
      case bp: GraftBucketPartition => bp.files
    }).iterator
    private var open: GraftParquetReadShim.FileRows = _
    private var it: Iterator[T] = Iterator.empty
    private var cur: T = _
    override def next(): Boolean = {
      while (!it.hasNext) {
        close()
        if (!pending.hasNext) return false
        open = readFile(pending.next())
        it = items(open)
      }
      cur = it.next()
      true
    }
    override def get(): T = cur
    override def close(): Unit = if (open != null) {
      open.close(); open = null; it = Iterator.empty
    }
  }
}

/** The catalog's `bucket(numBuckets, col)` V2 function — what Catalyst
  * resolves the reported bucket transform against (FunctionCatalog on
  * GraftCatalog). `produceResult` is the write layout's bucket id,
  * [[GraftTable.bucketOf]]. INT/BIGINT keys only (create enforces
  * it): int/long cover the join-key case bucketing exists for. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col): pmod(murmur3_hash(col), numBuckets) — the graft bucket transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets, col), got ${inputType.simpleString}")
    inputType.fields(1).dataType match {
      case LongType => new Bound(LongType)
      case IntegerType => new Bound(IntegerType)
      case dt => throw new UnsupportedOperationException(
        s"graft bucket supports INT/BIGINT keys, got ${dt.simpleString}")
    }
  }

  private final class Bound(keyType: DataType) extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = s"graft.bucket(${keyType.simpleString})"
    override def produceResult(input: InternalRow): Integer =
      GraftTable.bucketOf(
        if (input.isNullAt(1)) null else input.get(1, keyType), input.getInt(0))
  }
}
