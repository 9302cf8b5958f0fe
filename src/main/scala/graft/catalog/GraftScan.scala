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

import graft.store.{FileStat, GraftTable}

/** The catalog's one read path: a native DSv2 batch scan over the files
  * [[GraftTable.planFiles]] kept for one pinned snapshot and the pushed
  * filters (stats pruning + bucket pruning, metadata-only). The scan
  * picks its layout from those files:
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
  *    read, so task counts match `GraftTable.read` of the same snapshot.
  *    No files means zero partitions. A layout downgrade is a
  *    performance event, never a correctness one.
  *
  * Reading: the per-file closure is Spark's own Parquet or ORC reader
  * (GraftParquetReadShim — column pruning including nested fields,
  * row-group/stripe filter pushdown, field-id resolution,
  * vectorization), built on the driver so it captures this session's
  * SQLConf exactly like FileSourceScanExec. Statistics are the planned
  * files' commit-log rows and bytes, which static join selection sees:
  * a small catalog table broadcasts without waiting for AQE.
  */
final class GraftScan(
    gt: GraftTable,
    version: Long,
    required: StructType,
    pushed: Array[Filter],
    files: Seq[FileStat]) extends Scan with Batch
  with SupportsReportPartitioning with SupportsReportStatistics
  with SupportsReportOrdering {

  /** Bucketed layout: (bucket column, bucket count, files by ascending
    * bucket id) when the table is bucketed and every planned file sits
    * in one bucket; None selects the packed layout. */
  private val buckets: Option[(String, Int, Seq[(Int, Seq[FileStat])])] =
    gt.bucketCount
      .filter(_ => files.nonEmpty && files.forall(_.min.contains(GraftTable.BucketStatKey)))
      .map(n => (gt.bucketColumnAt(version).get, n,
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

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String = {
    val layout = buckets match {
      case Some((c, n, groups)) => s"bucket($n, $c), ${groups.size} occupied buckets"
      case None => s"${files.size} files"
    }
    s"GraftScan(${gt.root}@v$version, ${gt.format}, $layout, " +
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

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(GraftParquetReadShim.buildReader(
      gt.spark, gt.format, gt.schemaAt(version), required, pushed.toSeq))

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
  * does) and the open one closed with the partition reader. */
final class GraftReaderFactory(readFile: PartitionedFile => GraftParquetReadShim.FileRows)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val files = p match {
      case fp: FilePartition => fp.files
      case bp: GraftBucketPartition => bp.files
    }
    new PartitionReader[InternalRow] {
      private val pending = files.iterator
      private var rows: GraftParquetReadShim.FileRows = _
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (rows == null || !rows.hasNext) {
          close()
          if (!pending.hasNext) return false
          rows = readFile(pending.next())
        }
        cur = rows.next()
        true
      }
      override def get(): InternalRow = cur
      override def close(): Unit = if (rows != null) { rows.close(); rows = null }
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
