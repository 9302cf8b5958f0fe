package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.{GraftParquetReadShim, PartitionedFile}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.store.{FileStat, GraftTable}

/** Storage-partitioned scan for bucketed GraftTables — the DSv2 path
  * that makes two co-bucketed tables JOIN WITH ZERO EXCHANGES (Spark's
  * storage-partitioned join, the Iceberg `bucket(n, col)` integration;
  * `spark.sql.sources.v2.bucketing.enabled`, set by GraftSession).
  *
  * Mechanics: every data file of a bucketed table records its single
  * bucket id in the commit-log stats (`__bucket`, computed by the write
  * task itself — graft.store.GraftFileWriter). The scan groups live
  * files by bucket, one InputPartition per occupied bucket, each
  * reporting its bucket id via [[HasPartitionKey]];
  * `outputPartitioning` declares
  * `KeyGroupedPartitioning(bucket(n, col), #buckets)`. Catalyst
  * resolves the `bucket` transform through the catalog's V2
  * FunctionCatalog ([[GraftBucketFunction]]) — both sides of a join
  * resolve the SAME canonical function, the reported partition keys
  * line up, and EnsureRequirements plans the join with no shuffle at
  * all. At 100 TB this is THE fact-fact join strategy: the shuffle
  * that dominates everything else simply does not exist, and each
  * join task streams two co-located buckets.
  *
  * Fallback contract: GraftScanBuilder only builds this scan when the
  * table is bucketed, parquet-formatted, and EVERY live file (after
  * stats pruning) carries a `__bucket` stat; anything else — including
  * files re-laid-out by an explicit compact — takes the ordinary
  * V1-bridge path. A layout downgrade is a performance event, never a
  * correctness one.
  *
  * Reading: the per-file closure is Spark's own parquet reader
  * (GraftParquetReadShim — column pruning, row-group filter pushdown,
  * field-id resolution, vectorization), built on the driver so it
  * captures this session's SQLConf exactly like FileSourceScanExec.
  */
final class GraftBucketScan(
    spark: SparkSession,
    gt: GraftTable,
    version: Long,
    required: StructType,
    pushed: Array[Filter],
    groups: Map[Int, Seq[FileStat]]) extends Scan with Batch
  with SupportsReportPartitioning with SupportsReportStatistics
  with SupportsReportOrdering {

  private val (nBuckets: Int, colName: String) = {
    val (_, n) = gt.bucketSpec.get
    (n, gt.bucketColumnAt(version).get)
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"GraftBucketScan(${gt.root}@v$version, bucket($nBuckets, $colName), " +
      s"${groups.size} occupied buckets)"

  /** One partition per OCCUPIED bucket, ascending — empty buckets are
    * simply absent, and Spark's push-part-values handling aligns
    * mismatched key sets between the two sides of a join. */
  override def planInputPartitions(): Array[InputPartition] =
    groups.toSeq.sortBy(_._1).map { case (b, files) =>
      GraftBucketInputPartition(b,
        files.map(f => (s"${gt.root}/${f.path}", f.bytes)).toArray)
    }.toArray

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(nBuckets, colName)), groups.size)

  /** Every write sorts within buckets on the key, so a ONE-file bucket
    * is a sorted partition and the scan can report it — a co-bucketed
    * SortMergeJoin then runs with no Exchange AND no Sort (the state
    * every bucketed table reaches after a plain compact()). Multi-file
    * buckets are concatenations of sorted runs, not sorted — report
    * nothing. The key column must survive pruning to be claimable. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (groups.values.forall(_.size <= 1) &&
        required.fieldNames.exists(_.equalsIgnoreCase(colName)))
      Array(Expressions.sort(Expressions.column(colName),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    else Array.empty

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftBucketReaderFactory(
      GraftParquetReadShim.buildReader(spark, gt.schemaAt(version), required, pushed.toSeq))

  override def estimateStatistics(): Statistics = new Statistics {
    private val files = groups.values.flatten
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.bytes).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.rows).sum)
  }
}

/** Files of one bucket; `partitionKey` is the bucket transform's value
  * for every row in these files (the HasPartitionKey contract). */
final case class GraftBucketInputPartition(bucketId: Int, files: Array[(String, Long)])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(Array[Any](bucketId))
}

final class GraftBucketReaderFactory(
    readFile: PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftBucketInputPartition]
    new PartitionReader[InternalRow] {
      private val it = part.files.iterator.flatMap { case (path, len) =>
        readFile(GraftParquetReadShim.mkFile(path, len))
      }
      private var cur: InternalRow = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

object GraftBucketScan {
  /** Static bucket pruning: EqualTo/In conjuncts on the bucket column
    * resolve to the bucket set their values hash into — a point lookup
    * on a bucketed table then opens 1/n of the files instead of all of
    * them (min/max stats CANNOT prune here: each bucket's key values
    * span the whole range by construction). None = no usable conjunct;
    * Some(empty) is possible (value's bucket holds no files) and means
    * the query matches nothing from pruned groups. Only INT/BIGINT
    * keys exist (create enforces), so unhandled value types simply
    * contribute no pruning. */
  /** Bucket id of one key value under the write layout's hash — shared
    * by the catalog scan's pruning below and GraftTable's direct-load
    * `read(filters)` twin. None for unhandled types (only INT/BIGINT
    * bucket keys exist; create enforces). */
  def bucketOf(v: Any, n: Int): Option[Int] = v match {
    case l: Long => Some(pmod(Murmur3_x86_32.hashLong(l, 42), n))
    case i: Int => Some(pmod(Murmur3_x86_32.hashInt(i, 42), n))
    case l: java.lang.Long => Some(pmod(Murmur3_x86_32.hashLong(l, 42), n))
    case i: java.lang.Integer => Some(pmod(Murmur3_x86_32.hashInt(i, 42), n))
    case _ => None
  }

  def bucketsFor(pushed: Array[Filter], colName: String, n: Int): Option[Set[Int]] = {
    def bucketOf(v: Any): Option[Int] = GraftBucketScan.bucketOf(v, n)
    val perConjunct = pushed.toSeq.flatMap {
      case org.apache.spark.sql.sources.EqualTo(a, v) if a == colName =>
        bucketOf(v).map(Set(_))
      case org.apache.spark.sql.sources.In(a, vs) if a == colName =>
        val bs = vs.map(bucketOf)
        if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
      case _ => None
    }
    if (perConjunct.isEmpty) None else Some(perConjunct.reduce(_ intersect _))
  }

  @inline private def pmod(h: Int, n: Int): Int = ((h % n) + n) % n
}

/** The catalog's `bucket(numBuckets, col)` V2 function — what Catalyst
  * resolves the reported bucket transform against (FunctionCatalog on
  * GraftCatalog). `produceResult` REPRODUCES the write layout's
  * function exactly: `pmod(murmur3_hash(col), n)` with Spark's seed 42
  * — the partition-id function of `df.repartition(n, col)`, which is
  * how the files were laid out. Integral key types only (create
  * enforces it): the hash is type-dispatched and int/long cover the
  * join-key case bucketing exists for. NULL keys hash to the seed,
  * same as HashPartitioning. */
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
    override def produceResult(input: InternalRow): Integer = {
      val n = input.getInt(0)
      val h =
        if (input.isNullAt(1)) 42
        else keyType match {
          case LongType => Murmur3_x86_32.hashLong(input.getLong(1), 42)
          case _ => Murmur3_x86_32.hashInt(input.getInt(1), 42)
        }
      ((h % n) + n) % n
    }
  }
}
