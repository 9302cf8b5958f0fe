package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._

import graft.store.GraftTable

/** Native DSv2 batch write for catalog tables — the walden verb this
  * unlocks is Iceberg's dynamic partition overwrite (`INSERT OVERWRITE`
  * under `partitionOverwriteMode=dynamic`, pinned `tf/main.tf:94`),
  * which Spark 4.1 plans as `OverwritePartitionsDynamic` demanding full
  * `BATCH_WRITE` — unreachable from a V1-write bridge (no V1 exec
  * exists for it; verified in the shipped bytecode, r5 COVERAGE §2.1).
  *
  * Executors write immutable files straight into the table's
  * `data/<uuid8>` write directory through the store's one file writer
  * ([[graft.store.GraftFileWriter]] — the same writer and stats every
  * store write uses); each task reports its file's stats in its commit
  * message, and the driver adopts exactly those files through
  * [[GraftTable]]'s single commit loop — no read-back, one atomic
  * commit, WAP/vacuum/conflict semantics unchanged. The write-time
  * cluster spec is enforced Spark-natively:
  * [[RequiresDistributionAndOrdering]] asks for an ordered (range)
  * distribution + in-partition sort on the cluster columns, so Catalyst
  * plans the same range-shuffle + sort `writeFilesWith` does — but
  * visible to AQE, which right-sizes the shuffle at runtime.
  */
private[catalog] final class GraftWriteBuilder(gt: GraftTable)
  extends WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite {

  private var doTruncate = false
  private var dynamic = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }

  override def build(): Write = new GraftWrite(gt, doTruncate, dynamic)
}

private[catalog] final class GraftWrite(gt: GraftTable, truncate: Boolean, dynamic: Boolean)
  extends Write with RequiresDistributionAndOrdering {

  private val clusterNames: Seq[String] = gt.clusterColumns
  // bucketed tables: the DSv2 write must reproduce the bucket layout —
  // clustered distribution on the bucket column with EXACTLY n
  // partitions lowers to HashPartitioning(col, n), whose partition id
  // is pmod(murmur3(col), n): the same function writeFilesWith's
  // repartition(n, col) uses, so INSERT INTO keeps the table joinable
  // without shuffles
  private val bucket: Option[(String, Int)] =
    gt.bucketColumn.zip(gt.bucketCount).headOption

  private def sortOrders: Array[SortOrder] =
    (bucket.map(_._1).toSeq ++ clusterNames)
      .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray

  /** Range-cluster + sort on the cluster spec — every file covers a
    * narrow, stats-prunable span from commit one. Bucketed tables
    * hash-cluster instead. Unclustered tables take the query's own
    * distribution (no forced shuffle). */
  override def requiredDistribution(): Distribution = bucket match {
    case Some((c, _)) => Distributions.clustered(Array(Expressions.column(c)))
    case None if clusterNames.isEmpty => Distributions.unspecified()
    case None => Distributions.ordered(sortOrders)
  }

  override def requiredNumPartitions(): Int = bucket.map(_._2).getOrElse(0)

  override def requiredOrdering(): Array[SortOrder] =
    if (bucket.isEmpty && clusterNames.isEmpty) Array.empty else sortOrders

  /** Output file sizing: AQE's final-stage coalescing of the required
    * range shuffle takes the WRITE's advisory size, not the session
    * conf (verified empirically: with 0 here, the session's
    * advisoryPartitionSizeInBytes is ignored for the write stage).
    * Honor the session conf so users size output files the standard
    * way — one coalesced shuffle partition becomes one data file. */
  override def advisoryPartitionSizeInBytes(): Long = {
    // only legal alongside a specified distribution (Spark refuses it
    // with UnspecifiedDistribution at analysis); 0 = no recommendation
    if (clusterNames.isEmpty) return 0L
    // the conf has a built-in default (64MB) and accepts "16KB"-style
    // byte strings — parse whichever form the session carries
    val v = SparkSession.active.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    try v.toLong
    catch {
      case _: NumberFormatException =>
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
    }
  }

  override def toBatch: BatchWrite =
    new GraftBatchWrite(gt, truncate, dynamic)
}

private[catalog] final class GraftBatchWrite(gt: GraftTable, truncate: Boolean, dynamic: Boolean)
  extends BatchWrite {

  private val subdir = gt.newWriteDir()

  // The table's own schema (WITH parquet.field.id metadata — Spark's
  // output resolver aligns the query to this order but strips field
  // metadata; without the ids a post-rename read could no longer match
  // these files), captured once on the driver with the session's codec,
  // field-id and timezone settings.
  private lazy val factory = gt.fileWriterFactory(subdir, gt.schema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    // adopt ONLY the files the committed task attempts reported: a task
    // attempt that died mid-write never runs abort() (Spark's contract —
    // JVM crashes skip it), so its torn/duplicate file can be sitting in
    // the write directory next to the retried attempt's committed one.
    // Directory listing is NOT the source of truth; the messages are.
    gt.adoptBatchWrite(subdir, truncate = truncate, dynamicPartitions = dynamic,
      written = factory.committed(messages.toSeq))

  // covers committed tasks' files AND dead attempts' leftovers
  override def abort(messages: Array[WriterCommitMessage]): Unit = factory.removeDir()
}
