package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftSparkInternals, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => ConnectorOffset}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.store.GraftTable

/** `spark.readStream.format("graft-table")` — stream a versioned
  * GraftTable by COMMIT-LOG OFFSET (the Delta `DeltaSource` / Iceberg
  * incremental-read analog; walden gets this from Iceberg's streaming
  * source over the Nessie catalog, `tf/main.tf:94`).
  *
  * Offsets are commit versions, so micro-batches align exactly with
  * commit boundaries: a file landed by a writer that crashed before
  * publishing its commit is NEVER read, and replays are exact (version
  * ranges come from the checkpoint).
  *
  * Options:
  *  - `path` — table root (or pass to `.load(root)`)
  *  - `cdc` (default false) — emit the per-commit row-level change
  *    feed instead of appended rows: table columns plus
  *    `_change_type` ('insert'|'delete'; an update contributes one of
  *    each) and `_commit_version` (Delta CDF's column names).
  *    Handles EVERY commit shape — UPDATE/DELETE/MERGE/compaction
  *    rewrites diff by file algebra ([[GraftTable.changes]]), reading
  *    only the files each commit touched.
  *  - `startingVersion` (default 0) — first offset; rows of commits
  *    `<= startingVersion` are not emitted. `latest` = the head at
  *    stream start (new commits only).
  *  - `ignoreChanges` (default false, append mode only) — Delta
  *    parity: a rewrite commit (UPDATE/DELETE/MERGE/compact/rollback)
  *    in the range fails the stream loudly unless set, because its
  *    added files RE-CARRY surviving rows (at-least-once re-emission
  *    a downstream keyed dedup must absorb). CDC mode never needs it.
  *  - `maxCommitsPerTrigger` (default unbounded) — bound catch-up
  *    batch size. Offsets only ever advance by whole commits.
  *
  * Scale: batch planning is O(commits in range) metadata reads (no
  * directory listing, no log replay per trigger — `currentVersion` is
  * one ref read). Append batches scan exactly the files the range's
  * commits added; CDC batches scan exactly the files the commits
  * touched. Schema is pinned at stream start; a batch whose range
  * crossed an incompatible schema change (rename/drop of a streamed
  * column) fails loudly with a restart hint — additive columns are
  * simply not emitted until restart (Delta's contract).
  */
final class GraftSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-table source needs a table root: .option(\"path\", root) or .load(root)"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val t = GraftTable.load(sqlContext.sparkSession, rootOf(parameters))
    (shortName(), GraftTableSource.streamSchema(t.schema, GraftTableSource.isCdc(parameters)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new GraftTableSource(GraftTable.load(sqlContext.sparkSession, rootOf(parameters)),
      parameters)
}

private[streaming] object GraftTableSource {
  def isCdc(parameters: Map[String, String]): Boolean =
    parameters.get("cdc").exists(_.toBoolean)

  def streamSchema(table: StructType, cdc: Boolean): StructType =
    if (!cdc) table
    else table.add("_change_type", StringType, nullable = false)
      .add("_commit_version", LongType, nullable = false)
}

final class GraftTableSource(table: GraftTable, parameters: Map[String, String])
  extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val cdc = GraftTableSource.isCdc(parameters)
  private val ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean)
  private val maxCommits = parameters.get("maxCommitsPerTrigger").map(_.toLong)
  maxCommits.foreach(m => require(m > 0, s"maxCommitsPerTrigger must be positive, got $m"))
  private val startingVersion: Long = parameters.get("startingVersion") match {
    case Some("latest") => table.currentVersion
    case Some(v) =>
      val n = v.toLong
      require(n >= 0, s"startingVersion must be >= 0 or 'latest', got $n")
      n
    case None => 0L
  }
  /** Table schema pinned at stream start — every batch aligns to it. */
  private val pinned: StructType = table.schema

  override val schema: StructType = GraftTableSource.streamSchema(pinned, cdc)

  /** Trigger.AvailableNow end target, captured once at run start —
    * implementing [[SupportsTriggerAvailableNow]] keeps the engine
    * from wrapping this source in AvailableNowSourceWrapper, whose
    * one-shot getOffset snapshot would cap a rate-limited catch-up at
    * the FIRST batch's end instead of draining to the captured head. */
  @volatile private var availableNowCap: Option[Long] = None

  private def versionOf(o: ConnectorOffset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): ConnectorOffset = LongOffset(startingVersion)

  override def deserializeOffset(json: String): ConnectorOffset =
    LongOffset(json.trim.toLong)

  override def reportLatestOffset(): ConnectorOffset = LongOffset(table.currentVersion)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.currentVersion)

  /** Admission control: the engine hands us ITS recorded progress, so
    * rate limiting needs no source-side state and restarts resume from
    * the checkpoint, never from a re-resolved startingVersion. */
  override def latestOffset(startOffset: ConnectorOffset, limit: ReadLimit): ConnectorOffset = {
    // the engine passes null before any offset is recorded (first-ever
    // batch); progress then starts at the configured startingVersion
    val start = if (startOffset == null) startingVersion else versionOf(startOffset)
    val head = availableNowCap.fold(table.currentVersion)(math.min(table.currentVersion, _))
    val next = maxCommits.fold(head)(m => math.min(head, start + m))
    LongOffset(math.max(next, start))
  }

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is called instead (SupportsAdmissionControl)")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val s = start.map(versionOf).getOrElse(startingVersion)
    val e = versionOf(end)
    val batch =
      if (e <= s) emptyBatch()
      else if (cdc) cdcBatch(s, e)
      else appendBatch(s, e)
    GraftSparkInternals.asStreamingBatch(align(batch))
  }

  private def emptyBatch(): DataFrame = {
    val spark = table.spark
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Rows appended by commits in (s, e]: exactly those commits' added
    * files. Rewrite/reset commits are refused (or re-emitted wholesale
    * under `ignoreChanges`) — their added files carry surviving old
    * rows, which an append stream must not silently re-emit. */
  private def appendBatch(s: Long, e: Long): DataFrame = {
    val commits = ((s + 1) to e).map(table.commitInfo)
    val rewrites = commits.filter(c => c.removed.nonEmpty || c.op == "overwrite")
    if (rewrites.nonEmpty && !ignoreChanges)
      throw new IllegalStateException(
        s"graft-table append stream hit non-append commit(s) " +
          s"${rewrites.map(c => s"v${c.version}(${c.op})").mkString(", ")} at ${tableRoot}; " +
          "use .option(\"cdc\", true) for the row-level change feed, or " +
          ".option(\"ignoreChanges\", true) to re-emit carried rows (dedup downstream)")
    alignToPinned(table.readFiles(commits.flatMap(_.added), table.schemaAt(e)), table.schemaAt(e))
  }

  /** Per-commit change feed over (s, e]: each commit diffs against its
    * parent ([[GraftTable.changes]] — file algebra, only touched files
    * read) and is stamped with its version, Delta-CDF style. EACH diff
    * is aligned to the pinned schema BEFORE the union: a diff carries
    * its own commit's schema, so a range crossing an addColumn/rename
    * would otherwise fail the union (and, after a restart, wedge the
    * stream permanently — the checkpointed offset still precedes the
    * evolution, so no restart could ever advance past it). Batch plan
    * size is O(commits in range) — bound it with maxCommitsPerTrigger
    * when catching up over long histories. */
  private def cdcBatch(s: Long, e: Long): DataFrame =
    ((s + 1) to e).map { v =>
      alignToPinned(table.changes(v - 1, v), table.schemaAt(v), Seq("_change_type"))
        .withColumn("_commit_version", lit(v))
    }.reduce(_ unionByName _)

  /** Align a batch whose data columns follow `srcSch` to the PINNED
    * stream schema by FIELD ID (name fallback when either side lacks
    * ids) — the same resolution rule the store's rename machinery uses:
    *  - a rename anywhere in the range resolves to the pinned name in
    *    both directions (pre-rename commits after a restart included);
    *  - a pinned column absent from a commit's schema but alive at the
    *    table HEAD was added after that commit — its rows genuinely
    *    predate the column, NULL-fill (how a time-travel read sees
    *    them);
    *  - a pinned column GONE from the head was dropped mid-stream —
    *    fail loudly with the restart hint (restart re-pins without it;
    *    NULLs here would silently fabricate data). */
  private def alignToPinned(df: DataFrame, srcSch: StructType,
                            extraCols: Seq[String] = Nil): DataFrame = {
    import graft.store.GraftTable.fieldId
    val bothIds = pinned.fields.forall(f => fieldId(f).isDefined) &&
      srcSch.fields.forall(f => fieldId(f).isDefined)
    def srcName(f: StructField): Option[String] =
      if (bothIds) srcSch.fields.find(g => fieldId(g) == fieldId(f)).map(_.name)
      else Some(f.name).filter(srcSch.fieldNames.contains)
    lazy val headSch = table.schema
    lazy val headIds = headSch.fields.forall(f => fieldId(f).isDefined)
    val cols = pinned.fields.map { f =>
      srcName(f) match {
        case Some(n) => col(n).cast(f.dataType).as(f.name)
        case None =>
          val liveAtHead =
            if (bothIds && headIds) headSch.fields.exists(g => fieldId(g) == fieldId(f))
            else headSch.fieldNames.contains(f.name)
          if (!liveAtHead) throw new IllegalStateException(
            s"graft-table stream column '${f.name}' was dropped from ${tableRoot} " +
              "mid-stream; restart the stream to adopt the new schema")
          lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select((cols.toIndexedSeq ++ extraCols.map(col)): _*)
  }

  /** Final conform to the declared stream schema (column order/types;
    * per-batch field-id alignment above already guarantees presence). */
  private def align(df: DataFrame): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)

  private def tableRoot: String = table.root

  override def stop(): Unit = ()
}
