package graft.store

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.datasources.GraftParquetReadShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Versioned table over immutable Parquet/ORC files + a JSON commit log —
  * the engine's stand-in for walden's Iceberg-on-Nessie tables
  * (`tf/main.tf:93-98`: snapshots, branches, row-level DML), built
  * from Spark primitives only.
  *
  * Every operation is a distributed dataflow:
  *  - writes land as immutable Parquet file sets; per-file min/max/null
  *    stats are computed by the write tasks themselves as rows go by
  *    ([[GraftFileWriter]]) and arrive in their commit messages — no
  *    file is read back, and no row reaches the driver;
  *  - reads resolve a snapshot (metadata-only log replay) and prune
  *    files by stats before Spark ever lists them — the same
  *    manifest-pruning shape Iceberg uses, so a 100 TB table with a
  *    selective predicate touches only matching files;
  *  - row-level DML is copy-on-write in ONE job: each task probes its
  *    stats-pruned candidate files for a matching row and rewrites only
  *    the files that hold one; the commit swaps them atomically.
  *    Candidates without a match are read once, never rewritten.
  *  - commits race via atomic rename; losers retry on a fresh snapshot
  *    (optimistic concurrency, same contract as Iceberg/Nessie).
  */
final class GraftTable private (val spark: SparkSession, val root: String) {
  private val log = new CommitLog(root)

  // Field-id column resolution must be on for this session (see
  // readData's doc); GraftSession sets both at build time — this covers
  // tables loaded into sessions built elsewhere. Read side is inert for
  // id-less schemas (external parquet reads unchanged); write side is
  // Spark's default, re-pinned because a session that disabled it would
  // write id-less files that a post-rename read resolves to NULL. Both
  // are SESSION confs: ParquetFileFormat re-derives the hadoop-conf
  // keys from SQLConf, so per-read/per-write .option()s are inert.
  // A session that EXPLICITLY set either to false gets a loud error
  // instead of a silent flip — the user turned id resolution off on
  // purpose (e.g. reading external Iceberg files by position) and
  // overriding it would change unrelated reads in the same session.
  for (key <- Seq("spark.sql.parquet.fieldId.read.enabled",
                  "spark.sql.parquet.fieldId.write.enabled")) {
    if (spark.conf.getAll.get(key).contains("false"))
      throw new IllegalStateException(
        s"graft tables require $key=true (field-id column resolution — rename " +
          s"support and post-rename reads depend on it), but this session explicitly " +
          "sets it false; unset it, or load the table in a GraftSession")
    spark.conf.set(key, "true")
  }

  /** Data file format — parquet (default) or orc, fixed at create time
    * (walden's Iceberg catalog pins `iceberg.file-format = ORC`,
    * `tf/main.tf:96`; both are first-class here). */
  lazy val format: String = GraftTable.formatOf(root)

  /** Columns that get a per-file bloom filter on every write (table
    * property, fixed at create). The 100 TB point-lookup lever: an
    * equality predicate on a high-cardinality column that min/max
    * stats CANNOT prune (uuid-ish values span every file's range)
    * skips row groups via the bloom instead — both the parquet and
    * ORC readers consult them during pushdown. Costs ~1 MB/row-group
    * per column at write time; choose lookup keys, not metrics. */
  lazy val bloomFilterCols: Seq[String] = GraftTable.bloomColsOf(root)

  /** Write-time cluster spec (Iceberg `write.sort-order` parity), fixed
    * at create: EVERY write — appends, streaming micro-batches, DML
    * rewrites — range-partitions and sorts its files on these columns,
    * so min/max file stats prune from the first commit on, not only
    * after an OPTIMIZE. Tracked by FIELD ID: rename follows the column
    * automatically; dropping a cluster column is refused loudly. */
  lazy val clusterFieldIds: Seq[Long] = GraftTable.clusterIdsOf(root)

  /** Hash-bucket spec (Iceberg `bucket(n, col)` transform parity),
    * fixed at create and exclusive with the cluster spec: EVERY write
    * hash-partitions its rows into exactly `n` buckets on the column
    * (partition id = `pmod(murmur3_hash(col), n)`, Spark's own
    * HashPartitioning function — so a plain `df.repartition(n, col)`
    * reproduces the layout), and each file records which single bucket
    * it belongs to in its stats (the `__bucket` pseudo-column). The
    * payoff is the STORAGE-PARTITIONED JOIN: two tables bucketed the
    * same way join with ZERO exchanges — at 100 TB the difference
    * between shuffling both fact tables and streaming co-located
    * buckets (see graft.catalog.GraftScan). Tracked by FIELD ID like the
    * cluster spec: rename follows, drop is refused. */
  lazy val bucketSpec: Option[(Long, Int)] = GraftTable.bucketSpecOf(root)

  /** The bucket column's CURRENT name (follows renames). */
  def bucketColumn: Option[String] = bucketColumnAt(currentVersion)

  def bucketColumnAt(v: Long): Option[String] =
    bucketSpec.map { case (id, _) => fieldNameOf(id, schemaAt(v)) }

  def bucketCount: Option[Int] = bucketSpec.map(_._2)

  /** Resolve one spec field id to its name in `sch` (rename-proof). */
  private def fieldNameOf(id: Long, sch: StructType): String =
    sch.fields.find(f => GraftTable.fieldId(f).contains(id)).getOrElse(
      throw new IllegalStateException(
        s"spec field id $id missing from schema at $root " +
          "(was a spec column dropped outside dropColumn's guard?)")).name

  /** The cluster spec's CURRENT column names (follows renames). */
  def clusterColumns: Seq[String] = clusterColumnsAt(currentVersion)

  /** The cluster spec's names as of snapshot `v` — what a time-travel
    * read's metadata must report (a pre-rename snapshot carries the
    * pre-rename name). */
  def clusterColumnsAt(v: Long): Seq[String] =
    if (clusterFieldIds.isEmpty) Nil else clusterSpecNames(schemaAt(v))

  /** Snapshot-schema read. `fieldId.read.enabled` (a SESSION conf —
    * Spark's parquet reader takes it from SQLConf, not per-read
    * options; GraftSession sets it and load()/create() set it
    * defensively for foreign sessions) makes the reader match columns
    * by the `parquet.field.id` metadata the write path stamps —
    * Iceberg's resolution rule, and what makes column RENAME a
    * metadata-only commit: pre-rename files still resolve the renamed
    * column by id. Schemas without ids (pre-rename-support tables, or
    * external parquet) fall back to ordinary name matching. */
  private def readData(paths: Seq[String], sch: StructType): DataFrame =
    spark.read.schema(sch).format(format).load(paths: _*)

  /** Read specific committed files under this table's root (paths are
    * commit-log-relative) with field-id resolution — the streaming
    * source's per-commit-range read path. */
  private[graft] def readCommittedFiles(paths: Seq[String], sch: StructType): DataFrame =
    readData(paths.map(p => s"$root/$p"), sch)

  // ------------------------------------------------------------------
  // read path
  // ------------------------------------------------------------------
  /** Head of the (linear) commit chain. The `main` ref is advanced on
    * every commit, but two racing committers can publish their setRef
    * out of order — so take the max of the ref and the log head rather
    * than trusting a possibly-stale pointer. */
  def currentVersion: Long =
    math.max(log.getRef("main").getOrElse(0L), log.latestVersion)

  def schema: StructType = schemaAt(currentVersion)

  def schemaAt(v: Long): StructType =
    DataType.fromJson(log.schemaJsonAt(v)).asInstanceOf[StructType]

  /** Resolve a version pin: explicit number wins, then a named
    * branch/tag, else the current head. The catalog layer uses this to
    * pin one snapshot for a whole query (snapshot isolation). */
  def resolveVersion(asOfVersion: Option[Long] = None, ref: Option[String] = None): Long =
    asOfVersion
      .orElse(ref.map { r =>
        log.getRef(r).getOrElse(throw new IllegalArgumentException(
          s"unknown ref '$r' at $root (have: ${log.listRefs.keys.mkString(",")})"))
      })
      .getOrElse(currentVersion)

  /** Latest version whose commit landed at or before `tsMs` — the
    * `TIMESTAMP AS OF` resolution rule (Iceberg snapshot-at-timestamp).
    * Commit timestamps are monotone along the linear chain, so scan
    * from the HEAD and stop at the first commit at/before the target —
    * O(distance from head), not O(history), per query. */
  def versionAsOfTimestamp(tsMs: Long): Long = {
    val it = log.versions.reverseIterator // versions is already sorted
    while (it.hasNext) {
      val v = it.next()
      if (log.read(v).timestampMs <= tsMs) return v
    }
    throw new IllegalArgumentException(
      s"no version at or before timestamp $tsMs at $root")
  }

  /** One commit's metadata (op, added files, timestamp) — O(1) log read. */
  def commitInfo(v: Long): Commit = log.read(v)

  /** TRUNCATE: make the table empty in ONE metadata commit (an
    * overwrite carrying zero files). Never scans data — `TRUNCATE
    * TABLE` on a 100 TB table is O(1); history/time travel keep the
    * pre-truncate snapshots. */
  def truncate(): Long = commitRetry("overwrite", Nil, Nil, InheritSchema(schema.json))

  /** Snapshot read (optionally time-travel to `asOfVersion` or a named
    * branch/tag), reading only the files [[planFiles]] keeps for
    * `filters`. The filters are ALSO re-applied by Spark (parquet
    * row-group pushdown + codegen), so pruning is purely an IO
    * optimization — never a correctness dependency.
    */
  def read(asOfVersion: Option[Long] = None,
           ref: Option[String] = None,
           filters: Seq[Column] = Nil): DataFrame = {
    val v = resolveVersion(asOfVersion, ref)
    val sch = schemaAt(v)
    val kept = planFiles(v, filters)
    val df =
      if (kept.isEmpty) emptyFrame(sch)
      else readData(kept.map(f => s"$root/${f.path}"), sch)
    filters.foldLeft(df)(_ filter _)
  }

  /** The files a read of snapshot `v` under `filters` must open:
    * the snapshot's live files, minus those whose min/max/null stats
    * exclude a filter ([[StatsPruner]]), minus — on a bucketed table —
    * those outside the buckets an equality/IN filter on the bucket key
    * hashes into. Metadata-only (commit-log FileStats, no file IO); the
    * one file-planning step behind [[read]], [[snapshotStats]] and the
    * catalog scan. */
  def planFiles(v: Long, filters: Seq[Column] = Nil): Seq[FileStat] = {
    val files = log.snapshotFiles(v)
    if (filters.isEmpty) files
    else {
      val sch = schemaAt(v)
      val resolved = resolve(filters, sch)
      bucketPruneFiles(StatsPruner.prune(files, resolved, sch), resolved, v)
    }
  }

  /** Bucket pruning: equality/IN conjuncts on the bucket column keep
    * only the value-buckets' files. min/max stats CANNOT prune a hash
    * layout — each bucket's key values span the whole range by
    * construction. No-op when the table isn't bucketed or any live file
    * lacks the __bucket stat (explicit re-layout: fall back to the full
    * scan, same answers). */
  private def bucketPruneFiles(kept: Seq[FileStat], resolved: Seq[Expression],
                               v: Long): Seq[FileStat] =
    (bucketSpec, bucketColumnAt(v)) match {
      case (Some((_, n)), Some(colName))
          if kept.forall(_.min.contains(GraftTable.BucketStatKey)) =>
        val targetSets = resolved.flatMap(e => bucketTargets(e, colName, n))
        if (targetSets.isEmpty) kept
        else {
          val targets = targetSets.reduce(_ intersect _)
          kept.filter(f => targets.contains(f.min(GraftTable.BucketStatKey).toInt))
        }
      case _ => kept
    }

  /** Bucket set a resolved predicate confines the bucket column to:
    * EqualTo/In/InSet on the column (literal side only — a literal the
    * analyzer wrapped in a Cast folds, as in [[StatsPruner]]),
    * And-composed. None = no usable conjunct (no pruning from this
    * expression). */
  private def bucketTargets(e: Expression, colName: String, n: Int): Option[Set[Int]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, In, InSet}
    def key(v0: Any, dt: DataType): Option[Int] = dt match {
      case IntegerType | LongType => Some(GraftTable.bucketOf(v0, n))
      case _ => None
    }
    def keyOf(v: Expression): Option[Int] = v match {
      case Literal(v0, dt) => key(v0, dt)
      case _ => StatsPruner.Lit.unapply(v).flatMap(key(_, v.dataType))
    }
    def all(bs: Seq[Option[Int]]): Option[Set[Int]] =
      if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
    e match {
      case And(l, r) =>
        (bucketTargets(l, colName, n), bucketTargets(r, colName, n)) match {
          case (Some(a), Some(b)) => Some(a intersect b)
          case (a, b) => a.orElse(b)
        }
      case EqualTo(a: AttributeReference, v) if a.name == colName => keyOf(v).map(Set(_))
      case EqualTo(v, a: AttributeReference) if a.name == colName => keyOf(v).map(Set(_))
      case In(a: AttributeReference, vs) if a.name == colName => all(vs.map(keyOf))
      case InSet(a: AttributeReference, set) if a.name == colName =>
        all(set.toSeq.map(v0 => key(v0, a.dataType)))
      case _ => None
    }
  }

  def history: Seq[Commit] = log.versions.map(log.read)

  /** (rows, bytes) of the files [[planFiles]] keeps for snapshot `v`
    * under `filters` — metadata-only (commit-log FileStats, no file IO). */
  def snapshotStats(v: Long, filters: Seq[Column] = Nil): (Long, Long) = {
    val kept = planFiles(v, filters)
    (kept.map(_.rows).sum, kept.map(_.bytes).sum)
  }

  /** A frame of `sch` with no rows and no files: the relation user
    * Columns are analyzed against. Every column is nullable, as in
    * [[readData]]'s frames: a stored NOT NULL is not enforced on the
    * data, and the optimizer would otherwise fold `IsNull` over such a
    * column to false and bind it as never NULL. */
  private def emptyFrame(sch: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      GraftParquetReadShim.asNullable(sch))

  /** Resolve user Columns to Catalyst expressions against `sch` via the
    * analyzer (public API only: analyze a Filter over an empty relation
    * and take its condition). */
  private def resolve(filters: Seq[Column], sch: StructType): Seq[Expression] = {
    if (filters.isEmpty) return Nil
    val empty = emptyFrame(sch)
    filters.map { c =>
      empty.filter(c).queryExecution.analyzed.collectFirst {
        case f: logical.Filter => f.condition
      }.getOrElse(Literal(true))
    }
  }

  // ------------------------------------------------------------------
  // refs
  // ------------------------------------------------------------------
  def createBranch(name: String, from: Option[Long] = None): Unit =
    log.setRef(name, from.getOrElse(currentVersion))

  def tag(name: String, version: Option[Long] = None): Unit =
    log.setRef(name, version.getOrElse(currentVersion))

  def refs: Map[String, Long] = log.listRefs

  // ------------------------------------------------------------------
  // write path
  // ------------------------------------------------------------------
  private def writeFiles(df: DataFrame): Seq[FileStat] = writeFilesWith(df, schema)

  /** The cluster spec's field ids resolved to their names in `sch`
    * (rename-proof). Loud when an id is missing — dropColumn's guard
    * should make that unreachable. */
  private def clusterSpecNames(sch: StructType): Seq[String] =
    clusterFieldIds.map { id =>
      sch.fields.find(f => GraftTable.fieldId(f).contains(id)).getOrElse(
        throw new IllegalStateException(
          s"cluster field id $id missing from write schema at $root " +
            "(was a cluster column dropped outside dropColumn's guard?)")).name
    }

  /** All data writes funnel here. The frame is re-projected against the
    * table schema WITH its field metadata — projections and CASE
    * rewrites drop column metadata, and without the `parquet.field.id`
    * entries the writer would emit id-less files that an id-resolving
    * read (post-rename) could no longer match.
    *
    * `applyClusterSpec = false` is for callers that already shaped the
    * frame themselves (compact's explicit clusterBy/zorderBy layouts —
    * re-ranging here would silently destroy a Z-order tiling and
    * override the caller's file-count choice).
    *
    * ONE Spark job writes the files and computes their stats; an empty
    * frame (or empty partition) writes no file, so an empty rewrite
    * returns Nil without a separate emptiness probe. */
  private def writeFilesWith(df: DataFrame, sch: StructType,
                             applyClusterSpec: Boolean = true): Seq[FileStat] = {
    val dfm0 = df.select(sch.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name, f.metadata)).toIndexedSeq: _*)
    // apply the create-time cluster spec: resolve field ids to their
    // CURRENT names (rename-proof), then range-cluster + sort so each
    // file covers a narrow, stats-prunable span. Empty range partitions
    // write no file, so small batches do not fan out to the partition
    // count — but frequent tiny clustered appends still accumulate
    // small files; compact() remains the consolidation path.
    val dfm =
      if (!applyClusterSpec) dfm0
      else bucketSpec match {
        // hash-bucket layout: exactly n partitions, partition id =
        // pmod(murmur3(col), n) (repartition's own function), sorted
        // within each bucket so min/max stats stay prunable too
        case Some((id, n)) =>
          val name = fieldNameOf(id, sch)
          dfm0.repartition(n, col(name)).sortWithinPartitions(col(name))
        case None if clusterFieldIds.nonEmpty =>
          val names = clusterSpecNames(sch)
          dfm0.repartitionByRange(names.map(col): _*)
            .sortWithinPartitions(names.map(col): _*)
        case None => dfm0
      }
    GraftFileWriter.write(dfm, fileWriterFactory(newWriteDir(), sch))
  }

  /** Newest commit whose op satisfies `domain` — reverse scan from the
    * head, one O(1) log read per commit, short-circuiting at the first
    * hit. Callers pick a `domain` whose newest member is frequent
    * (e.g. "any incr-refresh label") so the scan is O(commits since
    * that op), not O(history). */
  private def newestCommitIn(domain: String => Boolean): Option[Commit] =
    log.versions.reverseIterator.map(log.read).find(c => domain(c.op))

  /** What schema a commit publishes — and, critically, what happens
    * when a schema-evolution commit lands BETWEEN an operation reading
    * the schema and its tryCommit. A retry must never replay a captured
    * pre-DDL schema json: that would silently drop the racer's new
    * column from the head (and its name is then permanently retired).
    *  - [[PinSchema]]: the op restores a known schema (rollback) —
    *    publish exactly this json.
    *  - [[EvolveSchema]]: the op IS a schema change (altschema) — derive
    *    the next schema from the PARENT's on every attempt. A stale
    *    payload must never be replayed after a racing DDL commit lands:
    *    two concurrent addColumns would otherwise both base on the same
    *    parent, the loser's retry would drop the winner's column, and
    *    both could mint the SAME field id, binding one column's name to
    *    the other's bytes under id resolution. All validation (name
    *    clashes, retired names, id allocation) therefore lives inside
    *    `next`, where it sees every previously-landed change.
    *  - [[InheritSchema]]: additive data commits (appends, overwrite) —
    *    re-read the PARENT's schema on every attempt; the op's files
    *    simply predate any concurrently-added column (read as NULL by
    *    name/id, like any pre-evolution file).
    *  - [[SameSchema]]: victim-rewriting DML — a concurrent schema
    *    change means the rewrite was computed under a stale column set
    *    (a concurrently-added column's values in victim files would be
    *    silently dropped), so drift fails loudly like a file conflict. */
  private sealed trait SchemaMode
  private final case class PinSchema(captured: String) extends SchemaMode
  private final case class EvolveSchema(next: StructType => StructType) extends SchemaMode
  private final case class InheritSchema(captured: String) extends SchemaMode
  private final case class SameSchema(captured: String) extends SchemaMode

  /** THE commit loop (single implementation — append, DML, dedup'd
    * variants all land here). Retries on version races. Returns
    * (version, applied).
    *
    * `basedOn`: the snapshot version the operation computed `removed`
    * against. If another writer landed in between, file-level conflict
    * validation runs (Iceberg semantics): every file we intend to
    * remove must still be live in the new parent — otherwise a
    * concurrent rewrite already replaced it and blindly committing
    * would resurrect its deleted rows AND duplicate its surviving rows.
    * Such conflicts throw; the caller re-runs the DML on the fresh
    * snapshot. Pure appends (`removed` empty) never conflict.
    *
    * `dedup`: optional (domain, conflicts) pair for exactly-once
    * labeled commits. Before each attempt the newest `domain` commit is
    * re-checked against `conflicts`; on a hit the just-written files
    * are deleted and (thatVersion, applied = false) returns. The check
    * is ATOMIC with the commit: tryCommit succeeds only if `parent` is
    * still the head, so the re-scan covers every commit that could
    * conflict. Contract on the caller: `conflicts` must be monotone
    * within `domain` — if ANY domain commit conflicts, the NEWEST one
    * must (IncrementalView's contiguous watermark ranges satisfy this:
    * any overlap implies the newest range overlaps). */
  private def commitOnce(op: String, added: Seq[FileStat], removed: Seq[String],
                         schema: SchemaMode, basedOn: Long,
                         dedup: Option[(String => Boolean, String => Boolean)]): (Long, Boolean) = {
    var attempts = 0
    while (attempts < 20) {
      val parent = log.latestVersion
      dedup.flatMap { case (domain, conflicts) =>
        newestCommitIn(domain).filter(c => conflicts(c.op))
      } match {
        case Some(c) =>
          discardWrittenFiles(added)
          return (c.version, false)
        case None => ()
      }
      if (removed.nonEmpty && basedOn >= 0 && parent != basedOn) {
        val live = log.snapshotFiles(parent).map(_.path).toSet
        val gone = removed.filterNot(live)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$op@$root conflicts with a concurrent commit: file(s) " +
              s"${gone.mkString(",")} were rewritten after version $basedOn; " +
              "re-run the operation on the current snapshot")
      }
      val schemaJson = schema match {
        case PinSchema(j) => j
        case EvolveSchema(next) => next(schemaAt(parent)).json
        case InheritSchema(j) => if (parent == 0L) j else log.schemaJsonAt(parent)
        case SameSchema(j) =>
          val now = if (parent == 0L) j else log.schemaJsonAt(parent)
          if (now != j)
            throw new java.util.ConcurrentModificationException(
              s"$op@$root conflicts with a concurrent schema change: the rewrite " +
                "was computed under a stale column set; re-run on the current snapshot")
          j
      }
      val next = parent + 1
      val c = Commit(next, parent, op, added, removed, schemaJson, System.currentTimeMillis())
      if (log.tryCommit(c)) {
        log.setRef("main", next)
        return (next, true)
      }
      attempts += 1
    }
    throw new IllegalStateException(s"commit conflict not resolved after $attempts attempts: $root")
  }

  private def commitRetry(op: String, added: Seq[FileStat], removed: Seq[String],
                          schema: SchemaMode, basedOn: Long = -1L): Long =
    commitOnce(op, added, removed, schema, basedOn, None)._1

  /** The live files of `tgt` (a read of snapshot files `live`) holding
    * a row that `cond` joins to a row of `other`: ONE semi join (AQE /
    * broadcast pick the strategy) collecting file NAMES, not rows,
    * mapped back to commit-log-relative paths (file names are
    * UUID-part-named — unique per table). */
  private def filesJoining(tgt: DataFrame, other: DataFrame, cond: Column,
                           live: Seq[FileStat]): Seq[String] = {
    val hitAbs = tgt.withColumn("__f", input_file_name())
      .join(other, cond, "left_semi")
      .select("__f").distinct().collect().map(_.getString(0))
    val byName = live.map(f => f.path.split('/').last -> f.path).toMap
    hitAbs.toSeq.flatMap(a => byName.get(a.substring(a.lastIndexOf('/') + 1)))
  }

  /** Align an incoming frame to the table schema: columns resolve by
    * name, missing (post-evolution) columns fill with NULL, unknown
    * columns are rejected — Iceberg write-schema semantics. */
  private def aligned(df: DataFrame): DataFrame = {
    val sch = schema
    val have = df.schema.fieldNames.toSet
    val extra = have -- sch.fieldNames
    require(extra.isEmpty, s"columns not in table schema: ${extra.mkString(",")}")
    df.select(sch.fields.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  def append(df: DataFrame): Long =
    commitRetry("append", writeFiles(aligned(df)), Nil, InheritSchema(schema.json))

  // ------------------------------------------------------------------
  // write-audit-publish (WAP)
  // ------------------------------------------------------------------
  /** Files written but not yet committed — invisible to every reader
    * until [[publishStaged]]. */
  final case class StagedAppend private[GraftTable] (files: Seq[FileStat], schemaJson: String)

  /** WAP step 1 — WRITE: land the data as immutable files under the
    * table root WITHOUT committing. No snapshot, branch, or time-travel
    * read can see them (snapshots resolve from the commit log only).
    * The Iceberg/Nessie write-audit-publish workflow walden's stack
    * supports via staged snapshots; here staging is simply "files
    * without a commit", which the store's own crash story already
    * handles (vacuum's grace window, below). */
  def stageAppend(df: DataFrame): StagedAppend =
    StagedAppend(writeFiles(aligned(df)), schema.json)

  /** WAP step 2 — AUDIT: read exactly the staged rows (run quality
    * gates, count checks, dedup probes) before anything is published. */
  def readStaged(staged: StagedAppend): DataFrame =
    readData(staged.files.map(f => s"$root/${f.path}"),
      DataType.fromJson(staged.schemaJson).asInstanceOf[StructType])

  /** WAP step 3 — PUBLISH: one atomic commit making every staged set
    * visible together (all-or-nothing across batches). Publishing
    * under a schema that evolved since staging is safe: reads resolve
    * by name, so post-evolution columns read as NULL from staged files,
    * exactly like files appended before an addColumn.
    *
    * Staged files are unreferenced until this commit, so a vacuum whose
    * grace window is shorter than the audit can have deleted them —
    * committing their paths anyway would corrupt the table head. Three
    * layers defend this, narrowing (not eliminating — there is no lock)
    * the race: the pre-commit existence check fails the common case
    * LOUDLY; the post-commit re-verify catches a vacuum that deleted
    * between check and commit and rolls the whole publish back
    * (all-or-nothing: a partial publish would violate the WAP
    * contract); and vacuum itself re-validates its candidates against
    * the CURRENT log right before deleting, so a publish that committed
    * during its walk is spared. The irreducible residue — a vacuum
    * whose final re-read predates this commit and whose delete lands
    * after the re-verify — is exactly what the grace window exists for:
    * size it above the longest audit (same contract as in-flight
    * creates). */
  def publishStaged(staged: Seq[StagedAppend]): Long = {
    require(staged.nonEmpty, "nothing staged")
    val paths = staged.flatMap(_.files.map(_.path))
    val gone = paths.filterNot(p => Files.exists(Paths.get(root, p)))
    require(gone.isEmpty,
      s"staged file(s) vanished before publish (vacuum grace shorter than the " +
        s"audit?): ${gone.take(3).mkString(",")}")
    val v = commitRetry("publish", staged.flatMap(_.files), Nil, InheritSchema(schema.json))
    val gone2 = paths.filterNot(p => Files.exists(Paths.get(root, p)))
    if (gone2.nonEmpty) {
      commitRetry("publish-rollback", Nil, paths, InheritSchema(schema.json))
      throw new IllegalStateException(
        s"staged file(s) vanished during publish (vacuum raced the commit); " +
          s"publish $v rolled back: ${gone2.take(3).mkString(",")}")
    }
    v
  }

  /** Abandon staged files (audit failed). Immediate, explicit delete —
    * a crashed aborter's leftovers fall to vacuum's unreferenced-file
    * sweep instead. */
  def discardStaged(staged: StagedAppend): Unit =
    discardWrittenFiles(staged.files)

  /** Delete never-committed files AND their per-write `data/<uuid8>`
    * directories when only marker files (`_SUCCESS`, `.crc` siblings)
    * remain: vacuum skips dot/underscore names and never removes
    * directories, so a frequently-skipping writer (dedup'd streaming
    * replays, failed audits) would otherwise leak empty directories
    * without bound. Only directories whose data files are ALL gone are
    * touched — a shared directory with surviving files is left alone. */
  private def discardWrittenFiles(files: Seq[FileStat]): Unit = {
    files.foreach(f => Files.deleteIfExists(Paths.get(root, f.path)))
    files.map(f => Paths.get(root, f.path).getParent).distinct.foreach { dir =>
      if (dir != null && Files.isDirectory(dir) && dir.startsWith(Paths.get(root))) {
        val s = Files.list(dir)
        val remaining = try {
          val it = s.iterator(); val b = Vector.newBuilder[java.nio.file.Path]
          while (it.hasNext) b += it.next(); b.result()
        } finally s.close()
        val onlyMarkers = remaining.forall { p =>
          val n = p.getFileName.toString
          n.startsWith("_") || n.startsWith(".")
        }
        if (onlyMarkers) {
          remaining.foreach(p => Files.deleteIfExists(p))
          Files.deleteIfExists(dir)
        }
      }
    }
  }

  /** Append recorded under a caller-chosen op label — the idempotence
    * hook for streaming sinks: a replayed micro-batch re-presents the
    * same label, the sink sees it in `history`, and skips. */
  private[graft] def appendAs(op: String, df: DataFrame): Long =
    commitRetry(op, writeFiles(aligned(df)), Nil, InheritSchema(schema.json))

  /** Exactly-once labeled append: commit `df` under `op` UNLESS the
    * newest commit in `domain` satisfies `conflicts` — then skip,
    * delete the just-written files, and return that commit's version
    * with `applied = false`. Dedup is atomic with the commit and the
    * scan is bounded (see [[commitOnce]], including the monotonicity
    * contract on `conflicts`). */
  private[graft] def appendAsOnce(op: String, df: DataFrame,
                                  domain: String => Boolean,
                                  conflicts: String => Boolean): (Long, Boolean) = {
    newestCommitIn(domain).filter(c => conflicts(c.op)) match {
      case Some(c) => return (c.version, false) // fast path: skip before writing
      case None => ()
    }
    commitOnce(op, writeFiles(aligned(df)), Nil, InheritSchema(schema.json), -1L,
      Some((domain, conflicts)))
  }

  def overwrite(df: DataFrame): Long =
    commitRetry("overwrite", writeFiles(aligned(df)), Nil, InheritSchema(schema.json))

  // ------------------------------------------------------------------
  // the file writer, and DSv2 batch-write adoption
  // ------------------------------------------------------------------
  /** Allocate the per-write directory — one `data/<uuid8>` per write on
    * every path, so vacuum's unreferenced-file sweep covers crashed
    * writes for free. */
  private[graft] def newWriteDir(): String =
    s"data/${UUID.randomUUID().toString.take(8)}"

  /** The table's file writer for one write of `sch`-shaped rows into
    * `subdir`: the table's format, per-file bloom filters, and the
    * bucket column whose ids the write tasks record. Shared by
    * [[writeFilesWith]] and the catalog's DSv2 batch write, so both
    * write identical files with identical stats. */
  private[graft] def fileWriterFactory(subdir: String, sch: StructType): GraftFileWriterFactory = {
    val options =
      if (bloomFilterCols.isEmpty) Map.empty[String, String]
      else if (format == "parquet")
        bloomFilterCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
      else Map("orc.bloom.filter.columns" -> bloomFilterCols.mkString(","))
    GraftFileWriter.factory(spark, root, subdir, format, sch, options,
      bucketSpec.map { case (id, n) => (fieldNameOf(id, sch), n) })
  }

  /** Adopt executor-written files under `subdir` as ONE atomic commit —
    * the driver-side half of the DSv2 [[org.apache.spark.sql.connector.write.BatchWrite]]:
    * the files come from the same [[GraftFileWriter]] and go through the
    * same commit loop every other write path uses, so WAP vacuum
    * semantics, stats pruning, and concurrent-writer retries all apply
    * unchanged. `written` are the committed tasks' files with their
    * stats ([[GraftFileWriterFactory.committed]]).
    *
    * `dynamicPartitions = false`: plain append, or (with `truncate`)
    * the static INSERT OVERWRITE (snapshot = exactly the new files).
    *
    * `dynamicPartitions = true` is Iceberg-parity dynamic partition
    * overwrite: replace exactly the partitions present in the written
    * rows, leave every other partition untouched. Partition identity is
    * the write-time cluster spec (the table's only partition notion —
    * SQL `PARTITIONED BY` lands there); with no spec the table is
    * unpartitioned and dynamic mode degenerates to the full overwrite,
    * Hive/Spark semantics. The replaced partitions' rows are deleted
    * from the live files by [[rewriteMatching]] (stats-pruned — the spec
    * range-clusters every file on exactly these columns, so pruning is
    * partition-grade — and one job); ONE commit adds written + survivor
    * files and removes victims — rewrite-shaped (`removed` non-empty),
    * so CDC diffs, incremental views, and the streaming source all
    * classify it correctly by shape. */
  private[graft] def adoptBatchWrite(subdir: String, truncate: Boolean,
                                     dynamicPartitions: Boolean,
                                     written: Seq[FileStat]): Long = {
    val sch = schema
    val absDir = s"$root/$subdir"
    // The COMMIT MESSAGES are the source of truth, not the directory: a
    // task attempt that died mid-write skips abort() (Spark's contract
    // on JVM crashes), so the directory can hold its torn or duplicate
    // file next to the retried attempt's committed one — and a ZOMBIE
    // attempt on a partitioned executor can drop one in at any moment.
    // The commit and the partition-tuple scan therefore use EXACTLY the
    // reported files (never a directory listing); the purge of
    // unreported files is hygiene, not load-bearing. A reported file
    // missing from disk fails loudly — silently dropping it would lose
    // committed rows.
    val committedFiles = written.map(f => f.path.substring(f.path.lastIndexOf('/') + 1))
    val allowed = committedFiles.toSet
    if (Files.isDirectory(Paths.get(absDir))) {
      val s = Files.list(Paths.get(absDir))
      try s.iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        if (!n.startsWith(".") && !n.startsWith("_") && !allowed(n))
          Files.deleteIfExists(p)
      } finally s.close()
    }
    val missing = committedFiles.filterNot(n => Files.exists(Paths.get(absDir, n)))
    require(missing.isEmpty,
      s"batch write $subdir: committed file(s) vanished before adoption " +
        s"(${missing.take(3).mkString(",")}); aborting instead of losing rows")
    // BUCKETED dynamic overwrite (round-12 review finding: the generic
    // branch below would have replaced the WHOLE table): the partition
    // identity is the bucket — replace exactly the buckets this write
    // touches, Iceberg's bucket-transform semantics. Files without a
    // __bucket stat (pre-bucket history, explicit re-layouts) may hold
    // rows of touched buckets, so their untouched-bucket rows are
    // rewritten as survivors, same device as the cluster path.
    if (dynamicPartitions && bucketSpec.isDefined) {
      if (written.isEmpty) return currentVersion
      require(written.forall(_.min.contains(GraftTable.BucketStatKey)),
        "bucketed dynamic overwrite: a written file straddles buckets " +
          "(the write distribution must cluster on the bucket column)")
      val touched = written.map(_.min(GraftTable.BucketStatKey).toInt).toSet
      val (id, n) = bucketSpec.get
      val name = fieldNameOf(id, sch)
      val base = currentVersion
      val candidates = log.snapshotFiles(base)
        .filter(_.min.get(GraftTable.BucketStatKey).forall(b => touched(b.toInt)))
      val unstatted = candidates.filter(!_.min.contains(GraftTable.BucketStatKey))
      val survivors =
        if (unstatted.isEmpty) Nil
        else writeFiles(readData(unstatted.map(f => s"$root/${f.path}"), sch)
          .filter(!pmod(hash(col(name)), lit(n)).isin(touched.toSeq: _*)))
      return commitRetry("overwrite-dynamic", written ++ survivors,
        candidates.map(_.path), SameSchema(sch.json), basedOn = base)
    }
    if (!dynamicPartitions || clusterFieldIds.isEmpty) {
      // empty dynamic overwrite replaces no partitions, an empty append
      // adds nothing: no-op, no commit. (An empty STATIC overwrite still
      // commits — INSERT OVERWRITE of an empty query truncates.)
      if (written.isEmpty && (dynamicPartitions || !truncate)) return currentVersion
      val op = if (truncate || dynamicPartitions) "overwrite" else "append"
      return commitRetry(op, written, Nil, InheritSchema(sch.json))
    }
    if (written.isEmpty) return currentVersion
    val parts = clusterSpecNames(sch)
    // the distinct partition tuples this write touches — metadata-sized
    // (the number of partitions in one batch, not the row count); the
    // scan is COLUMN-PRUNED to the cluster columns (parquet reads just
    // those pages). Min/max stats cannot stand in for it: a file's
    // range may span partitions it holds no row of.
    val tuples = readData(committedFiles.map(n => s"$absDir/$n"), sch)
      .select(parts.map(col): _*).distinct().collect()
    require(tuples.length <= 1000,
      s"dynamic overwrite would replace ${tuples.length} partitions in one commit " +
        "(cap 1000: the per-partition predicate is a planned expression); " +
        "split the write or use static overwrite")
    val cond = tuples.map { r =>
      parts.zipWithIndex.map { case (p, i) =>
        if (r.isNullAt(i)) col(p).isNull else col(p) === lit(r.get(i))
      }.reduce(_ && _)
    }.reduce(_ || _)
    val r = rewriteMatching(cond, None)
    commitRetry("overwrite-dynamic", written ++ r.added, r.victims,
      SameSchema(r.schema.json), basedOn = r.base)
  }

  /** Labeled, exactly-once MULTISET replace: remove one target-row
    * instance per `deletes` row (null-safe equality on every column),
    * add `inserts`, in ONE atomic commit — the primitive a CDC-driven
    * incremental refresh needs (its delete set is row VALUES from a
    * snapshot diff, not a predicate).
    *
    * Copy-on-write: one semi join finds the files containing >=1 row
    * equal to a delete row; ONLY those files rewrite, via ONE
    * `exceptAll` over the victim set as a whole (per-file exceptAll
    * would remove a duplicated row once per file). The delete set is
    * persisted for its three consumers (count, semi join, exceptAll) —
    * its upstream is typically a CDC diff + transform, too expensive to
    * recompute. Costs stay bounded by victim bytes + delete-set bytes.
    *
    * EVERY delete row must actually remove a target row — enforced by
    * row accounting (victim stats rows − survivor rows == delete
    * count), not trusted: a shortfall means the caller's re-derivation
    * does not match what it originally wrote (nondeterministic
    * transform, out-of-band target edits) and silently skipping those
    * deletes would leave phantom rows forever. Fails BEFORE committing,
    * with fullRefresh as the remedy.
    *
    * Exactly-once like [[appendAsOnce]] (same [[commitOnce]] dedup,
    * same monotonicity contract); victim files rewritten by a
    * concurrent commit fail validation loudly. */
  private[graft] def replaceRowsAs(op: String, deletes: DataFrame, inserts: DataFrame,
                                   domain: String => Boolean,
                                   conflicts: String => Boolean): (Long, Boolean) = {
    newestCommitIn(domain).filter(c => conflicts(c.op)) match {
      case Some(c) => return (c.version, false)
      case None => ()
    }
    val base = currentVersion
    val sch = schema
    val del = aligned(deletes).persist()
    try {
      val delCount = del.count()
      val live = log.snapshotFiles(base)
      val victims: Seq[String] =
        if (delCount == 0) Nil
        else {
          val tgt = read(asOfVersion = Some(base))
          val delP = del.select(sch.fieldNames.map(n => col(n).as(s"__del_$n")).toIndexedSeq: _*)
          val joinCond = sch.fieldNames.map(n => col(n) <=> col(s"__del_$n")).reduce(_ && _)
          filesJoining(tgt, delP, joinCond, live)
        }
      val survivorFiles =
        if (victims.isEmpty) Nil
        else writeFiles(readData(victims.map(p => s"$root/$p"), sch).exceptAll(del))
      val victimSet = victims.toSet
      val victimRows = live.filter(f => victimSet(f.path)).map(_.rows).sum
      val matched = victimRows - survivorFiles.map(_.rows).sum
      if (matched != delCount) {
        discardWrittenFiles(survivorFiles)
        throw new IllegalStateException(
          s"$op@$root: only $matched of $delCount delete rows matched target rows — " +
            "the re-derived delete set does not match what was originally written " +
            "(nondeterministic transform, or the target was modified out-of-band); " +
            "run fullRefresh to rebuild")
      }
      val insertFiles = writeFiles(aligned(inserts))
      commitOnce(op, survivorFiles ++ insertFiles, victims, SameSchema(sch.json), base,
        Some((domain, conflicts)))
    } finally del.unpersist()
  }

  // ------------------------------------------------------------------
  // row-level DML (copy-on-write)
  // ------------------------------------------------------------------
  /** A copy-on-write rewrite computed against snapshot `base` (schema
    * `schema`): the `victims` to remove and the files `added` in their
    * place, ready for one commit. */
  private final case class Rewrite(base: Long, schema: StructType,
                                   victims: Seq[String], added: Seq[FileStat])

  /** The copy-on-write core of DELETE (`assign` None), UPDATE (`assign`
    * = the SET map) and the clustered dynamic overwrite: ONE Spark job,
    * one stage, no shuffle ([[RewriteTask]]).
    *
    * Driver: candidates are [[planFiles]]' (stats + bucket pruning);
    * `cond` — and for UPDATE the `CASE WHEN cond THEN v ELSE col`
    * columns — are analyzed and optimized over an empty relation of the
    * table schema, every column nullable ([[emptyFrame]]: a NOT NULL
    * column can hold NULLs), and bound to its attributes; the readers
    * come from GraftParquetReadShim (this session's SQLConf, field-id
    * resolution). Whole candidate files are packed into tasks, never
    * split: Spark's packing on a plain table, one task per file on a
    * bucketed or clustered one, so each output keeps its victim's single
    * `__bucket`, sort order and key range.
    *
    * Task: probe each file for a row where `cond` is TRUE; rewrite the
    * files that hit — DELETE keeps the rows where `NOT coalesce(cond,
    * false)` (rows where `cond` is NULL survive), UPDATE writes the
    * projected rows. A candidate without a hit is neither removed nor
    * rewritten.
    *
    * An UPDATE that assigns the bucket column or a cluster column moves
    * rows across the layout: the job only probes, and the victims
    * rewrite through [[writeFilesWith]], whose layout shuffle places the
    * moved rows. A `cond` or assignment holding a subquery, or anything
    * else a task cannot evaluate, fails before any file is written. */
  private def rewriteMatching(cond: Column, assign: Option[Map[String, Column]]): Rewrite = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, SubqueryExpression, Unevaluable}
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.execution.datasources.PartitionedFile
    val base = currentVersion
    val sch = schemaAt(base)
    // the rows as the files hold them: every column nullable
    val fileSch = GraftParquetReadShim.asNullable(sch)
    val updated = assign.map(set => sch.fieldNames.toSeq.map { n =>
      set.get(n)
        .map(v => when(cond, v.cast(fileSch(n).dataType)).otherwise(col(n)).as(n))
        .getOrElse(col(n))
    })
    val frame = emptyFrame(sch)
      .select(cond +: updated.getOrElse(Seq(!coalesce(cond, lit(false)))): _*)
    if (frame.queryExecution.analyzed.expressions.exists(_.exists(_.isInstanceOf[SubqueryExpression])))
      throw new UnsupportedOperationException(
        s"copy-on-write DML at $root cannot evaluate a subquery in its condition or " +
          "assignments; compute its value first (SQL DML does this itself)")
    val (exprs, attrs) = frame.queryExecution.optimizedPlan match {
      case logical.Project(list, child) =>
        (list.map { case a: Alias => a.child; case e => e }, child.output)
      case other => throw new IllegalStateException(s"unexpected rewrite plan:\n$other")
    }
    val bound = exprs.map(BindReferences.bindReference(_, attrs))
    bound.flatMap(_.find(_.isInstanceOf[Unevaluable])).headOption.foreach { e =>
      throw new UnsupportedOperationException(
        s"copy-on-write DML at $root cannot evaluate '${e.sql}' inside a write task")
    }
    val candidates = planFiles(base, Seq(cond))
    if (candidates.isEmpty) return Rewrite(base, sch, Nil, Nil)

    val layoutCols = bucketColumnAt(base).toSeq ++ clusterSpecNames(sch)
    val moves = assign.exists(_.keySet.exists(layoutCols.contains))
    val probeAttrs = attrs.filter(exprs.head.references.contains)
    val probeSchema = StructType(fileSch.fields.filter(f => probeAttrs.exists(_.name == f.name)))
    val writer = if (moves) None else Some(fileWriterFactory(newWriteDir(), sch))
    val task = new RewriteTask(
      GraftParquetReadShim.buildReader(spark, format, fileSch, probeSchema,
        GraftParquetReadShim.pushableFilters(exprs.head)),
      GraftParquetReadShim.buildReader(spark, format, fileSch, fileSch, Nil),
      BindReferences.bindReference(exprs.head, probeAttrs),
      if (assign.isEmpty) Left(bound(1)) else Right(bound.tail),
      writer)

    val files = candidates.map(f => f.path -> GraftParquetReadShim.mkFile(s"$root/${f.path}", f.bytes))
    val groups =
      if (bucketSpec.isDefined || clusterFieldIds.nonEmpty) files.map(Seq(_))
      else {
        val relOf = files.map { case (rel, pf) => pf.filePath -> rel }.toMap
        GraftParquetReadShim.filePartitions(spark, format,
          candidates.map(f => (s"$root/${f.path}", f.bytes)), split = false)
          .map(_.files.toSeq.map(pf => relOf(pf.filePath) -> pf))
      }
    val sc = spark.sparkContext
    val results =
      try sc.runJob(sc.parallelize(groups, groups.size),
        (ctx: TaskContext, it: Iterator[Seq[(String, PartitionedFile)]]) =>
          task.run(ctx, it.next())).toSeq
      catch {
        case t: Throwable =>
          writer.foreach(_.removeDir())
          throw t
      }
    val victims = results.flatMap(_.victims)
    val added = writer match {
      case Some(w) => w.committed(results.map(_.written))
      case None if victims.isEmpty => Nil
      case None => writeFilesWith(
        readData(victims.map(p => s"$root/$p"), sch).select(updated.get: _*), sch)
    }
    Rewrite(base, sch, victims, added)
  }

  /** `DELETE ... WHERE cond`: copy-on-write over the files holding a
    * row where `cond` is TRUE ([[rewriteMatching]]), one commit. Rows
    * where `cond` is NULL survive (SQL semantics). */
  def delete(cond: Column): Long = {
    val r = rewriteMatching(cond, None)
    if (r.victims.isEmpty) return currentVersion
    commitRetry("delete", r.added, r.victims, SameSchema(r.schema.json), basedOn = r.base)
  }

  /** `UPDATE ... SET set WHERE cond`: copy-on-write over the files
    * holding a row where `cond` is TRUE ([[rewriteMatching]]), one
    * commit. `set` maps column names to new values (cast to the
    * column's type); every value sees the pre-update row. */
  def update(cond: Column, set: Map[String, Column]): Long = {
    val r = rewriteMatching(cond, Some(set))
    if (r.victims.isEmpty) return currentVersion
    commitRetry("update", r.added, r.victims, SameSchema(r.schema.json), basedOn = r.base)
  }

  /** MERGE keyed on equality of `keyCols`: matched target rows take the
    * source's values (upsert); unmatched source rows are inserted. One
    * [[mergeInto]] with `===` on every key — so a NULL key never
    * matches and its source row inserts — one WHEN MATCHED UPDATE of
    * every column and one WHEN NOT MATCHED INSERT of every column.
    */
  def merge(source: DataFrame, keyCols: Seq[String]): Long =
    merge(source, keyCols, "merge")

  /** As [[merge]], with a caller-chosen commit label — the idempotence
    * hook for streaming upsert sinks (the label records the batch id,
    * exactly like [[appendAs]] for append sinks). */
  private[graft] def merge(source: DataFrame, keyCols: Seq[String], op: String): Long = {
    import GraftTable.MergeSourcePrefix
    val names = schema.fieldNames.toSeq
    val srcK = source.select(names.map(col): _*)
    // SQL/Iceberg MERGE errors when one target row matches several
    // source rows; checked on the source alone, before any target read
    val dupKeys = srcK.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).count()
    require(dupKeys == 0,
      s"merge source has duplicate keys on (${keyCols.mkString(",")}); deduplicate first")
    val every = Some(names.map(n => n -> col(MergeSourcePrefix + n)).toMap)
    mergeInto(srcK, keyCols.map(k => col(k) === col(MergeSourcePrefix + k)).reduce(_ && _),
      Seq(MergeWhen(None, every)), Seq(MergeWhen(None, every)), Nil, op)
  }

  /** General MERGE with ordered WHEN clauses — the engine behind SQL
    * `MERGE INTO` (walden's row-level DML surface; Iceberg merge pinned
    * via `tf/main.tf:94`). Semantics follow the SQL standard:
    *
    *  - `matched`: for each target row with a source match, the FIRST
    *    clause whose condition holds applies (UPDATE assignments or
    *    DELETE); none holding leaves the row unchanged. A target row
    *    matching MORE than one source row is a cardinality violation
    *    and throws (a blind join would silently duplicate it).
    *  - `notMatched`: source rows with no target match insert via the
    *    first clause whose condition holds; otherwise they are dropped.
    *  - `notMatchedBySource`: target rows with NO source match take the
    *    first holding clause (UPDATE/DELETE).
    *
    * Column namespace: expressions in `condition` and in every clause
    * reference target columns by plain name and source columns as
    * `MergeSourcePrefix + name` (the caller — SQL rule or Scala user —
    * writes against that contract; mergeInto renames the source side
    * internally so both namespaces coexist in one join).
    *
    * Scale: copy-on-write on the affected files only. Victim discovery
    * is ONE semi join of the target against the source on `condition`
    * (AQE/broadcast pick the strategy) collecting file NAMES, not rows;
    * only those files are rewritten via a left join + one codegen'd
    * first-match-wins CASE chain per column; the insert side is one
    * anti join. A `notMatchedBySource` clause inherently touches every
    * target row, so it promotes ALL live files to victims — that is the
    * operation's semantics, not an implementation shortcut. */
  def mergeInto(source: DataFrame, condition: Column,
                matched: Seq[MergeWhen], notMatched: Seq[MergeWhen],
                notMatchedBySource: Seq[MergeWhen] = Nil): Long =
    mergeInto(source, condition, matched, notMatched, notMatchedBySource, "merge")

  /** As the public [[mergeInto]], with a caller-chosen commit label
    * (streaming upsert sinks record the batch id — same hook as
    * [[appendAs]]). */
  private[graft] def mergeInto(source: DataFrame, condition: Column,
                               matched: Seq[MergeWhen], notMatched: Seq[MergeWhen],
                               notMatchedBySource: Seq[MergeWhen],
                               op: String): Long = {
    import GraftTable.MergeSourcePrefix
    val base = currentVersion
    val sch = schema
    val tgt = read(asOfVersion = Some(base))
    require(source.columns.toSet.size == source.columns.length,
      s"merge source has duplicate column names: ${source.columns.mkString(",")}")
    // the prefix is the namespace boundary: a TARGET column already
    // starting with it would collide with a renamed source column in
    // the joined frame (ambiguous reference deep in the rewrite) —
    // reject up front with a clear message instead
    require(sch.fieldNames.forall(!_.startsWith(MergeSourcePrefix)),
      s"target columns may not start with the reserved merge prefix " +
        s"'$MergeSourcePrefix': ${sch.fieldNames.filter(_.startsWith(MergeSourcePrefix)).mkString(",")}")
    // internal marker / row-id names must collide with NEITHER the
    // prefixed source columns NOR the target schema (withColumn would
    // silently replace a same-named real column — e.g. a source column
    // literally named "present__")
    val taken = source.columns.map(MergeSourcePrefix + _).toSet ++ sch.fieldNames
    def freshName(base: String): String =
      Iterator.from(0)
        .map(i => if (i == 0) MergeSourcePrefix + base else s"$MergeSourcePrefix$base$i")
        .find(n => !taken(n)).get
    val marker = freshName("present__")
    val srcP = source
      .select(source.columns.map(c => col(c).as(MergeSourcePrefix + c)).toIndexedSeq: _*)
      .withColumn(marker, lit(true))

    // first-match-wins CASE chain over the ordered WHEN clauses
    def firstWins(clauses: Seq[MergeWhen], out: MergeWhen => Column, default: Column): Column =
      clauses.reverse.foldLeft(default)((els, cl) =>
        when(cl.condition.getOrElse(lit(true)), out(cl)).otherwise(els))

    // ---- victims: files whose rows a matched / not-matched-by-source
    // clause could touch
    val live = log.snapshotFiles(base)
    val victims: Seq[String] =
      if (notMatchedBySource.nonEmpty) live.map(_.path)
      else if (matched.isEmpty) Nil // insert-only merge never rewrites
      else {
        filesJoining(tgt, srcP, condition, live)
      }

    // ---- rewrite the victim files
    val rowId = freshName("rowid__")
    val rewritten =
      if (victims.isEmpty) None
      else {
        val vdf = readData(victims.map(p => s"$root/$p"), sch)
          .withColumn(rowId, monotonically_increasing_id())
        val joined = vdf.join(srcP, condition, "left")
        val isM = col(marker).isNotNull
        if (matched.nonEmpty) {
          val dup = joined.filter(isM).groupBy(col(rowId)).count()
            .filter(col("count") > 1).limit(1).count()
          require(dup == 0,
            "MERGE cardinality violation: a target row matches more than one " +
              "source row; deduplicate the source or tighten the ON condition")
        }
        val keep =
          when(isM, firstWins(matched, cl => lit(cl.set.isDefined), lit(true)))
            .otherwise(firstWins(notMatchedBySource, cl => lit(cl.set.isDefined), lit(true)))
        Some(joined.filter(keep).select(sch.fields.map { f =>
          def upd(cl: MergeWhen): Column =
            cl.set.flatMap(_.get(f.name)).getOrElse(col(f.name))
          when(isM, firstWins(matched, upd, col(f.name)))
            .otherwise(firstWins(notMatchedBySource, upd, col(f.name)))
            .cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*))
      }

    // ---- inserts: source rows with no target match, first clause wins
    val inserts =
      if (notMatched.isEmpty) None
      else {
        val srcOnly = srcP.join(tgt, condition, "left_anti")
        Some(srcOnly.filter(firstWins(notMatched, _ => lit(true), lit(false)))
          .select(sch.fields.map { f =>
            firstWins(notMatched,
              cl => cl.set.flatMap(_.get(f.name)).getOrElse(lit(null)),
              lit(null)).cast(f.dataType).as(f.name)
          }.toIndexedSeq: _*))
      }

    val parts = rewritten.toSeq ++ inserts.toSeq
    if (parts.isEmpty) return base
    val added = writeFiles(parts.reduce(_ unionByName _))
    if (added.isEmpty && victims.isEmpty) return base // nothing to change
    commitRetry(op, added, victims, SameSchema(sch.json), basedOn = base)
  }

  /** Row-level changes between two snapshots (CDC — Delta "change data
    * feed" / Nessie branch-diff parity): every row appears with
    * `_change_type` = 'insert' (present at `toVersion`, absent at
    * `fromVersion`) or 'delete' (the reverse); an update contributes
    * one of each. Multiset semantics — duplicate rows diff by count.
    *
    * Scale: copy-on-write makes this FILE algebra. Only files added or
    * removed between the snapshots are read (paths from the commit log
    * — metadata); rows the rewrite carried over unchanged cancel in the
    * two `exceptAll`s, whose shuffles are bounded by the CHANGED file
    * bytes, never the table. Untouched files are never opened.
    */
  def changes(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion >= 0 && fromVersion < toVersion,
      s"changes needs 0 <= fromVersion < toVersion, got ($fromVersion, $toVersion)")
    // fromVersion == 0 is the empty pre-create snapshot: every row at
    // toVersion diffs as an insert (the CDC base case a first-ever
    // incremental refresh over a DML-bearing source needs)
    val beforeFiles = log.snapshotFiles(fromVersion).map(_.path).toSet
    val afterFiles = log.snapshotFiles(toVersion).map(_.path).toSet
    val sch = schemaAt(toVersion)
    def readOrEmpty(paths: Set[String], readSch: StructType): DataFrame =
      if (paths.isEmpty) emptyFrame(readSch)
      else readData(paths.toSeq.map(p => s"$root/$p"), readSch)
    // align the before side to the AFTER schema: match columns by FIELD
    // ID when both schemas carry them (so a rename between the versions
    // does not masquerade as a drop+add — Iceberg resolution), by name
    // otherwise; columns added between the versions read as NULL from
    // old files, exactly how a time-travel read at toVersion sees them
    val fromSch = if (fromVersion == 0) sch else schemaAt(fromVersion)
    val bothIds = sch.fields.forall(f => GraftTable.fieldId(f).isDefined) &&
      fromSch.fields.forall(f => GraftTable.fieldId(f).isDefined)
    def sourceName(f: StructField): Option[String] =
      if (bothIds) fromSch.fields.find(g => GraftTable.fieldId(g) == GraftTable.fieldId(f)).map(_.name)
      else Some(f.name).filter(fromSch.fieldNames.contains)
    val before0 = readOrEmpty(beforeFiles -- afterFiles, fromSch)
    val before = before0.select(sch.fields.map { f =>
      sourceName(f) match {
        case Some(n) => col(n).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)
    val after = readOrEmpty(afterFiles -- beforeFiles, sch)
    after.exceptAll(before).withColumn("_change_type", lit("insert"))
      .unionByName(before.exceptAll(after).withColumn("_change_type", lit("delete")))
  }

  /** ROLLBACK/RESTORE to an earlier snapshot (Iceberg
    * rollback_to_snapshot / Delta RESTORE / Nessie branch reset
    * parity): ONE metadata commit re-publishing snapshot `toVersion`'s
    * exact file set and schema — no data is read or copied, O(1) at
    * any table size. History is preserved: the rolled-back-over
    * versions stay time-travelable, and the rollback itself is a new
    * version (so a rollback can be rolled back). The restored files
    * are referenced by the old snapshot already, so vacuum never
    * raced them. */
  def rollback(toVersion: Long): Long = {
    val head = currentVersion
    require(toVersion > 0 && toVersion <= head,
      s"rollback target $toVersion out of range (1..$head)")
    if (toVersion == head) return head
    commitRetry("overwrite", log.snapshotFiles(toVersion), Nil,
      PinSchema(schemaAt(toVersion).json))
  }

  /** Compact small files into ~targetFileMB outputs (OPTIMIZE).
    *
    * `clusterBy` additionally range-partitions and sorts the rewrite on
    * those columns, so each output file covers a narrow value range and
    * the per-file min/max stats prune like Iceberg partition metadata —
    * a selective read then touches O(1) files instead of all of them.
    * (Iceberg's `write.sort-order` / partition-spec equivalent.)
    *
    * `zorderBy` (2+ numeric columns, exclusive with clusterBy) clusters
    * on an interleaved-bit Z-value instead, so files form tiles in the
    * multi-dimensional value space and min/max stats prune selective
    * predicates on ANY of the columns (Delta `OPTIMIZE ZORDER BY` /
    * Iceberg multi-dim sort parity). A linear sort on (x, y) prunes x
    * but spreads every y value across all files; Z-order gives both
    * dimensions ~sqrt coverage. Implementation is scale-first: each
    * column's 8-bit bucket comes from the GLOBAL min/max in the commit
    * log's file stats (metadata — no extra scan, no global ntile
    * window), bucketing + bit interleave are narrow codegen'd
    * expressions, and the only shuffle is the same repartitionByRange
    * any clustered rewrite pays. NULLs bucket to 0 (they sort first,
    * like NULLS FIRST).
    */
  def compact(targetFileMB: Int = 128, clusterBy: Seq[String] = Nil,
              numFiles: Option[Int] = None, zorderBy: Seq[String] = Nil,
              onlyFilesSmallerMB: Option[Int] = None,
              where: Seq[Column] = Nil): Long = {
    // `where` (round 14): PREDICATE-SCOPED compaction — rewrite only
    // the files whose commit-log STATS may hold matching rows (the
    // same StatsPruner the read path uses), leave the rest untouched.
    // This is the hot-partition maintenance shape at 100 TB: a table
    // ingesting into today's key range compacts TODAY's files on
    // cadence for O(hot partition) per sweep, never O(table) (the
    // Iceberg/Delta `OPTIMIZE ... WHERE` idea). FILE-granular: a
    // selected file is rewritten WHOLE (rows not matching the
    // predicate in a straddling file are preserved, just relocated);
    // results are bit-identical at every scope. Composes with
    // onlyFilesSmallerMB (a scoped small-file sweep); exclusive with
    // an explicit global re-layout for the same reason that is.
    require(where.isEmpty || (clusterBy.isEmpty && zorderBy.isEmpty),
      "where is a scoped rewrite — it cannot combine with an explicit " +
        "clusterBy/zorderBy re-layout (run those over the full table)")
    // `onlyFilesSmallerMB` (round 11): INCREMENTAL small-file
    // consolidation — rewrite only the files under the threshold
    // (streaming appends), leave full-size outputs untouched. This is
    // the maintenance mode a continuously-appending sink needs: a full
    // rewrite every cadence is O(table) each time (quadratic over the
    // table's life), while the small-file sweep re-touches a byte only
    // until its file first exceeds the threshold — O(table) TOTAL.
    // Exclusive with clusterBy/zorderBy: a global re-layout over a
    // partial file set would mislabel itself as clustered.
    require(onlyFilesSmallerMB.isEmpty || (clusterBy.isEmpty && zorderBy.isEmpty),
      "onlyFilesSmallerMB is a small-file sweep — it cannot combine with " +
        "an explicit clusterBy/zorderBy re-layout (run those over the full table)")
    val base = currentVersion
    val allFiles = log.snapshotFiles(base)
    val scoped =
      if (where.isEmpty) allFiles
      else StatsPruner.prune(allFiles, resolve(where, schema), schema)
    val files = onlyFilesSmallerMB match {
      case Some(mb) => scoped.filter(_.bytes < (mb.toLong << 20))
      case None     => scoped
    }
    if (files.size <= 1 && clusterBy.isEmpty && zorderBy.isEmpty) return currentVersion
    val sch = schema
    val totalBytes = files.map(_.bytes).sum
    val n = numFiles.getOrElse(
      math.max(1, (totalBytes / (targetFileMB.toLong << 20)).toInt))
    val data = readData(files.map(f => s"$root/${f.path}"), sch)
    // compact shapes its own layout, so the write below BYPASSES the
    // create-time cluster spec: an explicit clusterBy/zorderBy is the
    // caller's deliberate re-layout choice (a zorder tiling re-ranged
    // by the spec would be silently destroyed), and a PLAIN compact on
    // a spec table consolidates ALONG the spec — same order, but with
    // compact's own file-count control instead of AQE write sizing
    val effCluster =
      if (clusterBy.nonEmpty || zorderBy.nonEmpty) clusterBy
      else clusterSpecNames(sch)
    val df =
      if (zorderBy.nonEmpty) {
        require(clusterBy.isEmpty, "choose clusterBy OR zorderBy, not both")
        require(zorderBy.size >= 2, "zorderBy needs >= 2 columns (use clusterBy for one)")
        // the interleaved Z-value lives in one signed long (63 usable
        // bits): Spark's shiftleft masks the shift amount mod 64, so a
        // bit position past 63 would wrap around and silently corrupt
        // the clustering (results stay correct — stats are recomputed —
        // but pruning quality degrades with no signal). Shrink bits so
        // bits*nCols <= 63, and refuse when even 1 bit/col won't fit.
        require(zorderBy.size <= 63,
          s"zorderBy supports at most 63 columns, got ${zorderBy.size}")
        zorderBy.foreach { c =>
          require(sch.fieldNames.contains(c), s"no column $c")
          require(sch(c).dataType.isInstanceOf[NumericType],
            s"zorderBy needs numeric columns; $c is ${sch(c).dataType.simpleString}")
        }
        // global per-column [min, max] from commit-log stats — metadata,
        // not a data pass; a column with no stats (all-null) is constant
        val ranges = zorderBy.map { c =>
          val mins = files.flatMap(_.min.get(c)).map(_.toDouble)
          val maxs = files.flatMap(_.max.get(c)).map(_.toDouble)
          if (mins.isEmpty) (0.0, 1.0) else (mins.min, maxs.max)
        }
        val bits = math.min(8, 63 / zorderBy.size)
        val buckets = zorderBy.zip(ranges).map { case (c, (lo, hi)) =>
          val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
          least(lit((1 << bits) - 1), greatest(lit(0),
            floor((coalesce(col(c).cast("double"), lit(lo)) - lit(lo)) / lit(span) * (1 << bits))))
            .cast("long")
        }
        // interleave: bit i of column j lands at position i*nCols + j
        val z = (0 until bits).flatMap { i =>
          buckets.zipWithIndex.map { case (b, j) =>
            shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * buckets.size + j)
          }
        }.reduce(_ + _)
        data.withColumn("__z", z)
          .repartitionByRange(n, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
      }
      else if (bucketSpec.isDefined && clusterBy.isEmpty) {
        // plain compact on a BUCKETED table consolidates along the
        // bucket layout — the rewritten subset re-buckets into (at
        // most) one file per bucket, every file keeps its __bucket
        // stat, and the storage-partitioned join survives maintenance.
        // An explicit clusterBy/zorderBy remains the caller's
        // deliberate layout replacement: those files straddle buckets
        // and the scan falls back (GraftBucketSpec pins both paths).
        val (id, nb) = bucketSpec.get
        val name = fieldNameOf(id, sch)
        data.repartition(nb, col(name)).sortWithinPartitions(col(name))
      }
      else if (effCluster.isEmpty) data.repartition(n)
      else data.repartitionByRange(n, effCluster.map(col): _*)
        .sortWithinPartitions(effCluster.map(col): _*)
    commitRetry("compact", writeFilesWith(df, sch, applyClusterSpec = false),
      files.map(_.path), SameSchema(sch.json), basedOn = base)
  }

  /** Every field id ever assigned in this table's history — the
    * watermark new columns allocate above, so a dropped column's id is
    * NEVER reused (reuse would resurface the dropped column's bytes
    * under the new column via id resolution). O(commits) metadata
    * reads; DDL-rare. */
  private def maxFieldIdEver: Long =
    log.versions.iterator
      .flatMap(v => DataType.fromJson(log.schemaJsonAt(v)).asInstanceOf[StructType]
        .fields.flatMap(GraftTable.fieldId))
      .foldLeft(0L)(math.max)

  /** Has `name` named a column at ANY version? File stats are keyed by
    * NAME, so reintroducing a retired name would let a predicate on the
    * new column consult stale stats of the old one — `IS NULL` could
    * then prune a file whose (all-NULL for the new column) rows match.
    * Schema evolution refuses retired names outright; conservative,
    * loud, and cheap (O(commits) metadata reads). */
  private def nameEverUsed(name: String): Boolean =
    log.versions.exists(v => DataType.fromJson(log.schemaJsonAt(v))
      .asInstanceOf[StructType].fieldNames.contains(name))

  /** Safe schema evolution: append a nullable column (Iceberg
    * `ALTER TABLE ... ADD COLUMN` parity). Metadata-only commit — no
    * data files are touched; files written before the change read the
    * new column as NULL. On id-tracked tables (every table created
    * since rename support) the new column gets a fresh field id above
    * the historical watermark. Retired names are refused (stats are
    * name-keyed; see [[nameEverUsed]]). */
  def addColumn(name: String, dataType: DataType): Long =
    commitRetry("altschema", Nil, Nil, EvolveSchema { sch =>
      require(!sch.fieldNames.contains(name), s"column $name already exists")
      require(!nameEverUsed(name),
        s"column name '$name' was used earlier in this table's history (dropped or " +
          "renamed away); file stats are name-keyed, so reusing it could mis-prune — " +
          "pick a fresh name")
      val base = StructField(name, dataType, nullable = true)
      val hasIds = sch.fields.nonEmpty && sch.fields.forall(f => GraftTable.fieldId(f).isDefined)
      val field =
        if (!hasIds) base
        else base.copy(metadata = new MetadataBuilder()
          .putLong(GraftTable.FieldIdKey, maxFieldIdEver + 1L).build())
      StructType(sch.fields :+ field)
    })

  /** Rename a column in ONE metadata commit (Iceberg `ALTER TABLE ...
    * RENAME COLUMN` parity, pinned in walden via `tf/main.tf:94`).
    * Possible because reads resolve parquet columns by FIELD ID
    * (`parquet.field.id`, stamped by every write): pre-rename files
    * still surface the column's data under its new name, and time
    * travel before the rename shows the old name. Requires an
    * id-tracked parquet table; the new name must be fresh (stats are
    * name-keyed — [[nameEverUsed]]). Note: pre-rename files keep their
    * stats under the OLD name, so stats pruning on the renamed column
    * resumes as files are rewritten (compact or DML); correctness never
    * depends on it. */
  def renameColumn(oldName: String, newName: String): Long =
    commitRetry("altschema", Nil, Nil, EvolveSchema { sch =>
      require(format == "parquet",
        "column rename needs parquet field-id resolution; ORC tables cannot rename " +
          "(drop + add states the true semantics there)")
      require(sch.fieldNames.contains(oldName), s"no column $oldName")
      require(!sch.fieldNames.contains(newName), s"column $newName already exists")
      require(sch.fields.forall(f => GraftTable.fieldId(f).isDefined),
        s"table at $root predates field-id tracking; rewrite it (CTAS) to enable rename")
      require(!nameEverUsed(newName),
        s"column name '$newName' was used earlier in this table's history; file stats " +
          "are name-keyed, so reusing it could mis-prune — pick a fresh name")
      StructType(sch.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
    })

  /** Drop a column (metadata-only commit — Iceberg `ALTER TABLE ...
    * DROP COLUMN` parity). Data files keep the bytes; reads resolve
    * against the commit's schema, so the column simply stops being
    * read. Time travel BEFORE the drop still sees it. The dropped
    * name and field id are both retired for good ([[addColumn]] /
    * [[maxFieldIdEver]]). */
  def dropColumn(name: String): Long =
    commitRetry("altschema", Nil, Nil, EvolveSchema { sch =>
      require(sch.fieldNames.contains(name), s"no column $name")
      require(sch.fields.length > 1, "cannot drop the only column")
      // a cluster column cannot be dropped: every write resolves the
      // spec's field ids against the write schema and would fail there
      // with a far worse message (rename is fine — id-tracked)
      val dropped = sch.fields.find(_.name == name).flatMap(GraftTable.fieldId)
      require(dropped.forall(id => !clusterFieldIds.contains(id)),
        s"column $name is part of the table's write-time cluster spec; " +
          "it cannot be dropped")
      require(dropped.forall(id => !bucketSpec.exists(_._1 == id)),
        s"column $name is the table's bucket column; it cannot be dropped")
      StructType(sch.fields.filterNot(_.name == name))
    })

  /** Delete data files no longer referenced by any version >= the
    * oldest retained ref (vacuum/GC). Returns removed file count.
    *
    * `graceMs`: files younger than this are kept even when
    * unreferenced — a concurrent writer may have landed them but not
    * yet published its commit; deleting them would corrupt the commit
    * that is about to win (same reason Iceberg's remove_orphan_files
    * defaults to a 3-day cutoff).
    */
  def vacuum(graceMs: Long = 10 * 60 * 1000L): Int = {
    val versionsAtStart = log.versions
    val referenced = versionsAtStart.flatMap(v => log.snapshotFiles(v).map(_.path)).toSet
    val dataRoot = Paths.get(root, "data")
    if (!Files.isDirectory(dataRoot)) return 0
    val cutoff = System.currentTimeMillis() - graceMs
    val candidates = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    val walk = Files.walk(dataRoot)
    try {
      val it = walk.iterator()
      while (it.hasNext) {
        val p = it.next()
        val leaf = p.getFileName.toString
        if (Files.isRegularFile(p) && !leaf.startsWith(".") && !leaf.startsWith("_") &&
            Files.getLastModifiedTime(p).toMillis < cutoff) {
          val rel = Paths.get(root).relativize(p).toString
          if (!referenced.contains(rel)) candidates += p
        }
      }
    } finally walk.close()
    if (candidates.isEmpty) return 0
    // RE-validate against commits that landed DURING the walk,
    // immediately before deleting: a publish that committed while the
    // walk ran would otherwise lose its freshly-referenced staged files
    // to the walk's stale snapshot. Only the NEW commits' added paths
    // need reading (a commit can only reference files it adds — O(new
    // commits), not a full O(versions) log replay). A publish landing
    // inside the tiny re-read->delete window remains possible — the
    // grace period is the real defense for in-flight staging (same
    // contract as in-flight creates), and publishStaged's post-commit
    // existence check catches the pre-commit half of that interleaving.
    val newlyAdded = log.versions.filterNot(versionsAtStart.toSet)
      .flatMap(v => log.read(v).added.map(_.path)).toSet
    var removed = 0
    candidates.foreach { p =>
      val rel = Paths.get(root).relativize(p).toString
      if (!newlyAdded.contains(rel) && Files.deleteIfExists(p)) removed += 1
    }
    removed
  }
}

/** One ordered `WHEN` clause of [[GraftTable.mergeInto]]: `condition`
  * is the clause's extra predicate (None = always applies); `set` is
  * the UPDATE/INSERT assignments keyed by TARGET column name (None =
  * DELETE; for not-matched clauses, unassigned columns insert NULL).
  * Expressions follow mergeInto's namespace contract: target columns
  * by plain name, source columns as `GraftTable.MergeSourcePrefix +
  * name`. */
final case class MergeWhen(condition: Option[Column], set: Option[Map[String, Column]])

object GraftTable {
  /** Prefix under which [[GraftTable.mergeInto]] exposes SOURCE columns
    * to clause expressions (target columns keep their plain names). */
  val MergeSourcePrefix = "__graft_src__"

  /** StructField metadata key Spark's parquet reader/writer use for
    * field-id column resolution (the Iceberg resolution model). */
  private[store] val FieldIdKey = "parquet.field.id"

  private[graft] def fieldId(f: StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey)) else None

  /** Create-time id assignment: sequential 1..n, preserved verbatim by
    * every later commit (rename keeps the id, add allocates above the
    * historical watermark). */
  private[store] def withFieldIds(sch: StructType): StructType =
    StructType(sch.fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(FieldIdKey, i + 1L).build())
    })

  /** Create a new versioned table at `root` from `df` (CTAS).
    * `format` is parquet (default) or orc, fixed for the table's life.
    * `bloomFilterCols` adds per-file bloom filters on those columns to
    * every write (see [[GraftTable.bloomFilterCols]]).
    * `clusterBy` fixes a write-time cluster spec (see
    * [[GraftTable.clusterFieldIds]]): every write range-clusters its
    * files on these columns for stats pruning from the first commit. */
  def create(spark: SparkSession, root: String, df: DataFrame,
             format: String = "parquet",
             bloomFilterCols: Seq[String] = Nil,
             clusterBy: Seq[String] = Nil,
             bucketBy: Option[(String, Int)] = None): GraftTable = {
    require(Set("parquet", "orc")(format), s"unsupported format: $format")
    // bucket spec: exclusive with range clustering (bucketing IS the
    // layout), integral key only (the join-key case SPJ exists for; the
    // V2 bucket function must reproduce repartition's murmur3 hash,
    // which is type-dispatched — int/long cover every TPC-H-style key)
    bucketBy.foreach { case (c, n) =>
      require(clusterBy.isEmpty, "bucketBy and clusterBy are exclusive")
      require(n >= 2 && n <= 65536, s"bucket count must be in [2, 65536], got $n")
      val name = df.schema.fieldNames.find(_ == c)
        .orElse(df.schema.fieldNames.find(_.equalsIgnoreCase(c))).getOrElse(
          throw new IllegalArgumentException(
            s"requirement failed: bucket column $c not in schema"))
      val dt = df.schema(name).dataType
      require(dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType,
        s"bucket column $name must be INT or BIGINT, got ${dt.simpleString}")
    }
    bloomFilterCols.foreach { c =>
      require(df.schema.fieldNames.contains(c), s"bloom filter column $c not in schema")
      require(!c.contains("\"") && !c.contains(","), s"bad bloom column name: $c")
    }
    // resolve cluster columns case-insensitively (Spark's default
    // resolution — SQL PARTITIONED BY (ID) must hit column id) and
    // refuse non-orderable types HERE: repartitionByRange would throw
    // mid-create, after props and log landed, stranding the root in
    // crashed-create state (the refuse-before-touching-disk invariant)
    val clusterResolved = clusterBy.map { c =>
      // exact name first: under spark.sql.caseSensitive=true a frame
      // can carry both 'Id' and 'id', and a first-insensitive-match
      // would silently cluster the wrong column
      val name = df.schema.fieldNames.find(_ == c)
        .orElse(df.schema.fieldNames.find(_.equalsIgnoreCase(c))).getOrElse(
          throw new IllegalArgumentException(
            s"requirement failed: cluster column $c not in schema"))
      val dt = df.schema(name).dataType
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt),
        s"cluster column $name has non-orderable type ${dt.simpleString}")
      name
    }
    val t = new GraftTable(spark, root)
    // refuse BEFORE touching disk: writing props/data first would
    // clobber an existing table's format metadata on a doomed create
    require(!t.log.exists, s"table already exists at $root")
    t.log.init()
    // publish props atomically with fail-if-exists (same pattern as
    // tryCommit): a losing concurrent create with a different format
    // must abort HERE, before writing data — not overwrite the
    // winner's props after the winner committed, which would make its
    // data files read with the wrong format. No implicit time-based
    // recovery: a create legitimately in flight for any duration must
    // never be clobbered (the vacuum grace has the same rationale) —
    // debris from a CRASHED create is cleared by the explicit
    // clearStaleCreate(), where the operator asserts nothing is in
    // flight.
    val propsPath = Paths.get(root, "_graft_props.json")
    val bloomJson =
      if (bloomFilterCols.isEmpty) ""
      else s""","bloom":"${bloomFilterCols.mkString(",")}""""
    // cluster spec persists as FIELD IDS (create-time assignment is
    // positional 1..n) so rename keeps clustering, by id resolution
    val clusterJson =
      if (clusterResolved.isEmpty) ""
      else {
        val ids = clusterResolved.map(c => df.schema.fieldIndex(c) + 1L)
        s""","clusterIds":"${ids.mkString(",")}""""
      }
    // bucket spec persists as FIELD ID (same rename-proofing as the
    // cluster spec) plus the bucket count
    val bucketJson = bucketBy.fold("") { case (c, n) =>
      val name = df.schema.fieldNames.find(_ == c)
        .getOrElse(df.schema.fieldNames.find(_.equalsIgnoreCase(c)).get)
      s""","bucketId":"${df.schema.fieldIndex(name) + 1L}","bucketN":"$n""""
    }
    try Files.write(propsPath,
      s"""{"format":"$format"$bloomJson$clusterJson$bucketJson}""".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"requirement failed: table already exists at $root (concurrent or crashed " +
            "create; if no create is in flight, run GraftTable.clearStaleCreate)")
    }
    val sch0 = withFieldIds(df.schema)
    val added = t.writeFilesWith(df, sch0)
    require(t.log.tryCommit(
      Commit(1L, 0L, "create", added, Nil, sch0.json, System.currentTimeMillis())),
      s"table already exists at $root")
    t.log.setRef("main", 1L)
    t
  }

  /** Clear the debris of a CRASHED create (props and data files with no
    * commit behind them) so the root can be created again. Refuses when
    * any commit exists — that is a live table, not debris. The CALLER
    * asserts no create is concurrently in flight; an implicit time-based
    * heuristic here could clobber a slow in-flight writer's props after
    * its commit wins. */
  def clearStaleCreate(root: String): Unit = {
    val probe = new CommitLog(root)
    require(!probe.exists, s"table exists at $root — refusing to clear")
    def rm(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => Files.deleteIfExists(f))
        finally s.close()
      }
    Files.deleteIfExists(Paths.get(root, "_graft_props.json"))
    rm(Paths.get(root, "data"))
  }

  /** Table data format: from _graft_props.json, parquet if absent
    * (pre-props tables). */
  /** One reader for the flat string props in `_graft_props.json`. */
  private def propOf(root: String, key: String): Option[String] = {
    val p = Paths.get(root, "_graft_props.json")
    if (!Files.exists(p)) None
    else {
      val txt = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
      (""""REPLACE_KEY"\s*:\s*"([^"]*)"""".replace("REPLACE_KEY", key)).r
        .findFirstMatchIn(txt).map(_.group(1))
    }
  }

  private[store] def formatOf(root: String): String =
    propOf(root, "format").getOrElse("parquet")

  /** Bloom-filter column list from _graft_props.json (empty if unset). */
  private[store] def bloomColsOf(root: String): Seq[String] =
    propOf(root, "bloom").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  private[store] def clusterIdsOf(root: String): Seq[Long] =
    propOf(root, "clusterIds").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).map(_.toLong)

  /** Stats pseudo-column recording a data file's single hash bucket. */
  val BucketStatKey = "__bucket"

  /** Bucket id of one INT/BIGINT bucket-key value (NULL allowed) among
    * `n` buckets: `pmod(murmur3_hash(key, seed 42), n)`, Spark's
    * `pmod(hash(key), n)` and the partition id of
    * `df.repartition(n, key)`. The one definition the write tasks, bucket
    * pruning and the catalog's `bucket` function all use. */
  def bucketOf(key: Any, n: Int): Int = {
    val h = key match {
      case null => 42 // Spark's hash() of NULL is the seed
      case l: Long => Murmur3_x86_32.hashLong(l, 42)
      case i: Int => Murmur3_x86_32.hashInt(i, 42)
      case other => throw new IllegalArgumentException(
        s"bucket keys are INT or BIGINT, got ${other.getClass.getName}")
    }
    ((h % n) + n) % n
  }

  private[store] def bucketSpecOf(root: String): Option[(Long, Int)] =
    for (id <- propOf(root, "bucketId"); n <- propOf(root, "bucketN"))
      yield (id.toLong, n.toInt)

  def load(spark: SparkSession, root: String): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.log.exists, s"no graft table at $root")
    t
  }

  private[store] def logOf(t: GraftTable) = t.log

  /** Test hook: drive commitRetry's conflict validation directly. */
  private[graft] def commitForTest(t: GraftTable, op: String,
      added: Seq[FileStat], removed: Seq[String], basedOn: Long): Long =
    t.commitRetry(op, added, removed, t.SameSchema(t.schema.json), basedOn)
}
