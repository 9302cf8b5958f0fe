package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.GraftTable

/** Name-addressed catalog over GraftTable roots — walden's model of
  * versioned tables living in a NAMED catalog (`tf/main.tf:93-98`
  * registers the iceberg-nessie catalog; extra catalogs per
  * `README.md:403`), expressed through Spark's public DataSourceV2
  * `TableCatalog` plugin API:
  *
  * {{{
  *   spark.sql.catalog.graft            = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse  = /path/to/warehouse
  *
  *   CREATE NAMESPACE graft.db;
  *   CREATE TABLE graft.db.t (id BIGINT, name STRING);
  *   INSERT INTO graft.db.t VALUES (1, 'a');
  *   SELECT * FROM graft.db.t VERSION AS OF 1;      -- numeric snapshot
  *   SELECT * FROM graft.db.t VERSION AS OF 'main'; -- branch/tag ref
  *   SELECT * FROM graft.db.t TIMESTAMP AS OF '2026-01-01 00:00:00';
  * }}}
  *
  * Layout: a namespace is a directory under the warehouse root; a table
  * is a directory holding a GraftTable commit log. Everything the
  * catalog does is metadata-sized (directory listings, commit-log
  * reads); data stays distributed.
  *
  * Read path: every table, in either format, is read by one native
  * DSv2 scan, [[GraftScan]]. The scan builder plans the snapshot's
  * files once ([[GraftTable.planFiles]]: commit-log stats pruning plus
  * bucket pruning for the translatable filter subset), and Spark's own
  * Parquet/ORC reader reads them with the pruned columns and row-group
  * pushdown — no second DataFrame, no Row conversion. Spark
  * re-evaluates every filter above the scan, so the translation is an
  * IO optimization, never a correctness dependency.
  *
  * Write path: native DSv2 BATCH_WRITE ([[GraftBatchWrite]]) —
  * INSERT INTO appends, INSERT OVERWRITE truncates (static) or
  * replaces exactly the written partitions (dynamic mode, Iceberg
  * parity); executors write the files, the driver lands ONE GraftTable
  * commit, keeping the store's atomic-rename optimistic concurrency.
  * Row-level DML (`DELETE`, `UPDATE`, `MERGE INTO`) takes one route for
  * every verb: [[GraftDmlRule]].
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var warehouse: Path = _

  // V2 FunctionCatalog: one function, the bucket transform — what
  // Catalyst resolves a bucketed scan's reported KeyGroupedPartitioning
  // against (storage-partitioned joins; see GraftScan)
  override def listFunctions(namespace: Array[String])
      : Array[org.apache.spark.sql.connector.catalog.Identifier] =
    if (namespace.isEmpty)
      Array(org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def loadFunction(ident: org.apache.spark.sql.connector.catalog.Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"spark.sql.catalog.$name.warehouse must point at a directory")
    warehouse = Paths.get(w)
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  // ---- path mapping ------------------------------------------------------
  /** Identifiers become filesystem paths, so path metacharacters in a
    * (backtick-quoted) SQL identifier would escape the warehouse root —
    * reject them outright. */
  private def safe(part: String): String = {
    // reject path separators, dot-dots and CONTROL chars; plain spaces
    // are legal in directory names and in backtick-quoted identifiers
    require(part.nonEmpty && part != "." && part != ".." &&
      !part.contains('/') && !part.contains('\\') && !part.exists(_ < ' '),
      s"illegal identifier part for a path-backed catalog: '$part'")
    part
  }

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, n) => p.resolve(safe(n)))

  private def tablePath(ident: Identifier): Path =
    nsPath(ident.namespace()).resolve(safe(ident.name()))

  private def isTableDir(p: Path): Boolean =
    Files.isDirectory(p.resolve("_graft_log"))

  // ---- tables ------------------------------------------------------------
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(dir)
    try s.iterator.asScala
      .filter(isTableDir)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def tableExists(ident: Identifier): Boolean = isTableDir(tablePath(ident))

  override def loadTable(ident: Identifier): Table = loadPinned(ident, None)

  /** `VERSION AS OF` — a named branch/tag (walden's Nessie refs;
    * `FOR SYSTEM_VERSION AS OF` maps here too) or a numeric snapshot
    * id. Refs resolve FIRST: a digit-only string that is not a ref
    * falls back to a snapshot id, so a branch/tag that happens to be
    * named '2024' stays reachable (the rare numeric snapshot shadowed
    * by such a ref is still reachable via `CALL system.create_ref`).
    * Anything that is neither gets a clean error, not a raw
    * NumberFormatException. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val gt = graftTable(ident)
    val v = gt.refs.getOrElse(version,
      try version.toLong
      catch {
        case _: NumberFormatException =>
          val known = gt.refs.keys.filterNot(_.startsWith("__")).toSeq.sorted
          throw new IllegalArgumentException(
            s"VERSION AS OF '$version' on ${ident.toString}: not a branch/tag " +
              s"(have: ${known.mkString(",")}) and not a numeric snapshot id")
      })
    loadPinned(ident, Some(v))
  }

  /** `TIMESTAMP AS OF` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val gt = graftTable(ident)
    loadPinned(ident, Some(gt.versionAsOfTimestamp(timestampMicros / 1000L)))
  }

  private def graftTable(ident: Identifier): GraftTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    GraftTable.load(SparkSession.active, tablePath(ident).toString)
  }

  private def loadPinned(ident: Identifier, version: Option[Long]): Table = {
    val gt = graftTable(ident)
    val pinned = version.getOrElse(gt.currentVersion)
    new GraftV2Table(gt, s"$catalogName.${ident.toString}", pinned, timeTravel = version.isDefined)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    // PARTITIONED BY (c1, c2) maps to the store's WRITE-TIME cluster
    // spec: every write range-clusters its files on those columns and
    // min/max stats prune them — partition-grade pruning without
    // directory layout (the Iceberg hidden-partitioning idea, with
    // range clustering as the one transform)
    // bucket(n, col) transforms map to the store's HASH-BUCKET spec
    // (storage-partitioned joins, GraftScan); identity transforms
    // keep mapping to the write-time range-cluster spec
    val bucketSpecs = partitions.toSeq.collect {
      case t if t.name == "bucket" =>
        require(t.references.length == 1 && t.references.head.fieldNames.length == 1,
          s"bucket transform needs one top-level column: ${t.describe}")
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.asInstanceOf[Number].intValue
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform needs a literal bucket count: ${t.describe}"))
        (t.references.head.fieldNames.head, n)
    }
    val clusterCols = partitions.toSeq.filter(_.name != "bucket").map {
      case t if t.name == "identity" && t.references.length == 1 =>
        val parts = t.references.head.fieldNames
        require(parts.length == 1,
          s"nested partition column not supported: ${t.describe}")
        parts.head
      case t => throw new UnsupportedOperationException(
        s"unsupported partition transform '${t.describe}': graft maps " +
          "PARTITIONED BY (col, ...) to its write-time range-cluster spec " +
          "and bucket(n, col) to its hash-bucket spec; temporal transforms " +
          "are subsumed by range clustering + stats pruning")
    }
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val dir = tablePath(ident)
    if (!Files.isDirectory(dir.getParent)) throw new NoSuchNamespaceException(ident.namespace())
    Files.createDirectories(dir)
    val spark = SparkSession.active
    val fmt = Option(properties.get("format")).getOrElse("parquet")
    // TBLPROPERTIES('bloom'='c1,c2') — per-file bloom filters on writes
    val bloomCols = Option(properties.get("bloom")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    // TBLPROPERTIES('clusterBy'='c1,c2') — the round-trip spelling SHOW
    // TBLPROPERTIES reports (partitioning() must stay empty, see
    // GraftV2Table), accepted alongside PARTITIONED BY
    val propCluster = Option(properties.get("clusterBy")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    // TBLPROPERTIES('bucketBy'='col:16') — the round-trip spelling SHOW
    // TBLPROPERTIES reports, accepted alongside PARTITIONED BY (bucket(16, col))
    val propBucket = Option(properties.get("bucketBy")).map { s =>
      val parts = s.split(':')
      require(parts.length == 2, s"bucketBy must be 'col:numBuckets', got '$s'")
      (parts(0).trim, parts(1).trim.toInt)
    }
    val allBuckets = (bucketSpecs ++ propBucket).distinct
    require(allBuckets.size <= 1, s"at most one bucket spec, got $allBuckets")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val gt = GraftTable.create(spark, dir.toString, empty, fmt, bloomCols,
      (clusterCols ++ propCluster).distinct, allBuckets.headOption)
    new GraftV2Table(gt, s"$catalogName.${ident.toString}", gt.currentVersion, timeTravel = false)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val gt = graftTable(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1, "nested ADD COLUMN not supported")
        gt.addColumn(add.fieldNames()(0), add.dataType())
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1, "nested DROP COLUMN not supported")
        gt.dropColumn(del.fieldNames()(0))
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1, "nested RENAME COLUMN not supported")
        gt.renameColumn(rn.fieldNames()(0), rn.newName())
      case other =>
        throw new UnsupportedOperationException(s"unsupported table change: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) return false
    deleteRecursively(dir)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    Files.move(tablePath(oldIdent), tablePath(newIdent))
  }

  // ---- namespaces ----------------------------------------------------------
  override def listNamespaces(): Array[Array[String]] = {
    val s = Files.list(warehouse)
    try s.iterator.asScala
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => Array(p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir) || isTableDir(dir)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(dir)
    try s.iterator.asScala
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => namespace :+ p.getFileName.toString)
      .toArray
    finally s.close()
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = nsPath(namespace)
    Files.isDirectory(dir) && !isTableDir(dir)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    if (!namespaceExists(namespace)) return false
    if (!cascade) {
      val s = Files.list(dir)
      val nonEmpty = try s.iterator().hasNext finally s.close()
      if (nonEmpty) throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
    }
    deleteRecursively(dir)
    true
  }

  private def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  // ---- stored procedures (`CALL <cat>.system.<proc>(...)`) ----------------
  // Trino/Iceberg maintenance verbs (ALTER TABLE EXECUTE optimize,
  // expire/remove-orphans, branching) through Spark 4's DSv2 procedure
  // seam. All driver work here is metadata; the data work (compaction
  // rewrite) is ordinary distributed Spark inside GraftTable.
  private val SystemNs = Array("system")

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(SystemNs))
      Array("optimize", "vacuum", "create_ref", "rollback").map(Identifier.of(SystemNs, _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(SystemNs),
      s"procedures live in the 'system' namespace, got $ident")
    ident.name() match {
      case "optimize" => new OptimizeProcedure
      case "vacuum" => new VacuumProcedure
      case "create_ref" => new CreateRefProcedure
      case "rollback" => new RollbackProcedure
      case other => throw new UnsupportedOperationException(s"no procedure $other")
    }
  }

  /** Procedure `table` arguments are warehouse-relative (`db.t`); a
    * catalog-qualified `<catalogName>.db.t` is accepted by stripping
    * the prefix (otherwise it would silently resolve to warehouse path
    * `<catalogName>/db/t` and fail with a confusing identifier).
    * Identifier parts cannot themselves contain dots — the path-backed
    * catalog never creates such tables (`safe` rejects separators, and
    * a dotted directory name is unreachable from this splitter), so the
    * error message states the expected form instead. */
  private def tableByName(multipart: String): GraftTable = {
    val parts0 = multipart.split('.')
    val parts = if (parts0.length > 2 && parts0.head == catalogName) parts0.tail else parts0
    require(parts.length >= 2,
      s"procedure table argument must be 'db.table' (warehouse-relative) or " +
        s"'$catalogName.db.table', got '$multipart'")
    val ident = Identifier.of(parts.init, parts.last)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    GraftTable.load(SparkSession.active, tablePath(ident).toString)
  }

  private def resultScan(sch: StructType, row: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] =
    java.util.List.of[org.apache.spark.sql.connector.read.Scan](new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = sch
    }).iterator()

  /** `CALL c.system.optimize(table [, num_files, cluster_by, zorder_by,
    * where])` — Trino `ALTER TABLE ... EXECUTE optimize [WHERE ...]` /
    * Delta `OPTIMIZE [WHERE] [ZORDER]`. `where` (round 14) is a SQL
    * predicate scoping the rewrite to stats-matching files
    * ([[graft.store.GraftTable.compact]]'s file-granular semantics). */
  private final class OptimizeProcedure extends UnboundProcedure with BoundProcedure {
    override def name(): String = "optimize"
    override def description(): String =
      "compact table files; optional linear clustering, Z-ordering, or a WHERE scope"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType).build(),
      ProcedureParameter.in("num_files", org.apache.spark.sql.types.IntegerType)
        .defaultValue("4").build(),
      ProcedureParameter.in("cluster_by", org.apache.spark.sql.types.StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("zorder_by", org.apache.spark.sql.types.StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("where", org.apache.spark.sql.types.StringType)
        .defaultValue("''").build())
    override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val t = tableByName(input.getUTF8String(0).toString)
      def cols(i: Int): Seq[String] =
        input.getUTF8String(i).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val whereSql = input.getUTF8String(4).toString.trim
      val before = t.currentVersion
      val v = t.compact(numFiles = Some(input.getInt(1)),
        clusterBy = cols(2), zorderBy = cols(3),
        where = if (whereSql.isEmpty) Nil
                else Seq(org.apache.spark.sql.functions.expr(whereSql)))
      // report THIS commit's file count (O(1) log read); a no-op compact
      // returns the UNCHANGED head (which may itself be an older
      // compact's commit) -> 0. Both conditions needed: v != before
      // alone would report a CONCURRENT writer's commit as ours when
      // it lands inside a no-op optimize.
      val info = if (v == before) None else Some(t.commitInfo(v))
      val nFiles = info.filter(_.op == "compact").map(_.added.size).getOrElse(0)
      resultScan(
        StructType(Seq(StructField("version", LongType), StructField("n_files", IntegerType))),
        InternalRow(v, nFiles))
    }
  }

  /** `CALL c.system.vacuum(table [, grace_ms])` — Iceberg
    * remove_orphan_files / Delta VACUUM. */
  private final class VacuumProcedure extends UnboundProcedure with BoundProcedure {
    override def name(): String = "vacuum"
    override def description(): String = "delete unreferenced data files past the grace window"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType).build(),
      ProcedureParameter.in("grace_ms", LongType).defaultValue("600000").build())
    override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val removed = tableByName(input.getUTF8String(0).toString).vacuum(input.getLong(1))
      resultScan(StructType(Seq(StructField("removed_files", IntegerType))), InternalRow(removed))
    }
  }

  /** `CALL c.system.rollback(table, version)` — Iceberg
    * rollback_to_snapshot / Delta RESTORE: one metadata commit
    * re-publishing the target snapshot's file set (O(1) at any size;
    * history stays time-travelable — see GraftTable.rollback). */
  private final class RollbackProcedure extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rollback"
    override def description(): String =
      "restore the table to an earlier snapshot in one metadata commit"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType).build(),
      ProcedureParameter.in("version", LongType).build())
    override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val t = tableByName(input.getUTF8String(0).toString)
      val v = t.rollback(input.getLong(1))
      resultScan(
        StructType(Seq(StructField("restored_to", LongType), StructField("version", LongType))),
        InternalRow(input.getLong(1), v))
    }
  }

  /** `CALL c.system.create_ref(table, name [, version])` — Nessie
    * branch/tag creation at the SQL level. */
  private final class CreateRefProcedure extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_ref"
    override def description(): String = "create a branch/tag ref pointing at a version"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType).build(),
      ProcedureParameter.in("name", org.apache.spark.sql.types.StringType).build(),
      ProcedureParameter.in("version", LongType).defaultValue("-1").build())
    override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val t = tableByName(input.getUTF8String(0).toString)
      val refName = input.getUTF8String(1).toString
      val v = input.getLong(2) match { case -1L => t.currentVersion; case x => x }
      t.tag(refName, Some(v))
      resultScan(
        StructType(Seq(StructField("ref", org.apache.spark.sql.types.StringType),
          StructField("version", LongType))),
        InternalRow(UTF8String.fromString(refName), v))
    }
  }
}

/** One catalog table = one GraftTable pinned to a snapshot version
  * (resolved at load time → every query reads one consistent snapshot,
  * Iceberg's isolation contract). */
private[catalog] final class GraftV2Table(gt: GraftTable, fullName: String,
                                          pinned: Long, timeTravel: Boolean)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** Store handle + pin state for the SQL DML rule (GraftDml). */
  private[catalog] def underlying: GraftTable = gt
  private[catalog] def isTimeTravel: Boolean = timeTravel

  override def name(): String = fullName
  override def schema(): StructType = gt.schemaAt(pinned)
  // The cluster spec round-trips through SHOW TBLPROPERTIES (and
  // createTable accepts TBLPROPERTIES('clusterBy'=...) back), NOT
  // through partitioning(): graft clustering is range-clustering
  // (Iceberg write.sort-order), not discrete identity partitions, so
  // advertising it as partitioning() would misdescribe the layout to
  // planner rules that assume one-value-per-partition. Dynamic
  // INSERT OVERWRITE still keys on the spec (Spark plans
  // OverwritePartitionsDynamic from the session conf alone; the
  // replaced-partition identity is the connector's to define — see
  // GraftTable.adoptBatchWrite). The BUCKET spec is the opposite: it
  // IS discrete one-key-per-partition layout, and advertising it is
  // what lets the planner see co-bucketed tables (round 12, SPJ).
  override def partitioning(): Array[Transform] = gt.bucketSpec match {
    case Some((_, n)) =>
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .bucket(n, gt.bucketColumnAt(pinned).get))
    case None => Array.empty
  }
  // resolved ONCE against the PINNED snapshot's schema: a table time-
  // travelled to before a rename must report the column name its own
  // schema() carries, and Spark calls these metadata methods
  // repeatedly during planning (the commit-log read + json parse must
  // not repeat per call)
  private lazy val clusterCols: Seq[String] = gt.clusterColumnsAt(pinned)
  override def properties(): util.Map[String, String] = {
    val base = Map("format" -> gt.format, "version" -> pinned.toString,
      TableCatalog.PROP_LOCATION -> gt.root) ++
      (if (gt.bloomFilterCols.isEmpty) Map.empty
       else Map("bloom" -> gt.bloomFilterCols.mkString(","))) ++
      (if (clusterCols.isEmpty) Map.empty
       else Map("clusterBy" -> clusterCols.mkString(","))) ++
      gt.bucketSpec.map { case (_, n) =>
        "bucketBy" -> s"${gt.bucketColumnAt(pinned).get}:$n"
      }
    base.asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION gates MERGE WITH SCHEMA EVOLUTION:
    // Spark's ResolveMergeIntoSchemaEvolution only fires when the
    // target declares it, then routes the additive changes through
    // TableCatalog.alterTable (our ALTER path: fresh field ids,
    // metadata-only commit, retired-name guard)
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(gt, pinned, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!timeTravel, s"cannot write to a time-travelled snapshot of $fullName")
    new GraftWriteBuilder(gt)
  }

  /** `TRUNCATE TABLE`: one metadata commit. Row-level `DELETE`,
    * `UPDATE` and `MERGE` never reach the table object: [[GraftDmlRule]]
    * turns them into commands over the store's copy-on-write engine. */
  override def truncateTable(): Boolean = { gt.truncate(); true }
}

/** Column pruning + filter pushdown into the [[GraftScan]].
  *
  * Pushdown contract: `pushFilters` returns ALL filters (Spark keeps
  * re-evaluating them above the scan); the translatable subset is
  * reported via `pushedFilters`, drives commit-log stats and bucket
  * pruning (skip whole files) in [[GraftTable.planFiles]], and reaches
  * the file reader for row-group pushdown. Double evaluation of a cheap
  * predicate is noise; skipped IO at 100 TB is the win.
  */
private[catalog] final class GraftScanBuilder(gt: GraftTable, version: Long,
                                              fullSchema: StructType)
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftScanBuilder.toColumn(f, fullSchema).isDefined)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val filterCols = pushed.flatMap(f => GraftScanBuilder.toColumn(f, fullSchema)).toSeq
    new GraftScan(gt, version, required, pushed, gt.planFiles(version, filterCols))
  }
}

private[catalog] object GraftScanBuilder {
  /** V1 Filter → Column, for the subset the stats pruner understands.
    * Only top-level attributes translate (nested fields fall through —
    * Spark still evaluates them above the scan). */
  def toColumn(f: Filter, schema: StructType): Option[Column] = {
    def top(a: String): Boolean = schema.fieldNames.contains(a)
    f match {
      case sources.EqualTo(a, v) if top(a) => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v) if top(a) => Some(col(a) <=> lit(v))
      case sources.GreaterThan(a, v) if top(a) => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) if top(a) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v) if top(a) => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v) if top(a) => Some(col(a) <= lit(v))
      case sources.In(a, vs) if top(a) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) if top(a) => Some(col(a).isNull)
      case sources.IsNotNull(a) if top(a) => Some(col(a).isNotNull)
      case sources.StringStartsWith(a, v) if top(a) => Some(col(a).startsWith(v))
      case sources.StringEndsWith(a, v) if top(a) => Some(col(a).endsWith(v))
      case sources.StringContains(a, v) if top(a) => Some(col(a).contains(v))
      case sources.And(l, r) =>
        for (lc <- toColumn(l, schema); rc <- toColumn(r, schema)) yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- toColumn(l, schema); rc <- toColumn(r, schema)) yield lc || rc
      case sources.Not(c) => toColumn(c, schema).map(!_)
      case _ => None
    }
  }
}

