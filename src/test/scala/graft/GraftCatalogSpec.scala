package graft

import java.nio.file.Files
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

import graft.store.GraftTable

/** Name-addressed DSv2 catalog over GraftTable roots: walden addresses
  * versioned tables by CATALOG NAME (`tf/main.tf:93-98`, extra catalogs
  * `README.md:403`) — `SELECT ... FROM graft.db.t`, SQL time travel,
  * INSERT INTO/OVERWRITE, DDL — all through the public
  * `spark.sql.catalog.<name>` plugin seam.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_warehouse").toString
    spark.conf.set("spark.sql.catalog.gcat", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", w)
    w
  }

  private def sql(q: String) = { warehouse; spark.sql(q) }

  test("namespace + table DDL lifecycle") {
    sql("CREATE NAMESPACE gcat.db1")
    sql("CREATE TABLE gcat.db1.people (id BIGINT, name STRING, score DOUBLE)")
    assert(sql("SHOW TABLES IN gcat.db1").collect().map(_.getString(1)).contains("people"))
    assert(sql("SHOW NAMESPACES IN gcat").collect().map(_.getString(0)).contains("db1"))
    // the table is a real GraftTable on disk, loadable by path too
    val gt = GraftTable.load(spark, s"$warehouse/db1/people")
    assert(gt.history.map(_.op) == Seq("create"))
    sql("DROP TABLE gcat.db1.people")
    assert(sql("SHOW TABLES IN gcat.db1").collect().isEmpty)
    sql("DROP NAMESPACE gcat.db1")
  }

  test("insert / select / filter pushdown / insert overwrite") {
    sql("CREATE NAMESPACE gcat.db2")
    sql("CREATE TABLE gcat.db2.t (id BIGINT, name STRING)")
    sql("INSERT INTO gcat.db2.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(sql("SELECT count(*) AS n FROM gcat.db2.t").head().getLong(0) == 3)
    assert(sql("SELECT name FROM gcat.db2.t WHERE id = 2").head().getString(0) == "b")
    // ORDER BY through the catalog relation
    assert(sql("SELECT id FROM gcat.db2.t ORDER BY id DESC").collect().map(_.getLong(0)).toSeq
      == Seq(3L, 2L, 1L))
    sql("INSERT OVERWRITE gcat.db2.t VALUES (9, 'z')")
    assert(sql("SELECT id, name FROM gcat.db2.t").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((9L, "z")))
    // overwrite is a new commit, not history loss
    val gt = GraftTable.load(spark, s"$warehouse/db2/t")
    assert(gt.history.map(_.op) == Seq("create", "append", "overwrite"))
  }

  test("SQL time travel: numeric version, named ref, timestamp") {
    sql("CREATE NAMESPACE gcat.db3")
    sql("CREATE TABLE gcat.db3.t (id BIGINT)")
    sql("INSERT INTO gcat.db3.t VALUES (1)") // v2
    val gt = GraftTable.load(spark, s"$warehouse/db3/t")
    gt.tag("after_first")
    Thread.sleep(20)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(20)
    sql("INSERT INTO gcat.db3.t VALUES (2), (3)") // v3
    assert(sql("SELECT count(*) AS n FROM gcat.db3.t").head().getLong(0) == 3)
    assert(sql("SELECT count(*) AS n FROM gcat.db3.t VERSION AS OF 2").head().getLong(0) == 1)
    assert(sql("SELECT count(*) AS n FROM gcat.db3.t VERSION AS OF 'after_first'")
      .head().getLong(0) == 1)
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val tsStr = java.time.Instant.ofEpochMilli(betweenMs).atZone(zone).toLocalDateTime
      .format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(sql(s"SELECT count(*) AS n FROM gcat.db3.t TIMESTAMP AS OF '$tsStr'")
      .head().getLong(0) == 1)
    // a time-travelled snapshot is read-only
    val e = intercept[Exception](sql("INSERT INTO gcat.db3.t VERSION AS OF 2 VALUES (4)"))
    assert(e.getMessage != null)
  }

  test("CTAS and ALTER TABLE ADD COLUMN") {
    sql("CREATE NAMESPACE gcat.db4")
    sql("CREATE TABLE gcat.db4.src AS SELECT id, id * 2 AS twice FROM range(5)")
    assert(sql("SELECT sum(twice) AS s FROM gcat.db4.src").head().getLong(0) == 20)
    sql("ALTER TABLE gcat.db4.src ADD COLUMN note STRING")
    // pre-evolution rows read the new column as NULL
    assert(sql("SELECT count(*) AS n FROM gcat.db4.src WHERE note IS NULL").head().getLong(0) == 5)
    sql("INSERT INTO gcat.db4.src VALUES (100, 200, 'x')")
    assert(sql("SELECT note FROM gcat.db4.src WHERE id = 100").head().getString(0) == "x")
    // DROP COLUMN: metadata-only; pre-drop snapshots still carry it
    sql("ALTER TABLE gcat.db4.src DROP COLUMN twice")
    assert(!sql("SELECT * FROM gcat.db4.src").columns.contains("twice"))
    assert(sql("SELECT count(*) AS n FROM gcat.db4.src").head().getLong(0) == 6)
    assert(sql("SELECT * FROM gcat.db4.src VERSION AS OF 2").columns.contains("twice"))
    // appends after the drop align to the narrowed schema
    sql("INSERT INTO gcat.db4.src VALUES (101, 'y')")
    assert(sql("SELECT note FROM gcat.db4.src WHERE id = 101").head().getString(0) == "y")
  }

  test("catalog reads stats-prune files (pushed filter subset)") {
    sql("CREATE NAMESPACE gcat.db5")
    sql("CREATE TABLE gcat.db5.t (id BIGINT, v STRING)")
    // three commits → three disjoint file sets with disjoint id ranges
    sql("INSERT INTO gcat.db5.t SELECT id, 'a' FROM range(0, 10)")
    sql("INSERT INTO gcat.db5.t SELECT id, 'b' FROM range(100, 110)")
    sql("INSERT INTO gcat.db5.t SELECT id, 'c' FROM range(200, 210)")
    val out = sql("SELECT v FROM gcat.db5.t WHERE id >= 200").distinct().collect()
    assert(out.map(_.getString(0)).toSeq == Seq("c"))
    // pushdown is visible in the physical plan (the GraftScan description
    // lists its PushedFilters)
    val plan = sql("SELECT v FROM gcat.db5.t WHERE id >= 200")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(id,200)"), plan)
  }

  test("SQL DELETE FROM routes to copy-on-write commits") {
    sql("CREATE NAMESPACE gcat.db7")
    sql("CREATE TABLE gcat.db7.t (id BIGINT, v STRING)")
    sql("INSERT INTO gcat.db7.t SELECT id, concat('v', id) FROM range(10)")
    sql("DELETE FROM gcat.db7.t WHERE id >= 7")
    assert(sql("SELECT count(*) AS n FROM gcat.db7.t").head().getLong(0) == 7)
    // the delete landed as a versioned commit; the pre-delete snapshot survives
    val gt = GraftTable.load(spark, s"$warehouse/db7/t")
    assert(gt.history.map(_.op) == Seq("create", "append", "delete"))
    assert(sql("SELECT count(*) AS n FROM gcat.db7.t VERSION AS OF 2").head().getLong(0) == 10)
    sql("TRUNCATE TABLE gcat.db7.t")
    assert(sql("SELECT count(*) AS n FROM gcat.db7.t").head().getLong(0) == 0)
  }

  test("commit-log stats reach Catalyst: small catalog table broadcasts in a join") {
    sql("CREATE NAMESPACE gcat.db9")
    sql("CREATE TABLE gcat.db9.dim (id BIGINT, name STRING)")
    sql("INSERT INTO gcat.db9.dim SELECT id, concat('n', id) FROM range(50)")
    sql("CREATE TABLE gcat.db9.fact (id BIGINT, v DOUBLE)")
    sql("INSERT INTO gcat.db9.fact SELECT id % 50, id * 1.0 FROM range(5000)")
    val q = sql("""SELECT d.name, sum(f.v) AS s
                   FROM gcat.db9.fact f JOIN gcat.db9.dim d ON f.id = d.id
                   GROUP BY d.name""")
    // static planning sees the scan's commit-log statistics: the
    // non-adaptive physical plan already broadcasts the 50-row dim
    val staticPlan = q.queryExecution.sparkPlan.toString
    assert(staticPlan.contains("BroadcastHashJoin"), staticPlan)
    assert(q.collect().length == 50) // materialize THIS execution's adaptive plan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("TBLPROPERTIES('bloom'=...) flows into the store's write path") {
    sql("CREATE NAMESPACE gcat.db12")
    sql("CREATE TABLE gcat.db12.t (id BIGINT, name STRING) TBLPROPERTIES('bloom'='name')")
    sql("INSERT INTO gcat.db12.t SELECT id, concat('k', id) FROM range(100)")
    val gt = GraftTable.load(spark, s"$warehouse/db12/t")
    assert(gt.bloomFilterCols == Seq("name"))
    assert(sql("SHOW TBLPROPERTIES gcat.db12.t").collect()
      .exists(r => r.getString(0) == "bloom" && r.getString(1) == "name"))
    assert(sql("SELECT count(*) AS n FROM gcat.db12.t WHERE name = 'k7'").head().getLong(0) == 1)
  }

  test("PARTITIONED BY maps to the write-time cluster spec; other transforms refused") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.dbp")
    // case-mismatched identifier resolves like everywhere else in SQL
    sql("CREATE TABLE gcat.dbp.pt (id BIGINT, v STRING) PARTITIONED BY (ID)")
    val gt = GraftTable.load(spark,
      java.nio.file.Paths.get(warehouse, "dbp", "pt").toString)
    assert(gt.clusterFieldIds == Seq(1L), gt.clusterFieldIds)
    sql("INSERT INTO gcat.dbp.pt SELECT id, CAST(id AS STRING) FROM range(0, 100)")
    assert(sql("SELECT count(*) FROM gcat.dbp.pt WHERE id < 10").head().getLong(0) == 10)
    // the spec round-trips through TBLPROPERTIES — and NOT through
    // partitioning() (the cluster spec is a storage layout, not engine
    // partitioning; no Spark-visible partitions exist)
    assert(sql("SHOW TBLPROPERTIES gcat.dbp.pt").collect()
      .exists(r => r.getString(0) == "clusterBy" && r.getString(1) == "id"))
    val v2t = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("dbp"), "pt"))
    assert(v2t.partitioning().isEmpty)
    // static INSERT OVERWRITE truncate-overwrites; dynamic mode (the
    // r5 V1-bridge gap, closed by the native BATCH_WRITE) replaces
    // EXACTLY the partitions present in the written rows — Iceberg
    // dynamic partition overwrite semantics, keyed on the cluster spec
    sql("INSERT OVERWRITE gcat.dbp.pt SELECT id, 'ow' FROM range(0, 5)")
    assert(sql("SELECT count(*) FROM gcat.dbp.pt").head().getLong(0) == 5)
    val vBeforeDyn = gt.currentVersion
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      sql("INSERT OVERWRITE gcat.dbp.pt SELECT id, 'dyn' FROM VALUES (3L), (100L) AS t(id)")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    // untouched partitions survive, written ones replaced, new ones added
    assert(sql("SELECT id, v FROM gcat.dbp.pt ORDER BY id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq ==
      Seq(0L -> "ow", 1L -> "ow", 2L -> "ow", 4L -> "ow", 3L -> "dyn", 100L -> "dyn")
        .sortBy(_._1))
    // ONE atomic commit, rewrite-shaped (victims removed, new+survivor added)
    assert(gt.currentVersion == vBeforeDyn + 1)
    val dynC = gt.commitInfo(gt.currentVersion)
    assert(dynC.op == "overwrite-dynamic" && dynC.removed.nonEmpty, dynC)
    // the reported property recreates the spec via TBLPROPERTIES
    sql("CREATE TABLE gcat.dbp.pt3 (id BIGINT, v STRING) TBLPROPERTIES ('clusterBy'='id')")
    val gt3 = GraftTable.load(spark,
      java.nio.file.Paths.get(warehouse, "dbp", "pt3").toString)
    assert(gt3.clusterFieldIds == Seq(1L), gt3.clusterFieldIds)
    // non-identity transforms are refused with the mapping explained
    val e = intercept[Exception](
      sql("CREATE TABLE gcat.dbp.pt2 (id BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))"))
    assert(e.getMessage.contains("range-cluster"), e.getMessage)
  }

  test("DSv2 batch write: cluster spec shapes files, stats + field ids intact") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.dbw")
    sql("CREATE TABLE gcat.dbw.w (k BIGINT, s STRING) PARTITIONED BY (k)")
    val gt = GraftTable.load(spark,
      java.nio.file.Paths.get(warehouse, "dbw", "w").toString)
    val advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val minPart = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    try {
      // small advisory + min-partition size so AQE's runtime sizing of
      // the required ordered distribution yields multiple range
      // partitions = files (the write surfaces the session advisory
      // via RequiresDistributionAndOrdering.advisoryPartitionSizeInBytes;
      // minPartitionSize is AQE's 1MB floor, above this test's data)
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "8KB")
      sql("INSERT INTO gcat.dbw.w SELECT id % 50, repeat(uuid(), 4) FROM range(0, 20000)")
    } finally {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", minPart)
    }
    val added = gt.history.last.added
    assert(added.size > 1, s"expected a multi-file clustered write, got ${added.size}")
    // every file carries min/max/null stats (the one-pass stats job ran
    // over executor-written files), and the range-cluster spec produced
    // non-overlapping [min,max] spans on k — partition-grade pruning
    assert(added.forall(f => f.min.contains("k") && f.max.contains("k")))
    val spans = added.map(f => (f.min("k").toLong, f.max("k").toLong)).sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping file spans: $spans")
      case _ => ()
    }
    // field-id metadata survived the executor-side parquet write:
    // rename resolves old files by id, so no value reads as NULL
    sql("ALTER TABLE gcat.dbw.w RENAME COLUMN s TO s2")
    assert(sql("SELECT count(s2) FROM gcat.dbw.w").head().getLong(0) == 20000)
    assert(sql("SELECT count(*) FROM gcat.dbw.w WHERE k = 7").head().getLong(0) == 400)
    // dynamic overwrite with NO cluster spec = full overwrite (Hive
    // semantics for unpartitioned tables)
    sql("CREATE TABLE gcat.dbw.u (k BIGINT, s STRING)")
    sql("INSERT INTO gcat.dbw.u SELECT id, 'a' FROM range(0, 10)")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try sql("INSERT OVERWRITE gcat.dbw.u SELECT id, 'b' FROM range(0, 3)")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    assert(sql("SELECT count(*) FROM gcat.dbw.u").head().getLong(0) == 3)
    // no stray files in the DSv2 write's own directories: every file a
    // batch-write subdir holds is referenced by the log (the create
    // path's zero-row part file is a separate, pre-existing vacuum
    // concern — scope to the commits this test produced)
    val live = gt.history.flatMap(_.added).map(_.path).toSet
    val writeDirs = added.map(_.path.split('/').init.mkString("/")).toSet
    val onDisk = writeDirs.flatMap { d =>
      val dir = java.nio.file.Paths.get(warehouse, "dbw", "w", d)
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
        .map(p => s"$d/${p.getFileName}").toSet
      finally s.close()
    }
    assert(onDisk.subsetOf(live), s"unreferenced files: ${(onDisk -- live).take(3)}")
  }

  test("CALL procedures: optimize (zorder), vacuum, create_ref") {
    sql("CREATE NAMESPACE gcat.db11")
    sql("CREATE TABLE gcat.db11.t (id BIGINT, x BIGINT, y BIGINT)")
    sql("INSERT INTO gcat.db11.t SELECT id, id % 100, CAST(id / 100 AS BIGINT) FROM range(10000)")
    // Trino ALTER TABLE EXECUTE optimize / Delta OPTIMIZE ZORDER parity
    val opt = sql("CALL gcat.system.optimize('db11.t', 16, '', 'x,y')").collect()
    assert(opt.length == 1 && opt.head.getInt(1) > 4, opt.mkString)
    // a no-op optimize whose UNCHANGED HEAD IS an older compact's
    // commit must report 0, not that compact's file count: multi-file
    // table -> compact to 1 (head op = compact, added = 1) -> repeat
    sql("CREATE TABLE gcat.db11.one (id BIGINT)")
    sql("INSERT INTO gcat.db11.one VALUES (1)")
    sql("INSERT INTO gcat.db11.one VALUES (2)")
    val first = sql("CALL gcat.system.optimize('db11.one', 1, '', '')").collect()
    assert(first.head.getInt(1) == 1, first.mkString) // real compact: 2 files -> 1
    val noop = sql("CALL gcat.system.optimize('db11.one', 1, '', '')").collect()
    assert(noop.head.getInt(1) == 0, noop.mkString)
    assert(sql("SELECT count(*) AS n FROM gcat.db11.t").head().getLong(0) == 10000)
    val gt = GraftTable.load(spark, s"$warehouse/db11/t")
    assert(gt.history.last.op == "compact")
    // branch/tag ref through SQL, readable via time travel
    val ref = sql("CALL gcat.system.create_ref('db11.t', 'stable', 2)").collect()
    assert(ref.head.getString(0) == "stable" && ref.head.getLong(1) == 2L)
    assert(sql("SELECT count(*) AS n FROM gcat.db11.t VERSION AS OF 'stable'")
      .head().getLong(0) == 10000)
    // vacuum: pre-compaction files are unreferenced by... still referenced
    // by versions 1-2, so a grace-0 vacuum only removes files NO version
    // references (none here) — assert it runs and reports
    val vac = sql("CALL gcat.system.vacuum('db11.t', 0)").collect()
    assert(vac.head.getInt(0) >= 0)
    // WHERE scope (r14): appends into one key range compact without
    // touching the zorder layout's other files (file-granular, the
    // OPTIMIZE ... WHERE shape); an out-of-range scope is a no-op
    sql("INSERT INTO gcat.db11.t VALUES (20001, 99, 0), (20002, 99, 0)")
    val gt0 = GraftTable.load(spark, s"$warehouse/db11/t")
    val beforeScoped = gt0.read().inputFiles.length
    val scoped = sql("CALL gcat.system.optimize('db11.t', 4, '', '', 'x = 99')").collect()
    assert(scoped.head.getInt(1) >= 1, scoped.mkString)
    assert(gt0.read().inputFiles.length < beforeScoped)
    val noScope = sql("CALL gcat.system.optimize('db11.t', 4, '', '', 'x = -5')").collect()
    assert(noScope.head.getInt(1) == 0, noScope.mkString)
    assert(sql("SELECT count(*) FROM gcat.db11.t WHERE x = 99").head().getLong(0) >= 2)
    assert(sql("SELECT count(*) AS n FROM gcat.db11.t").head().getLong(0) == 10002)
  }

  test("ALTER TABLE RENAME COLUMN: metadata-only, old files id-resolve") {
    sql("CREATE NAMESPACE gcat.db19")
    sql("CREATE TABLE gcat.db19.t (id BIGINT, name STRING)")
    sql("INSERT INTO gcat.db19.t VALUES (1, 'a'), (2, 'b')")
    sql("ALTER TABLE gcat.db19.t RENAME COLUMN name TO label")
    // pre-rename files answer under the new name
    assert(sql("SELECT label FROM gcat.db19.t WHERE id = 1").head().getString(0) == "a")
    // time travel before the rename shows the old name
    assert(sql("SELECT * FROM gcat.db19.t VERSION AS OF 2").columns.toSeq == Seq("id", "name"))
    sql("INSERT INTO gcat.db19.t VALUES (3, 'c')")
    assert(sql("SELECT label FROM gcat.db19.t ORDER BY id").collect().map(_.getString(0)).toSeq
      == Seq("a", "b", "c"))
    // retired names are refused (name-keyed stats could mis-prune)
    val e = intercept[Exception](sql("ALTER TABLE gcat.db19.t ADD COLUMN name STRING"))
    assert(e.getMessage.contains("name-keyed"), e.getMessage)
  }

  test("SQL UPDATE routes to one copy-on-write commit") {
    sql("CREATE NAMESPACE gcat.db15")
    sql("CREATE TABLE gcat.db15.t (id BIGINT, v STRING, score DOUBLE)")
    sql("INSERT INTO gcat.db15.t SELECT id, concat('v', id), id * 1.0 FROM range(10)")
    sql("UPDATE gcat.db15.t SET score = score * 2, v = upper(v) WHERE id >= 7")
    val got = sql("SELECT id, v, score FROM gcat.db15.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.take(7).forall { case (i, v, s) => v == s"v$i" && s == i.toDouble })
    assert(got.drop(7).forall { case (i, v, s) => v == s"V$i" && s == i * 2.0 })
    // one atomic commit; time travel sees the pre-update state
    val gt = GraftTable.load(spark, s"$warehouse/db15/t")
    assert(gt.history.map(_.op) == Seq("create", "append", "update"))
    assert(sql("SELECT v FROM gcat.db15.t VERSION AS OF 2 WHERE id = 9").head().getString(0) == "v9")
    // unconditioned UPDATE touches every row
    sql("UPDATE gcat.db15.t SET score = 0.0")
    assert(sql("SELECT sum(score) AS s FROM gcat.db15.t").head().getDouble(0) == 0.0)
    // CORRELATED condition (self-referential): reads the pre-update
    // snapshot — every id with a successor row matches (0..8), id 9
    // does not (see the dedicated correlated-DML test for the lowering)
    sql("UPDATE gcat.db15.t AS t SET v = 'x' WHERE EXISTS " +
      "(SELECT 1 FROM gcat.db15.t u WHERE u.id = t.id + 1)")
    assert(sql("SELECT v FROM gcat.db15.t WHERE id = 9").head().getString(0) == "V9")
    assert(sql("SELECT count(*) FROM gcat.db15.t WHERE v = 'x'").head().getLong(0) == 9)
    // correlated subquery in an ASSIGNMENT (round 7): each row reads
    // its successor's v from the pre-update snapshot; id 9 has none ->
    // NULL (standard scalar-subquery semantics)
    sql("UPDATE gcat.db15.t AS t SET v = (SELECT max(u.v) FROM gcat.db15.t u " +
      "WHERE u.id = t.id + 1) WHERE id IN (0, 9)")
    assert(sql("SELECT v FROM gcat.db15.t WHERE id = 0").head().getString(0) == "x")
    assert(sql("SELECT v FROM gcat.db15.t WHERE id = 9").head().isNullAt(0))
  }

  test("UPDATE with BETWEEN changes exactly the rows in the range") {
    sql("CREATE NAMESPACE gcat.dbbtw1")
    sql("CREATE TABLE gcat.dbbtw1.t (id BIGINT, v STRING)")
    sql("INSERT INTO gcat.dbbtw1.t SELECT id, concat('v', id) FROM range(20)")
    sql("UPDATE gcat.dbbtw1.t SET v = 'hit' WHERE id BETWEEN 5 AND 8")
    sql("UPDATE gcat.dbbtw1.t SET v = 'out' WHERE id NOT BETWEEN 2 AND 17")
    val got = sql("SELECT id, v FROM gcat.dbbtw1.t ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val want = (0L until 20L).map { i =>
      i -> (if (i >= 5 && i <= 8) "hit" else if (i < 2 || i > 17) "out" else s"v$i")
    }
    assert(got == want)
  }

  test("DELETE with BETWEEN removes exactly the rows in the range") {
    sql("CREATE NAMESPACE gcat.dbbtw2")
    sql("CREATE TABLE gcat.dbbtw2.t (id BIGINT, v STRING)")
    sql("INSERT INTO gcat.dbbtw2.t SELECT id, concat('v', id) FROM range(20)")
    sql("DELETE FROM gcat.dbbtw2.t WHERE id BETWEEN 10 AND 14")
    sql("DELETE FROM gcat.dbbtw2.t WHERE id NOT BETWEEN 1 AND 18")
    val got = sql("SELECT id, v FROM gcat.dbbtw2.t ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == ((1L until 10L) ++ (15L until 19L)).map(i => i -> s"v$i"))
    val gt = GraftTable.load(spark, s"$warehouse/dbbtw2/t")
    assert(gt.history.map(_.op).count(_ == "delete") == 2)
  }

  test("DELETE accepts every condition UPDATE accepts: arithmetic, function, nested field, modulo") {
    sql("CREATE NAMESPACE gcat.dbdelx")
    for (t <- Seq("u", "d")) {
      sql(s"CREATE TABLE gcat.dbdelx.$t (id BIGINT, v STRING, s STRUCT<f: INT>, hit BOOLEAN)")
      sql(s"INSERT INTO gcat.dbdelx.$t SELECT id, concat('v', id), " +
        "named_struct('f', CAST(id % 10 AS INT)), false FROM range(20)")
    }
    val gt = GraftTable.load(spark, s"$warehouse/dbdelx/d")
    val conds = Seq("id + 1 > 18", "upper(v) = 'V4'", "s.f = 6", "id % 7 = 0")
    for (c <- conds) {
      sql(s"UPDATE gcat.dbdelx.u SET hit = true WHERE $c")
      val before = gt.currentVersion
      sql(s"DELETE FROM gcat.dbdelx.d WHERE $c")
      assert(gt.currentVersion == before + 1 && gt.commitInfo(gt.currentVersion).op == "delete", c)
      val kept = sql("SELECT id FROM gcat.dbdelx.d ORDER BY id").collect().map(_.getLong(0)).toSeq
      val unhit = sql("SELECT id FROM gcat.dbdelx.u WHERE NOT hit ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(kept == unhit, s"after DELETE WHERE $c")
    }
    assert(sql("SELECT id FROM gcat.dbdelx.d ORDER BY id").collect().map(_.getLong(0)).toSeq ==
      (0L until 20L).filterNot(Set(18L, 19L, 4L, 6L, 16L, 0L, 7L, 14L)))
  }

  test("DELETE FROM with no WHERE empties the table in one metadata commit, no Spark job") {
    sql("CREATE NAMESPACE gcat.dbdelall")
    sql("CREATE TABLE gcat.dbdelall.t (id BIGINT, v STRING)")
    sql("INSERT INTO gcat.dbdelall.t SELECT id, concat('v', id) FROM range(0, 30, 1, 3)")
    val gt = GraftTable.load(spark, s"$warehouse/dbdelall/t")
    val before = gt.currentVersion
    val (jobs, stages, _, _, input) = work("DELETE FROM gcat.dbdelall.t")
    assert((jobs, stages, input) == (0, 0, 0L), s"$jobs jobs, $stages stages, $input input bytes")
    assert(gt.currentVersion == before + 1)
    assert(gt.commitInfo(gt.currentVersion).added.isEmpty)
    assert(gt.planFiles(gt.currentVersion).isEmpty)
    assert(sql("SELECT count(*) FROM gcat.dbdelall.t").head().getLong(0) == 0)
    assert(sql(s"SELECT count(*) FROM gcat.dbdelall.t VERSION AS OF $before").head().getLong(0) == 30)
  }

  test("a cached table sees each DML verb's change: UPDATE, MERGE, DELETE, subquery DELETE") {
    sql("CREATE NAMESPACE gcat.dbcache")
    sql("CREATE TABLE gcat.dbcache.t (id BIGINT, v STRING)")
    sql("INSERT INTO gcat.dbcache.t SELECT id, 'a' FROM range(20)")
    sql("CREATE TABLE gcat.dbcache.picks (id BIGINT)")
    sql("INSERT INTO gcat.dbcache.picks VALUES (1), (2), (3)")
    sql("CACHE TABLE gcat.dbcache.t")
    try {
      def cached(q: String): Long = {
        val df = sql(q)
        assert(df.queryExecution.withCachedData.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
          s"not served from the cache: $q")
        df.head().getLong(0)
      }
      val count = "SELECT count(*) FROM gcat.dbcache.t"
      assert(cached(count) == 20)
      sql("UPDATE gcat.dbcache.t SET v = 'x' WHERE id < 5")
      assert(cached("SELECT count(*) FROM gcat.dbcache.t WHERE v = 'x'") == 5)
      sql("""MERGE INTO gcat.dbcache.t AS t
             USING (SELECT * FROM VALUES (CAST(100 AS BIGINT), 'm') AS x(id, v)) AS s
             ON t.id = s.id
             WHEN NOT MATCHED THEN INSERT *""")
      assert(cached(count) == 21)
      sql("DELETE FROM gcat.dbcache.t WHERE id >= 15")
      assert(cached(count) == 15)
      sql("DELETE FROM gcat.dbcache.t WHERE id IN (SELECT id FROM gcat.dbcache.picks)")
      assert(cached(count) == 12)
      assert(cached("SELECT count(*) FROM gcat.dbcache.t WHERE v = 'x'") == 2)
    } finally sql("UNCACHE TABLE gcat.dbcache.t")
  }

  test("DELETE on a time-travelled snapshot fails and leaves the table as it was") {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    sql("CREATE NAMESPACE gcat.dbdeltt")
    sql("CREATE TABLE gcat.dbdeltt.t (id BIGINT)")
    sql("INSERT INTO gcat.dbdeltt.t VALUES (1), (2)")
    sql("INSERT INTO gcat.dbdeltt.t VALUES (3)")
    val gt = GraftTable.load(spark, s"$warehouse/dbdeltt/t")
    val head = gt.currentVersion
    // SQL has no spelling for a DELETE on `VERSION AS OF`; the statement
    // is built over the relation a time-travelled read resolves to
    val cat = new graft.catalog.GraftCatalog
    cat.initialize("gcat", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      Map("warehouse" -> warehouse).asJava))
    val ident = Identifier.of(Array("dbdeltt"), "t")
    val rel = DataSourceV2Relation.create(cat.loadTable(ident, "2"), Some(cat), Some(ident))
    val e = intercept[Exception] {
      org.apache.spark.sql.GraftSparkInternals.ofRows(spark,
        DeleteFromTable(rel, EqualTo(rel.output.head, Literal(1L)))).collect()
    }
    assert(e.getMessage.contains("time-travelled"), e.getMessage)
    assert(gt.currentVersion == head)
    assert(sql("SELECT count(*) FROM gcat.dbdeltt.t").head().getLong(0) == 3)
  }

  /** Jobs, stages, tasks, shuffle-write bytes and input bytes of one
    * statement — counts of work, not time, read after draining the
    * listener bus. */
  private def work(stmt: String): (Int, Int, Int, Long, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val input = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null) {
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          input.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
        }
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    try { sql(stmt); org.apache.spark.ListenerDrain(sc) }
    finally sc.removeSparkListener(l)
    (jobs.get, stages.get, tasks.get, shuffled.get, input.get)
  }

  test("work counts: INSERT, UPDATE and DELETE run no read-back stats job") {
    // each write is ONE job: INSERT writes the files and computes their
    // stats; UPDATE and DELETE probe their candidate files and rewrite
    // the matching ones in the same tasks. A returning stats pass or a
    // separate victim scan raises the counts below
    sql("CREATE NAMESPACE gcat.dbwork")
    sql("CREATE TABLE gcat.dbwork.t (id BIGINT, v STRING, score DOUBLE)")
    sql("INSERT INTO gcat.dbwork.t SELECT id, concat('v', id), id * 1.0 FROM range(0, 40, 1, 1)")
    val counts = Seq(
      "INSERT" -> work("INSERT INTO gcat.dbwork.t SELECT id, 'n', 0.5 FROM range(40, 50, 1, 1)"),
      "UPDATE" -> work("UPDATE gcat.dbwork.t SET score = -1.0 WHERE id >= 10 AND id <= 19"),
      "DELETE" -> work("DELETE FROM gcat.dbwork.t WHERE id >= 30 AND id <= 34"))
      .map { case (k, (j, s, _, _, _)) => k -> (j, s) }
    assert(counts == Seq("INSERT" -> (1, 1), "UPDATE" -> (1, 1), "DELETE" -> (1, 1)),
      counts.map { case (k, (j, s)) => s"$k: $j jobs, $s stages" }.mkString("; "))
    assert(sql("SELECT count(*), sum(CASE WHEN score = -1.0 THEN 1 ELSE 0 END) " +
      "FROM gcat.dbwork.t").head().toSeq == Seq(45L, 10L))
  }

  test("work counts: DELETE on a bucketed table shuffles nothing; a point DELETE is one task; reads are counted") {
    sql("CREATE NAMESPACE gcat.dbworkb")
    sql("CREATE TABLE gcat.dbworkb.t (id BIGINT, v STRING) PARTITIONED BY (bucket(4, id))")
    sql("INSERT INTO gcat.dbworkb.t SELECT id, concat('v', id) FROM range(0, 80)")
    val gt = GraftTable.load(spark, s"$warehouse/dbworkb/t")
    // one file per bucket: the point DELETE's bucket holds one file
    assert(gt.planFiles(gt.currentVersion).size == 4)
    val (rJobs, rStages, _, rShuffled, rInput) = work("DELETE FROM gcat.dbworkb.t WHERE id >= 10 AND id <= 29")
    assert((rJobs, rStages, rShuffled) == (1, 1, 0L), s"range DELETE: $rJobs jobs, $rStages stages, $rShuffled shuffle bytes")
    val (pJobs, pStages, pTasks, pShuffled, pInput) = work("DELETE FROM gcat.dbworkb.t WHERE id = 42")
    assert((pJobs, pStages, pTasks, pShuffled) == (1, 1, 1, 0L),
      s"point DELETE: $pJobs jobs, $pStages stages, $pTasks tasks, $pShuffled shuffle bytes")
    // the rewrite tasks' probe and full reads count as task input, the
    // way a file scan's do
    assert(rInput > 0 && pInput > 0, s"input bytes: range $rInput, point $pInput")
    assert(gt.planFiles(gt.currentVersion).forall(_.min.contains(GraftTable.BucketStatKey)))
    assert(sql("SELECT count(*) FROM gcat.dbworkb.t").head().getLong(0) == 59L)
  }

  test("correlated UPDATE assignments compute per-row SET values via the merge lowering") {
    sql("CREATE NAMESPACE gcat.db28")
    sql("CREATE TABLE gcat.db28.t (id BIGINT, v STRING, total DOUBLE)")
    sql("INSERT INTO gcat.db28.t VALUES (1, 'a', 0.0), (2, 'b', 0.0), (3, 'c', 0.0)")
    sql("CREATE TABLE gcat.db28.o (cust BIGINT, amt DOUBLE)")
    sql("INSERT INTO gcat.db28.o VALUES (1, 5.0), (1, 7.0), (2, 3.0)")
    val gt = GraftTable.load(spark, s"$warehouse/db28/t")
    val before = gt.currentVersion
    // unconditioned UPDATE with a correlated aggregate per row: the
    // Trino 468 shape (`UPDATE t SET x = (SELECT agg ... WHERE s.k =
    // t.k)`); id 3 has no orders -> NULL, one atomic commit
    sql("UPDATE gcat.db28.t AS t SET total = " +
      "(SELECT sum(o.amt) FROM gcat.db28.o o WHERE o.cust = t.id)")
    val got = sql("SELECT id, total FROM gcat.db28.t ORDER BY id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq == Seq(1L -> Some(12.0), 2L -> Some(3.0), 3L -> None), got.toSeq)
    assert(gt.currentVersion == before + 1 &&
      gt.commitInfo(gt.currentVersion).op == "update")
    // mixed: correlated condition AND correlated assignment PLUS an
    // uncorrelated assignment in one statement — all values read the
    // pre-update snapshot; id 3 (no orders) is untouched by the EXISTS
    sql("UPDATE gcat.db28.t AS t SET " +
      "total = (SELECT count(*) FROM gcat.db28.o o WHERE o.cust = t.id) * 1.0, " +
      "v = 'seen' " +
      "WHERE EXISTS (SELECT 1 FROM gcat.db28.o o WHERE o.cust = t.id)")
    val got2 = sql("SELECT id, v, total FROM gcat.db28.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got2.toSeq == Seq((1L, "seen", Some(2.0)), (2L, "seen", Some(1.0)),
      (3L, "c", None)), got2.toSeq)
    // correlated subqueries inside MERGE WHEN clauses lower onto the
    // pair-set merge since round 8 (dedicated spec below); the shape
    // that used to error now computes per-row aggregates in the SET
    sql("""MERGE INTO gcat.db28.t AS t
           USING (SELECT DISTINCT cust FROM gcat.db28.o) AS o ON t.id = o.cust
           WHEN MATCHED THEN UPDATE SET total =
             (SELECT max(u.amt) FROM gcat.db28.o u WHERE u.cust = t.id)""")
    val got3 = sql("SELECT id, total FROM gcat.db28.t ORDER BY id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got3.toSeq == Seq(1L -> Some(7.0), 2L -> Some(3.0), 3L -> None), got3.toSeq)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source columns through the ALTER path") {
    sql("CREATE NAMESPACE gcat.db27")
    sql("CREATE TABLE gcat.db27.t (id BIGINT, v STRING)")
    sql("INSERT INTO gcat.db27.t VALUES (1, 'a'), (2, 'b')")
    val gt = GraftTable.load(spark, s"$warehouse/db27/t")
    val before = gt.currentVersion
    sql("""MERGE WITH SCHEMA EVOLUTION INTO gcat.db27.t AS t
           USING (SELECT * FROM VALUES (CAST(2 AS BIGINT), 'B', CAST(20.0 AS DOUBLE)),
                                       (CAST(3 AS BIGINT), 'c', CAST(30.0 AS DOUBLE)) AS x(id, v, score)) AS s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    // the wider source's column arrived: pre-evolution rows read NULL,
    // matched/inserted rows carry values
    val got = sql("SELECT id, v, score FROM gcat.db27.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.toSeq == Seq((1L, "a", None), (2L, "B", Some(20.0)), (3L, "c", Some(30.0))), got.toSeq)
    // Spark's ResolveMergeIntoSchemaEvolution routed the change through
    // our ALTER path: one metadata-only altschema commit (fresh field
    // id, schema derived from the parent's), then ONE merge commit —
    // atomic, auditable
    assert(gt.history.map(_.op) == Seq("create", "append", "altschema", "merge"),
      gt.history.map(_.op))
    val f = gt.schema.fields.find(_.name == "score").get
    assert(graft.store.GraftTable.fieldId(f).isDefined,
      "evolved column must get a field id")
    // CDC across the evolution commit aligns to the evolved schema
    val ch = gt.changes(before, gt.currentVersion)
    assert(ch.columns.contains("score"))
    val ins = ch.filter("_change_type = 'insert' AND id = 3").collect()
    assert(ins.length == 1 && ins(0).getDouble(ins(0).fieldIndex("score")) == 30.0)
    // a second additive evolution in a later merge composes — the
    // SchemaMode machinery treats each as an independent altschema
    sql("""MERGE WITH SCHEMA EVOLUTION INTO gcat.db27.t AS t
           USING (SELECT * FROM VALUES (CAST(9 AS BIGINT), 'z', CAST(1.0 AS DOUBLE), 'extra')
                  AS x(id, v, score, note)) AS s
           ON t.id = s.id
           WHEN NOT MATCHED THEN INSERT *""")
    assert(sql("SELECT note FROM gcat.db27.t WHERE id = 9").head().getString(0) == "extra")
    assert(sql("SELECT count(*) FROM gcat.db27.t WHERE note IS NULL").head().getLong(0) == 3)
    // WITHOUT the clause there is NO silent evolution: the star
    // expansion covers target columns only, the extra source column is
    // ignored, and the schema stays put (standard Spark star rules)
    sql("""MERGE INTO gcat.db27.t AS t
           USING (SELECT * FROM VALUES (CAST(10 AS BIGINT), 'q', CAST(2.0 AS DOUBLE), 'x', 5)
                  AS x(id, v, score, note, extra2)) AS s
           ON t.id = s.id
           WHEN NOT MATCHED THEN INSERT *""")
    assert(!gt.schema.fieldNames.contains("extra2"),
      "MERGE without WITH SCHEMA EVOLUTION must not evolve the schema")
    assert(sql("SELECT v FROM gcat.db27.t WHERE id = 10").head().getString(0) == "q")
  }

  test("correlated UPDATE/DELETE conditions lower onto the row-identity merge") {
    sql("CREATE NAMESPACE gcat.db26")
    sql("CREATE TABLE gcat.db26.t (id BIGINT, v STRING, score DOUBLE)")
    sql("INSERT INTO gcat.db26.t SELECT id, concat('v', id), id * 1.0 FROM range(0, 10)")
    sql("INSERT INTO gcat.db26.t SELECT id, concat('v', id), id * 1.0 FROM range(10, 20)")
    sql("CREATE TABLE gcat.db26.s (k BIGINT, grp STRING)")
    sql("INSERT INTO gcat.db26.s VALUES (12, 'a'), (15, 'a'), (3, 'b')")
    val gt = GraftTable.load(spark, s"$warehouse/db26/t")
    val before = gt.currentVersion
    // correlated EXISTS with a residual predicate inside the subquery:
    // Spark's own decorrelation computes the matched rows; the merge
    // applies the SET through ONE atomic commit
    sql("UPDATE gcat.db26.t AS t SET v = 'hit' WHERE EXISTS " +
      "(SELECT 1 FROM gcat.db26.s s WHERE s.k = t.id AND s.grp = 'a')")
    assert(sql("SELECT id FROM gcat.db26.t WHERE v = 'hit' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(12L, 15L))
    val c = gt.commitInfo(gt.currentVersion)
    assert(gt.currentVersion == before + 1 && c.op == "update", c)
    // only the file(s) holding ids 10..19 were rewritten: the merge's
    // victim discovery semi-joins the matched rows, so the first
    // append's file never rewrites
    val firstAppend = gt.commitInfo(before - 1).added.map(_.path).toSet
    assert(c.removed.toSet.intersect(firstAppend).isEmpty, c.removed)
    assert(c.removed.nonEmpty)
    // time travel still shows the pre-update values (atomicity)
    assert(sql(s"SELECT v FROM gcat.db26.t VERSION AS OF $before WHERE id = 12")
      .head().getString(0) == "v12")
    // correlated IN in a DELETE (r6 verdict #3's second shape): the
    // subquery references t.score — ids 3, 12, 15 satisfy k <= score
    sql("DELETE FROM gcat.db26.t AS t WHERE t.id IN " +
      "(SELECT s.k FROM gcat.db26.s s WHERE s.k <= t.score)")
    assert(sql("SELECT count(*) FROM gcat.db26.t").head().getLong(0) == 17)
    assert(sql("SELECT count(*) FROM gcat.db26.t WHERE id IN (3, 12, 15)")
      .head().getLong(0) == 0)
    assert(gt.commitInfo(gt.currentVersion).op == "delete")
    // NOT EXISTS decorrelates too — rows with no s partner survive a
    // keep-only delete
    val n = sql("SELECT count(*) FROM gcat.db26.t").head().getLong(0)
    sql("DELETE FROM gcat.db26.t AS t WHERE NOT EXISTS " +
      "(SELECT 1 FROM gcat.db26.s s WHERE s.k = t.id) AND t.id >= 18")
    assert(sql("SELECT count(*) FROM gcat.db26.t").head().getLong(0) == n - 2)
  }

  test("DML subquery conditions: materialized once, victims stats-pruned") {
    sql("CREATE NAMESPACE gcat.db23")
    sql("CREATE TABLE gcat.db23.t (id BIGINT, v STRING, score DOUBLE)")
    sql("INSERT INTO gcat.db23.t SELECT id, concat('v', id), id * 1.0 FROM range(0, 10)")
    sql("INSERT INTO gcat.db23.t SELECT id, concat('v', id), id * 1.0 FROM range(10, 20)")
    sql("CREATE TABLE gcat.db23.picks (id BIGINT)")
    sql("INSERT INTO gcat.db23.picks VALUES (12), (15)")
    val gt = GraftTable.load(spark, s"$warehouse/db23/t")
    val before = gt.currentVersion
    // IN subquery: one evaluation drives file discovery AND the rewrite
    sql("UPDATE gcat.db23.t SET v = 'picked' WHERE id IN (SELECT id FROM gcat.db23.picks)")
    assert(sql("SELECT id FROM gcat.db23.t WHERE v = 'picked' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(12L, 15L))
    val c = gt.commitInfo(gt.currentVersion)
    assert(gt.currentVersion == before + 1 && c.op == "update", c)
    // only the second append's file(s) (ids 10..19) were rewritten —
    // the materialized value list prunes by min/max stats like any
    // hand-written predicate
    val firstAppend = gt.commitInfo(before - 1).added.map(_.path).toSet
    val secondAppend = gt.commitInfo(before).added.map(_.path).toSet
    assert(c.removed.toSet.subsetOf(secondAppend), c.removed)
    assert(c.removed.toSet.intersect(firstAppend).isEmpty)
    // scalar subquery in a MERGE condition (r5 verdict #5's shape)
    sql("""MERGE INTO gcat.db23.t AS t
           USING (SELECT * FROM VALUES (CAST(12 AS BIGINT), 'M12'),
                                       (CAST(2 AS BIGINT), 'M2') AS x(id, nv)) AS s
           ON t.id = s.id AND t.score > (SELECT avg(score) FROM gcat.db23.t)
           WHEN MATCHED THEN UPDATE SET v = s.nv""")
    val after = sql("SELECT id, v FROM gcat.db23.t WHERE id IN (2, 12) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // avg(score) = 9.5: id=12 qualifies, id=2 does not
    assert(after == Seq(2L -> "v2", 12L -> "M12"), after)
    // uncorrelated EXISTS folds to a boolean; false -> no row touched
    val vBefore = gt.currentVersion
    sql("UPDATE gcat.db23.t SET v = 'never' WHERE EXISTS " +
      "(SELECT 1 FROM gcat.db23.picks WHERE id = 999)")
    assert(sql("SELECT count(*) FROM gcat.db23.t WHERE v = 'never'").head().getLong(0) == 0)
    assert(gt.currentVersion == vBefore, "false-EXISTS update must not commit")
    // a subquery over the TARGET reads the pre-update snapshot
    sql("UPDATE gcat.db23.t SET score = -1 WHERE id IN " +
      "(SELECT id FROM gcat.db23.t WHERE score >= 18)")
    assert(sql("SELECT count(*) FROM gcat.db23.t WHERE score = -1").head().getLong(0) == 2)
    // DELETE with a subquery condition: the same materialize-once
    // machinery as UPDATE, one copy-on-write delete commit
    sql("DELETE FROM gcat.db23.t WHERE id IN (SELECT id FROM gcat.db23.picks)")
    assert(sql("SELECT count(*) FROM gcat.db23.t").head().getLong(0) == 18)
    assert(sql("SELECT count(*) FROM gcat.db23.t WHERE id IN (12, 15)").head().getLong(0) == 0)
    assert(gt.commitInfo(gt.currentVersion).op == "delete")
  }

  test("correlated subqueries in MERGE WHEN clauses lower onto the pair-set merge") {
    sql("CREATE NAMESPACE gcat.db30")
    sql("CREATE TABLE gcat.db30.t (id BIGINT, v STRING, score DOUBLE)")
    sql("INSERT INTO gcat.db30.t SELECT id, concat('v', id), id * 1.0 FROM range(0, 10)")
    sql("CREATE TABLE gcat.db30.aux (k BIGINT, grp STRING, m DOUBLE)")
    sql("INSERT INTO gcat.db30.aux VALUES (2, 'a', 20.0), (5, 'a', 50.0), (7, 'b', 70.0)")
    val gt = GraftTable.load(spark, s"$warehouse/db30/t")
    val before = gt.currentVersion
    // WHEN MATCHED AND EXISTS(correlated on t) — the r7 verdict #3
    // headline shape — plus an insert clause, in ONE atomic commit:
    // matched ids {2,5,7,9}; of those, aux grp='a' holds for {2,5};
    // source ids {11,12} don't match and insert
    sql("""MERGE INTO gcat.db30.t AS t
           USING (SELECT * FROM VALUES (CAST(2 AS BIGINT), 'M2'),
                    (CAST(5 AS BIGINT), 'M5'), (CAST(7 AS BIGINT), 'M7'),
                    (CAST(9 AS BIGINT), 'M9'), (CAST(11 AS BIGINT), 'N11'),
                    (CAST(12 AS BIGINT), 'N12') AS x(id, nv)) AS s
           ON t.id = s.id
           WHEN MATCHED AND EXISTS (SELECT 1 FROM gcat.db30.aux a
                                    WHERE a.k = t.id AND a.grp = 'a')
             THEN UPDATE SET v = s.nv
           WHEN NOT MATCHED THEN INSERT (id, v, score) VALUES (s.id, s.nv, -1.0)""")
    assert(gt.currentVersion == before + 1, "one atomic commit")
    assert(gt.commitInfo(gt.currentVersion).op == "merge")
    val got = sql("SELECT id, v FROM gcat.db30.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.filter(x => Seq(2L, 5L).contains(x._1)) == Seq(2L -> "M2", 5L -> "M5"), got)
    assert(got.filter(x => Seq(7L, 9L).contains(x._1)) == Seq(7L -> "v7", 9L -> "v9"), got)
    assert(got.filter(_._1 >= 11) == Seq(11L -> "N11", 12L -> "N12"), got)
    // correlated SCALAR subquery in a matched-clause ASSIGNMENT: SET
    // reads a per-row aggregate over aux (missing partner -> NULL)
    sql("""MERGE INTO gcat.db30.t AS t
           USING (SELECT * FROM VALUES (CAST(2 AS BIGINT)), (CAST(9 AS BIGINT)) AS x(id)) AS s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET
             score = (SELECT max(a.m) FROM gcat.db30.aux a WHERE a.k = t.id)""")
    val scores = sql("SELECT id, score FROM gcat.db30.t WHERE id IN (2, 9) ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSeq
    assert(scores == Seq(2L -> Some(20.0), 9L -> None), scores)
    // correlation ONLY in the insert clause (light path: flags projected
    // onto the source, real row multiplicity): duplicate unmatched
    // source rows insert TWICE
    val nBefore = sql("SELECT count(*) FROM gcat.db30.t").head().getLong(0)
    sql("""MERGE INTO gcat.db30.t AS t
           USING (SELECT * FROM VALUES (CAST(30 AS BIGINT), 'D'), (CAST(30 AS BIGINT), 'D'),
                    (CAST(31 AS BIGINT), 'E') AS x(id, nv)) AS s
           ON t.id = s.id
           WHEN NOT MATCHED AND EXISTS (SELECT 1 FROM gcat.db30.aux a
                                        WHERE a.m > CAST(s.id AS DOUBLE))
             THEN INSERT (id, v, score) VALUES (s.id, s.nv, 0.0)""")
    // aux.m max is 70: id=30 qualifies (x2), id=31 qualifies; all insert
    assert(sql("SELECT count(*) FROM gcat.db30.t").head().getLong(0) == nBefore + 3)
    assert(sql("SELECT count(*) FROM gcat.db30.t WHERE id = 30").head().getLong(0) == 2)
    // cardinality: two DISTINCT-valued source rows matching one target
    // row still violate through the pair-set lowering (identical-valued
    // duplicates would collapse — the documented row-value delta)
    val card = intercept[Exception] {
      sql("""MERGE INTO gcat.db30.t AS t
             USING (SELECT * FROM VALUES (CAST(2 AS BIGINT), 'X'),
                      (CAST(2 AS BIGINT), 'Y') AS x(id, nv)) AS s
             ON t.id = s.id
             WHEN MATCHED AND EXISTS (SELECT 1 FROM gcat.db30.aux a
                                      WHERE a.k = t.id)
               THEN UPDATE SET v = s.nv""")
    }
    assert(card.getMessage.contains("cardinality"), card.getMessage)
    // NOT MATCHED BY SOURCE with a correlated condition (round 9, r8
    // verdict #5): FULL OUTER pair set — unmatched target rows ride as
    // (target, null-source) rows, their target-only EXISTS decorrelates
    // like an UPDATE condition. Source matches id=2 only; aux.k holds
    // {2,5,7}; so NMBS ∩ EXISTS = {5,7} → DELETE, while the SAME
    // statement's matched clause updates id=2 — one atomic commit.
    val beforeNmbs = gt.currentVersion
    val nBeforeNmbs = sql("SELECT count(*) FROM gcat.db30.t").head().getLong(0)
    sql("""MERGE INTO gcat.db30.t AS t
           USING (SELECT CAST(2 AS BIGINT) AS id, 'B2' AS nv) AS s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET v = s.nv
           WHEN NOT MATCHED BY SOURCE AND EXISTS
             (SELECT 1 FROM gcat.db30.aux a WHERE a.k = t.id) THEN DELETE""")
    assert(gt.currentVersion == beforeNmbs + 1, "one atomic commit")
    assert(sql("SELECT count(*) FROM gcat.db30.t WHERE id IN (5, 7)")
      .head().getLong(0) == 0, "correlated NMBS DELETE missed")
    assert(sql("SELECT v FROM gcat.db30.t WHERE id = 2").head().getString(0) == "B2")
    assert(sql("SELECT count(*) FROM gcat.db30.t").head().getLong(0) == nBeforeNmbs - 2)
    // correlated NMBS ASSIGNMENT (scalar subquery over t in SET), with
    // an uncorrelated clause condition riding alongside; the duplicate
    // id=30 rows are value-identical, so they collapse to one NMBS row
    // and transform ALIKE (the documented row-value delta), both kept
    sql("""MERGE INTO gcat.db30.t AS t
           USING (SELECT CAST(0 AS BIGINT) AS id) AS s
           ON t.id = s.id
           WHEN NOT MATCHED BY SOURCE AND t.id IN (30, 31) THEN UPDATE SET
             score = (SELECT count(*) * 1.0 FROM gcat.db30.aux a
                      WHERE a.m > CAST(t.id AS DOUBLE))""")
    val nm = sql("SELECT id, score FROM gcat.db30.t WHERE id IN (30, 31) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(nm == Seq(30L -> 2.0, 30L -> 2.0, 31L -> 2.0), nm)
    // the ON condition itself stays the one loud correlation error
    val err = intercept[Exception] {
      sql("""MERGE INTO gcat.db30.t AS t
             USING (SELECT CAST(2 AS BIGINT) AS id) AS s
             ON t.id = s.id AND EXISTS
               (SELECT 1 FROM gcat.db30.aux a WHERE a.k = t.id)
             WHEN MATCHED THEN DELETE""")
    }
    assert(err.getMessage.contains("ON condition") ||
      err.getMessage.toLowerCase.contains("correlated"), err.getMessage)
  }

  test("correlated NMBS merge survives a source column named 'present'") {
    // ADVICE r9 #4: the source-presence marker must sit OUTSIDE the
    // __graft_s_<col> rename image — a source column literally named
    // 'present' renames to __graft_s_present, which collided with the
    // old marker name and made its gate reference ambiguous
    sql("CREATE NAMESPACE gcat.db32")
    sql("CREATE TABLE gcat.db32.t (id BIGINT, v STRING)")
    sql("INSERT INTO gcat.db32.t VALUES (1, 'a'), (2, 'b'), (5, 'e')")
    sql("CREATE TABLE gcat.db32.aux (k BIGINT)")
    sql("INSERT INTO gcat.db32.aux VALUES (5)")
    sql("""MERGE INTO gcat.db32.t AS t
           USING (SELECT CAST(2 AS BIGINT) AS id, 'yes' AS present) AS s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET v = s.present
           WHEN NOT MATCHED BY SOURCE AND EXISTS
             (SELECT 1 FROM gcat.db32.aux a WHERE a.k = t.id) THEN DELETE""")
    val got = sql("SELECT id, v FROM gcat.db32.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(1L -> "a", 2L -> "yes"), got)
  }

  test("multi-column IN subqueries in DML: 3VL preserved") {
    sql("CREATE NAMESPACE gcat.db31")
    sql("CREATE TABLE gcat.db31.t (a BIGINT, b STRING, v STRING)")
    sql("INSERT INTO gcat.db31.t VALUES (1, 'x', 'r1'), (1, 'y', 'r2'), " +
      "(2, 'x', 'r3'), (3, 'z', 'r4')")
    sql("CREATE TABLE gcat.db31.pick (pa BIGINT, pb STRING)")
    sql("INSERT INTO gcat.db31.pick VALUES (1, 'x'), (3, 'z')")
    // row-wise IN: only exact (a,b) pairs update — (1,'y') and (2,'x')
    // share one component each with the list and must NOT match
    sql("UPDATE gcat.db31.t SET v = 'hit' WHERE (a, b) IN " +
      "(SELECT pa, pb FROM gcat.db31.pick)")
    val got = sql("SELECT v FROM gcat.db31.t ORDER BY a, b")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("hit", "r2", "r3", "hit"), got)
    // NULL semantics: a NULL row in the list makes NOT IN unknown for
    // every non-matching probe — the standard says filter NOTHING
    sql("INSERT INTO gcat.db31.pick VALUES (NULL, NULL)")
    val n = sql("SELECT count(*) FROM gcat.db31.t").head().getLong(0)
    sql("DELETE FROM gcat.db31.t WHERE (a, b) NOT IN (SELECT pa, pb FROM gcat.db31.pick)")
    assert(sql("SELECT count(*) FROM gcat.db31.t").head().getLong(0) == n,
      "NOT IN over a list containing an all-NULL row must delete nothing")
    // positive IN still matches true rows through the unknowns
    sql("DELETE FROM gcat.db31.t WHERE (a, b) IN (SELECT pa, pb FROM gcat.db31.pick)")
    assert(sql("SELECT v FROM gcat.db31.t ORDER BY a").collect().map(_.getString(0)).toSeq
      == Seq("r2", "r3"))
  }

  test("UPDATE/MERGE SET on nested struct fields rebuilds copy-on-write") {
    sql("CREATE NAMESPACE gcat.db24")
    sql("CREATE TABLE gcat.db24.t (id BIGINT, meta STRUCT<lang: STRING, score: DOUBLE>, v STRING)")
    sql("INSERT INTO gcat.db24.t SELECT id, named_struct('lang', 'en', 'score', id * 1.0), " +
      "concat('v', id) FROM range(5)")
    val gt = GraftTable.load(spark, s"$warehouse/db24/t")
    val schemaBefore = gt.schema.json
    // two sibling-field assignments on one struct; RHS sees the OLD row
    sql("UPDATE gcat.db24.t SET meta.score = meta.score * 10, meta.lang = upper(meta.lang) " +
      "WHERE id >= 3")
    val got = sql("SELECT id, meta.lang AS l, meta.score AS sc, v FROM gcat.db24.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSeq
    assert(got.take(3).forall { case (i, l, sc, v) => l == "en" && sc == i.toDouble && v == s"v$i" }, got)
    assert(got.drop(3).forall { case (i, l, sc, v) => l == "EN" && sc == i * 10.0 && v == s"v$i" }, got)
    // schema-preserving commit: field-id metadata byte-identical
    assert(gt.commitInfo(gt.currentVersion).op == "update")
    assert(gt.schema.json == schemaBefore, "nested UPDATE must not alter the schema")
    // field ids still resolve old files after a rename following the rewrite
    sql("ALTER TABLE gcat.db24.t RENAME COLUMN v TO v2")
    assert(sql("SELECT count(v2) FROM gcat.db24.t").head().getLong(0) == 5)
    // MERGE with a nested-field assignment in the matched clause
    sql("""MERGE INTO gcat.db24.t AS t
           USING (SELECT CAST(1 AS BIGINT) AS id, 'fr' AS nl) AS s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET meta.lang = s.nl""")
    assert(sql("SELECT meta.lang FROM gcat.db24.t WHERE id = 1").head().getString(0) == "fr")
    assert(sql("SELECT meta.score FROM gcat.db24.t WHERE id = 1").head().getDouble(0) == 1.0)
    // duplicate / overlapping nested targets are ambiguous — rejected
    // loudly like duplicate top-level assignments, never silent last-win
    val dup = intercept[Exception](
      sql("UPDATE gcat.db24.t SET meta.score = 1.0, meta.score = 2.0"))
    assert(dup.getMessage.contains("conflicting"), dup.getMessage)
  }

  test("batch-write adoption trusts commit messages, not the directory") {
    // a task attempt that dies mid-write never runs abort() — its torn
    // or duplicate file sits in the write directory next to the retried
    // attempt's committed file and MUST NOT be adopted
    sql("CREATE NAMESPACE gcat.db25")
    sql("CREATE TABLE gcat.db25.t (id BIGINT, v STRING)")
    sql("INSERT INTO gcat.db25.t SELECT id, 'x' FROM range(0, 10)")
    val gt = GraftTable.load(spark, s"$warehouse/db25/t")
    val committedStat = gt.history.last.added.head
    val committedFile = committedStat.path // data/<uuid8>/part-...
    // simulate a dead attempt's leftover: a DUPLICATE of a real file
    // (complete parquet — the worst case, silently doubling rows) in a
    // fresh batch-write dir, alongside one genuinely committed file
    val dir = gt.newWriteDir()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warehouse, "db25", "t", dir))
    def plant(name: String): String = {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(warehouse, "db25", "t", committedFile),
        java.nio.file.Paths.get(warehouse, "db25", "t", dir, name))
      name
    }
    val real = plant("part-0-real.parquet")
    plant("part-1-orphan.parquet")
    gt.adoptBatchWrite(dir, truncate = false, dynamicPartitions = false,
      written = Seq(committedStat.copy(path = s"$dir/$real")))
    // only the reported file's rows landed (one copy, not two)
    assert(sql("SELECT count(*) FROM gcat.db25.t").head().getLong(0)
      == 10 + committedStat.rows)
    // and the orphan is gone from disk, not lingering for vacuum
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(warehouse, "db25", "t", dir, "part-1-orphan.parquet")))
  }

  test("SQL MERGE INTO: upsert with explicit clauses, one atomic commit") {
    sql("CREATE NAMESPACE gcat.db16")
    sql("CREATE TABLE gcat.db16.t (id BIGINT, v STRING, n BIGINT)")
    sql("INSERT INTO gcat.db16.t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    sql("""MERGE INTO gcat.db16.t AS t
           USING (SELECT * FROM VALUES (2, 'B'), (4, 'D') AS s(id, v)) AS s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET v = s.v, n = t.n + 1
           WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.v, 0)""")
    val got = sql("SELECT id, v, n FROM gcat.db16.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a", 10L), (2L, "B", 21L), (3L, "c", 30L), (4L, "D", 0L)), got)
    val gt = GraftTable.load(spark, s"$warehouse/db16/t")
    assert(gt.history.map(_.op) == Seq("create", "append", "merge"))
    // time travel sees the pre-merge state
    assert(sql("SELECT v FROM gcat.db16.t VERSION AS OF 2 WHERE id = 2").head().getString(0) == "b")
  }

  test("SQL MERGE INTO: star clauses, conditional delete, not-matched-by-source") {
    sql("CREATE NAMESPACE gcat.db17")
    sql("CREATE TABLE gcat.db17.t (id BIGINT, v STRING)")
    sql("INSERT INTO gcat.db17.t VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    // UPDATE SET * / INSERT * shorthand
    sql("""MERGE INTO gcat.db17.t t
           USING (SELECT * FROM VALUES (1, 'A'), (5, 'E') AS s(id, v)) s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    assert(sql("SELECT v FROM gcat.db17.t WHERE id IN (1, 5) ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("A", "E"))
    // ordered clauses: conditional DELETE before UPDATE; NOT MATCHED BY SOURCE
    sql("""MERGE INTO gcat.db17.t t
           USING (SELECT * FROM VALUES (1, 'x'), (2, 'keep') AS s(id, v)) s
           ON t.id = s.id
           WHEN MATCHED AND s.v = 'x' THEN DELETE
           WHEN MATCHED THEN UPDATE SET v = s.v
           WHEN NOT MATCHED BY SOURCE AND t.id > 4 THEN DELETE""")
    val got = sql("SELECT id, v FROM gcat.db17.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // id=1 deleted (s.v='x'); id=2 updated; id=3,4 not matched by source, id<=4 kept; id=5 deleted
    assert(got == Seq((2L, "keep"), (3L, "c"), (4L, "d")), got)
  }

  test("SQL MERGE INTO: cardinality violation throws instead of duplicating") {
    sql("CREATE NAMESPACE gcat.db18")
    sql("CREATE TABLE gcat.db18.t (id BIGINT, v STRING)")
    sql("INSERT INTO gcat.db18.t VALUES (1, 'a')")
    val e = intercept[Exception](
      sql("""MERGE INTO gcat.db18.t t
             USING (SELECT * FROM VALUES (1, 'x'), (1, 'y') AS s(id, v)) s
             ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET v = s.v"""))
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    assert(sql("SELECT v FROM gcat.db18.t").head().getString(0) == "a")
  }

  test("VERSION AS OF: refs resolve before numbers; unknown versions error cleanly") {
    sql("CREATE NAMESPACE gcat.db13")
    sql("CREATE TABLE gcat.db13.t (id BIGINT)")
    sql("INSERT INTO gcat.db13.t VALUES (1)") // v2
    // a branch/tag named with digits only must stay reachable (ref-first)
    sql("CALL gcat.system.create_ref('db13.t', '2024', 2)")
    sql("INSERT INTO gcat.db13.t VALUES (2), (3)") // v3
    assert(sql("SELECT count(*) AS n FROM gcat.db13.t VERSION AS OF '2024'")
      .head().getLong(0) == 1)
    // non-ref digits still resolve as a snapshot id
    assert(sql("SELECT count(*) AS n FROM gcat.db13.t VERSION AS OF '3'")
      .head().getLong(0) == 3)
    // neither a ref nor a number -> clean error, not NumberFormatException
    val e = intercept[Exception](
      sql("SELECT * FROM gcat.db13.t VERSION AS OF 'no_such_ref'").collect())
    assert(e.getMessage.contains("not a branch/tag"), e.getMessage)
    val e2 = intercept[Exception]( // 20+ digits overflow Long — same clean error
      sql("SELECT * FROM gcat.db13.t VERSION AS OF '99999999999999999999'").collect())
    assert(e2.getMessage.contains("not a branch/tag"), e2.getMessage)
  }

  test("CALL table arguments accept the catalog-qualified form") {
    sql("CREATE NAMESPACE gcat.db14")
    sql("CREATE TABLE gcat.db14.t (id BIGINT)")
    sql("INSERT INTO gcat.db14.t VALUES (1)")
    // 'gcat.db14.t' must strip the catalog prefix, not resolve to
    // warehouse path gcat/db14/t
    sql("CALL gcat.system.create_ref('gcat.db14.t', 'r1', 2)")
    assert(sql("SELECT count(*) AS n FROM gcat.db14.t VERSION AS OF 'r1'")
      .head().getLong(0) == 1)
    val e = intercept[Exception](sql("CALL gcat.system.vacuum('t', 0)").collect())
    assert(e.getMessage.contains("db.table"), e.getMessage)
  }

  test("CALL rollback restores a snapshot in one metadata commit; history TVF reads it") {
    sql("CREATE NAMESPACE gcat.db20")
    sql("CREATE TABLE gcat.db20.t (id BIGINT)")
    sql("INSERT INTO gcat.db20.t VALUES (1), (2)") // v2
    sql("INSERT INTO gcat.db20.t VALUES (3)")      // v3
    sql("DELETE FROM gcat.db20.t WHERE id = 1")    // v4
    assert(sql("SELECT count(*) AS n FROM gcat.db20.t").head().getLong(0) == 2)
    val out = sql("CALL gcat.system.rollback('db20.t', 2)").collect()
    assert(out.head.getLong(0) == 2L)
    // restored to the v2 state; rolled-over versions remain travelable
    assert(sql("SELECT count(*) AS n FROM gcat.db20.t").head().getLong(0) == 2)
    assert(sql("SELECT sum(id) AS s FROM gcat.db20.t").head().getLong(0) == 3) // {1,2}
    assert(sql("SELECT count(*) AS n FROM gcat.db20.t VERSION AS OF 4").head().getLong(0) == 2)
    assert(sql("SELECT sum(id) AS s FROM gcat.db20.t VERSION AS OF 3").head().getLong(0) == 6)
    // the rollback touched no data files (pure metadata commit)
    val gt = GraftTable.load(spark, s"$warehouse/db20/t")
    assert(gt.history.last.op == "overwrite")
    assert(gt.history.last.added.map(_.path).toSet
      == gt.commitInfo(2).added.map(_.path).toSet ++ gt.commitInfo(1).added.map(_.path).toSet)
    // history surface through SQL (Iceberg t.history parity)
    graft.functions.GraftFunctions.register(spark)
    val hist = spark.sql(
      s"SELECT version, op FROM graft_table_history('$warehouse/db20/t') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L), hist)
    assert(hist.last._2 == "overwrite")
  }

  test("concurrent SQL INSERTs race through optimistic commits, none lost") {
    sql("CREATE NAMESPACE gcat.db10")
    sql("CREATE TABLE gcat.db10.t (id BIGINT, src STRING)")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (0 until 4).map { i =>
      Future { sql(s"INSERT INTO gcat.db10.t SELECT id, 'w$i' FROM range(${i * 100}, ${i * 100 + 100})") }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(sql("SELECT count(*) AS n FROM gcat.db10.t").head().getLong(0) == 400)
    assert(sql("SELECT count(DISTINCT src) AS n FROM gcat.db10.t").head().getLong(0) == 4)
    // four append commits landed, linearized by the hard-link race
    val gt = GraftTable.load(spark, s"$warehouse/db10/t")
    assert(gt.history.count(_.op == "append") == 4, gt.history.map(_.op))
  }

  test("path metacharacters in identifiers are rejected (no warehouse escape)") {
    sql("CREATE NAMESPACE gcat.db8")
    for (bad <- Seq("CREATE TABLE gcat.db8.`..` (id BIGINT)",
                    "CREATE TABLE gcat.db8.`a/b` (id BIGINT)",
                    "CREATE NAMESPACE gcat.`../outside`")) {
      val e = intercept[Exception](sql(bad))
      assert(e.getMessage.contains("illegal identifier"), s"$bad -> ${e.getMessage}")
    }
  }

  test("rename table across the same namespace") {
    sql("CREATE NAMESPACE gcat.db6")
    sql("CREATE TABLE gcat.db6.old_name (id BIGINT)")
    sql("INSERT INTO gcat.db6.old_name VALUES (7)")
    // the rename target is an identifier WITHIN the same catalog
    sql("ALTER TABLE gcat.db6.old_name RENAME TO db6.new_name")
    assert(sql("SELECT id FROM gcat.db6.new_name").head().getLong(0) == 7)
    assert(!sql("SHOW TABLES IN gcat.db6").collect().map(_.getString(1)).contains("old_name"))
  }

  test("ORC tables read through the catalog scan: pruning, ADD COLUMN, time travel, buckets") {
    sql("CREATE NAMESPACE gcat.dborc")
    sql("CREATE TABLE gcat.dborc.t (id BIGINT, v STRING) TBLPROPERTIES('format'='orc')")
    sql("INSERT INTO gcat.dborc.t SELECT id, 'a' FROM range(0, 10)") // v2
    sql("INSERT INTO gcat.dborc.t SELECT id, 'b' FROM range(100, 110)") // v3
    val gt = GraftTable.load(spark, s"$warehouse/dborc/t")
    assert(gt.format == "orc")
    // stats pruning: only the second commit's files are planned
    val q = sql("SELECT v FROM gcat.dborc.t WHERE id >= 100")
    assert(q.distinct().collect().map(_.getString(0)).toSeq == Seq("b"))
    val secondCommit = gt.commitInfo(3).added.size
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScan(") && plan.contains(s"orc, $secondCommit files,"), plan)
    assert(secondCommit < gt.planFiles(gt.currentVersion).size)
    // pre-evolution ORC files read the added column as NULL
    sql("ALTER TABLE gcat.dborc.t ADD COLUMN note STRING") // v4
    sql("INSERT INTO gcat.dborc.t VALUES (200, 'c', 'x')") // v5
    assert(sql("SELECT count(*) FROM gcat.dborc.t WHERE note IS NULL").head().getLong(0) == 20)
    assert(sql("SELECT note FROM gcat.dborc.t WHERE id = 200").head().getString(0) == "x")
    // time travel to each commit
    assert(sql("SELECT count(*) FROM gcat.dborc.t VERSION AS OF 2").head().getLong(0) == 10)
    assert(sql("SELECT count(*) FROM gcat.dborc.t VERSION AS OF 3").head().getLong(0) == 20)
    assert(!sql("SELECT * FROM gcat.dborc.t VERSION AS OF 3").columns.contains("note"))
    // a bucketed ORC table: a point read on the key opens one bucket
    sql("""CREATE TABLE gcat.dborc.b (id BIGINT, v DOUBLE)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES('format'='orc')""")
    sql("INSERT INTO gcat.dborc.b SELECT id, id * 0.5 FROM range(1, 201)")
    val point = sql("SELECT id, v FROM gcat.dborc.b WHERE id = 42")
    assert(point.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((42L, 21.0)))
    val pointPlan = point.queryExecution.executedPlan.toString
    assert(pointPlan.contains("1 occupied buckets"), pointPlan)
  }

  test("catalog scan plans as many read tasks as GraftTable.read of the same snapshot") {
    sql("CREATE NAMESPACE gcat.dbsplit")
    sql("CREATE TABLE gcat.dbsplit.t (id BIGINT, v STRING)")
    val nFiles = spark.sparkContext.defaultParallelism * 3 + 1
    sql(s"INSERT INTO gcat.dbsplit.t SELECT id, concat('v', id) FROM range(0, 4000, 1, $nFiles)")
    val gt = GraftTable.load(spark, s"$warehouse/dbsplit/t")
    assert(gt.planFiles(gt.currentVersion).size == nFiles)
    // the default open cost puts each small file in its own task; a
    // one-byte open cost makes Spark pack several files per task
    val key = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.get(key)
    try for (openCost <- Seq(prev, "1")) {
      spark.conf.set(key, openCost)
      val viaCatalog = sql("SELECT * FROM gcat.dbsplit.t").rdd.getNumPartitions
      val viaStore = gt.read().rdd.getNumPartitions
      assert(viaCatalog == viaStore, s"$key=$openCost: catalog $viaCatalog vs read $viaStore tasks")
      if (openCost == "1") assert(viaCatalog < nFiles, s"$viaCatalog tasks for $nFiles files")
    } finally spark.conf.set(key, prev)
  }
}
