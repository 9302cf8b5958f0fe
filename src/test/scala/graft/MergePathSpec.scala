package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.store.{GraftTable, MergeWhen}

/** MERGE gives the same answers on both of the store's paths: the task
  * path (the source hashed on the ON keys and broadcast; matching and
  * rewriting happen inside the copy-on-write tasks) and the join path,
  * which `spark.sql.autoBroadcastJoinThreshold=-1` forces here. Each
  * case runs once per path over fresh tables; the two answers must be
  * equal.
  */
class MergePathSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_mergepath").toString
    spark.conf.set("spark.sql.catalog.gmp", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmp.warehouse", w)
    w
  }

  private def sql(q: String) = { warehouse; spark.sql(q) }

  private val names = new java.util.concurrent.atomic.AtomicInteger

  private def freshNamespace(): String = {
    val ns = s"m${names.incrementAndGet()}"
    sql(s"CREATE NAMESPACE gmp.$ns")
    ns
  }

  private def joinPath[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, before)
  }

  /** `body` on the task path and on the join path, each given a fresh
    * namespace; the two answers must be equal. Returns the answer. */
  private def samePaths[T](body: String => T): T = {
    val onTasks = body(freshNamespace())
    val onJoin = joinPath(body(freshNamespace()))
    assert(onTasks == onJoin, s"\ntask path: $onTasks\njoin path: $onJoin")
    onTasks
  }

  private def rows(table: String): Seq[String] =
    sql(s"SELECT * FROM $table").collect().map(_.toString).sorted.toSeq

  private def load(ns: String, t: String = "t"): GraftTable = GraftTable.load(spark, s"$warehouse/$ns/$t")

  private def failure(body: => Any): String =
    try { body; "no error" } catch {
      case e: Exception if e.getMessage.contains("cardinality") => "cardinality violation"
      case e: IllegalArgumentException if e.getMessage.contains("duplicate keys") => "duplicate keys"
    }

  test("the paths differ in work: no shuffle on the task path, a join on the forced one") {
    def upsert(ns: String): WorkCount = {
      sql(s"CREATE TABLE gmp.$ns.t (id BIGINT, v STRING)")
      sql(s"INSERT INTO gmp.$ns.t VALUES (1, 'a'), (2, 'b')")
      WorkCount.of(spark.sparkContext)(sql(
        s"""MERGE INTO gmp.$ns.t t USING (SELECT * FROM VALUES (2, 'B'), (3, 'C') AS s(id, v)) s
            ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"""))
    }
    val onTasks = upsert(freshNamespace())
    val onJoin = joinPath(upsert(freshNamespace()))
    assert(onTasks.shuffled == 0L && onTasks.jobs == 1, onTasks)
    assert(onJoin.shuffled > 0L && onJoin.jobs >= 2, onJoin)
  }

  test("SQL upsert with explicit clauses") {
    val got = samePaths { ns =>
      sql(s"CREATE TABLE gmp.$ns.t (id BIGINT, v STRING, n BIGINT)")
      sql(s"INSERT INTO gmp.$ns.t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
      sql(s"""MERGE INTO gmp.$ns.t AS t
              USING (SELECT * FROM VALUES (2, 'B'), (4, 'D') AS s(id, v)) AS s
              ON t.id = s.id
              WHEN MATCHED THEN UPDATE SET v = s.v, n = t.n + 1
              WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.v, 0)""")
      (rows(s"gmp.$ns.t"), load(ns).history.map(_.op))
    }
    assert(got == (Seq("[1,a,10]", "[2,B,21]", "[3,c,30]", "[4,D,0]"),
      Seq("create", "append", "merge")), got)
  }

  test("SQL star clauses, conditional delete, not matched by source") {
    val got = samePaths { ns =>
      sql(s"CREATE TABLE gmp.$ns.t (id BIGINT, v STRING)")
      sql(s"INSERT INTO gmp.$ns.t VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
      sql(s"""MERGE INTO gmp.$ns.t t
              USING (SELECT * FROM VALUES (1, 'A'), (5, 'E') AS s(id, v)) s
              ON t.id = s.id
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")
      val first = rows(s"gmp.$ns.t")
      sql(s"""MERGE INTO gmp.$ns.t t
              USING (SELECT * FROM VALUES (1, 'x'), (2, 'keep') AS s(id, v)) s
              ON t.id = s.id
              WHEN MATCHED AND s.v = 'x' THEN DELETE
              WHEN MATCHED THEN UPDATE SET v = s.v
              WHEN NOT MATCHED BY SOURCE AND t.id > 4 THEN DELETE""")
      (first, rows(s"gmp.$ns.t"))
    }
    assert(got._2 == Seq("[2,keep]", "[3,c]", "[4,d]"), got)
  }

  test("SQL cardinality violation throws and changes nothing") {
    val got = samePaths { ns =>
      sql(s"CREATE TABLE gmp.$ns.t (id BIGINT, v STRING)")
      sql(s"INSERT INTO gmp.$ns.t VALUES (1, 'a')")
      val v = load(ns).currentVersion
      (failure(sql(s"""MERGE INTO gmp.$ns.t t
                       USING (SELECT * FROM VALUES (1, 'x'), (1, 'y') AS s(id, v)) s
                       ON t.id = s.id
                       WHEN MATCHED THEN UPDATE SET v = s.v""")),
        rows(s"gmp.$ns.t"), load(ns).currentVersion == v)
    }
    assert(got == ("cardinality violation", Seq("[1,a]"), true), got)
  }

  test("SQL MERGE WITH SCHEMA EVOLUTION") {
    val got = samePaths { ns =>
      sql(s"CREATE TABLE gmp.$ns.t (id BIGINT, v STRING)")
      sql(s"INSERT INTO gmp.$ns.t VALUES (1, 'a'), (2, 'b')")
      sql(s"""MERGE WITH SCHEMA EVOLUTION INTO gmp.$ns.t AS t
              USING (SELECT * FROM VALUES (CAST(2 AS BIGINT), 'B', CAST(20.0 AS DOUBLE)),
                       (CAST(3 AS BIGINT), 'c', CAST(30.0 AS DOUBLE)) AS x(id, v, score)) AS s
              ON t.id = s.id
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")
      sql(s"""MERGE WITH SCHEMA EVOLUTION INTO gmp.$ns.t AS t
              USING (SELECT * FROM VALUES (CAST(9 AS BIGINT), 'z', CAST(1.0 AS DOUBLE), 'extra')
                     AS x(id, v, score, note)) AS s
              ON t.id = s.id
              WHEN NOT MATCHED THEN INSERT *""")
      sql(s"""MERGE INTO gmp.$ns.t AS t
              USING (SELECT * FROM VALUES (CAST(10 AS BIGINT), 'q', CAST(2.0 AS DOUBLE), 'x', 5)
                     AS x(id, v, score, note, extra2)) AS s
              ON t.id = s.id
              WHEN NOT MATCHED THEN INSERT *""")
      (rows(s"gmp.$ns.t"), load(ns).schema.fieldNames.toSeq, load(ns).history.map(_.op))
    }
    assert(got._2 == Seq("id", "v", "score", "note"), got)
    assert(got._1.size == 5, got)
  }

  test("SQL correlated WHEN clauses") {
    samePaths { ns =>
      val t = s"gmp.$ns.t"
      sql(s"CREATE TABLE $t (id BIGINT, v STRING, score DOUBLE)")
      sql(s"INSERT INTO $t SELECT id, concat('v', id), id * 1.0 FROM range(0, 10)")
      sql(s"CREATE TABLE gmp.$ns.aux (k BIGINT, grp STRING, m DOUBLE)")
      sql(s"INSERT INTO gmp.$ns.aux VALUES (2, 'a', 20.0), (5, 'a', 50.0), (7, 'b', 70.0)")
      val seen = Seq.newBuilder[Any]
      sql(s"""MERGE INTO $t AS t
              USING (SELECT * FROM VALUES (CAST(2 AS BIGINT), 'M2'), (CAST(5 AS BIGINT), 'M5'),
                       (CAST(7 AS BIGINT), 'M7'), (CAST(9 AS BIGINT), 'M9'),
                       (CAST(11 AS BIGINT), 'N11'), (CAST(12 AS BIGINT), 'N12') AS x(id, nv)) AS s
              ON t.id = s.id
              WHEN MATCHED AND EXISTS (SELECT 1 FROM gmp.$ns.aux a WHERE a.k = t.id AND a.grp = 'a')
                THEN UPDATE SET v = s.nv
              WHEN NOT MATCHED THEN INSERT (id, v, score) VALUES (s.id, s.nv, -1.0)""")
      seen += rows(t)
      sql(s"""MERGE INTO $t AS t
              USING (SELECT * FROM VALUES (CAST(2 AS BIGINT)), (CAST(9 AS BIGINT)) AS x(id)) AS s
              ON t.id = s.id
              WHEN MATCHED THEN UPDATE SET
                score = (SELECT max(a.m) FROM gmp.$ns.aux a WHERE a.k = t.id)""")
      seen += rows(t)
      sql(s"""MERGE INTO $t AS t
              USING (SELECT * FROM VALUES (CAST(30 AS BIGINT), 'D'), (CAST(30 AS BIGINT), 'D'),
                       (CAST(31 AS BIGINT), 'E') AS x(id, nv)) AS s
              ON t.id = s.id
              WHEN NOT MATCHED AND EXISTS (SELECT 1 FROM gmp.$ns.aux a WHERE a.m > CAST(s.id AS DOUBLE))
                THEN INSERT (id, v, score) VALUES (s.id, s.nv, 0.0)""")
      seen += rows(t)
      seen += failure(sql(s"""MERGE INTO $t AS t
              USING (SELECT * FROM VALUES (CAST(2 AS BIGINT), 'X'), (CAST(2 AS BIGINT), 'Y') AS x(id, nv)) AS s
              ON t.id = s.id
              WHEN MATCHED AND EXISTS (SELECT 1 FROM gmp.$ns.aux a WHERE a.k = t.id)
                THEN UPDATE SET v = s.nv"""))
      sql(s"""MERGE INTO $t AS t
              USING (SELECT CAST(2 AS BIGINT) AS id, 'B2' AS nv) AS s
              ON t.id = s.id
              WHEN MATCHED THEN UPDATE SET v = s.nv
              WHEN NOT MATCHED BY SOURCE AND EXISTS
                (SELECT 1 FROM gmp.$ns.aux a WHERE a.k = t.id) THEN DELETE""")
      seen += rows(t)
      sql(s"""MERGE INTO $t AS t
              USING (SELECT CAST(0 AS BIGINT) AS id) AS s
              ON t.id = s.id
              WHEN NOT MATCHED BY SOURCE AND t.id IN (30, 31) THEN UPDATE SET
                score = (SELECT count(*) * 1.0 FROM gmp.$ns.aux a WHERE a.m > CAST(t.id AS DOUBLE))""")
      seen += rows(t)
      seen.result()
    }
  }

  test("keyed merge: a NULL key never matches; duplicate source keys are refused") {
    samePaths { ns =>
      val t = GraftTable.create(spark, s"$warehouse/keyed_$ns",
        Seq((None: Option[Long], "n0"), (Some(1L), "a")).toDF("id", "v"))
      t.merge(Seq((None: Option[Long], "n1"), (Some(1L), "A")).toDF("id", "v"), Seq("id"), "keyed")
      val afterNull = t.read().collect().map(_.toString).sorted.toSeq
      val dup = failure(t.merge(Seq((1L, "x"), (1L, "y")).toDF("id", "v"), Seq("id")))
      (afterNull, dup, t.read().collect().map(_.toString).sorted.toSeq, t.history.map(_.op))
    } match {
      case (afterNull, dup, _, _) =>
        assert(afterNull == Seq("[1,A]", "[null,n0]", "[null,n1]"), afterNull)
        assert(dup == "duplicate keys")
    }
  }

  test("composite key, residual ON conjunct, INT source key against BIGINT target key") {
    val got = samePaths { ns =>
      val t = s"gmp.$ns.t"
      sql(s"CREATE TABLE $t (a BIGINT, b STRING, n INT)")
      sql(s"INSERT INTO $t VALUES (1, 'x', 10), (1, 'y', 20), (2, 'x', 30)")
      // (1,'x') matches both keys, (1,'z') only the first, (2,'x') both
      sql(s"""MERGE INTO $t t
              USING (SELECT * FROM VALUES (1, 'x', 5), (1, 'z', 6), (2, 'x', 40) AS s(a, b, w)) s
              ON t.a = s.a AND t.b = s.b AND s.w > t.n
              WHEN MATCHED THEN UPDATE SET n = s.w
              WHEN NOT MATCHED THEN INSERT (a, b, n) VALUES (s.a, s.b, s.w)""")
      val composite = rows(t)
      // the residual s.w > t.n fails for (1,'x',5): that source row is
      // not matched, so it inserts
      sql(s"CREATE TABLE gmp.$ns.i (k INT, v STRING)")
      sql(s"INSERT INTO gmp.$ns.i VALUES (1, 'a'), (2, 'b')")
      sql(s"""MERGE INTO gmp.$ns.i t
              USING (SELECT * FROM VALUES (CAST(2 AS BIGINT), 'B'), (CAST(3 AS BIGINT), 'C') AS s(k, v)) s
              ON t.k = s.k
              WHEN MATCHED THEN UPDATE SET v = s.v
              WHEN NOT MATCHED THEN INSERT *""")
      (composite, rows(s"gmp.$ns.i"))
    }
    assert(got == (Seq("[1,x,10]", "[1,x,5]", "[1,y,20]", "[1,z,6]", "[2,x,40]"),
      Seq("[1,a]", "[2,B]", "[3,C]")), got)
  }

  test("<=> matches NULL keys, = never does") {
    val got = samePaths { ns =>
      val t = s"gmp.$ns.t"
      sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
      sql(s"INSERT INTO $t VALUES (NULL, 'n'), (1, 'a')")
      sql(s"""MERGE INTO $t t
              USING (SELECT * FROM VALUES (CAST(NULL AS BIGINT), 'N1'), (CAST(1 AS BIGINT), 'A') AS s(k, v)) s
              ON t.k <=> s.k
              WHEN MATCHED THEN UPDATE SET v = s.v
              WHEN NOT MATCHED THEN INSERT *""")
      val nullSafe = rows(t)
      sql(s"""MERGE INTO $t t
              USING (SELECT * FROM VALUES (CAST(NULL AS BIGINT), 'N2') AS s(k, v)) s
              ON t.k = s.k
              WHEN MATCHED THEN UPDATE SET v = s.v
              WHEN NOT MATCHED THEN INSERT *""")
      (nullSafe, rows(t))
    }
    assert(got == (Seq("[1,A]", "[null,N1]"), Seq("[1,A]", "[null,N1]", "[null,N2]")), got)
  }

  test("NOT NULL columns holding NULLs: clause conditions see the NULLs") {
    val got = samePaths { ns =>
      val t = GraftTable.create(spark, s"$warehouse/nn_$ns",
        spark.range(0, 3).select(col("id"), (col("id") * 10).as("n"), col("id").cast("string").as("v")))
      assert(t.schema.fields.forall(!_.nullable))
      t.append(Seq[(Long, Option[Long], Option[String])]((10L, None, None), (11L, Some(5L), None))
        .toDF("id", "n", "v").coalesce(1))
      val p = GraftTable.MergeSourcePrefix
      t.mergeInto(Seq((10L, "ten"), (11L, "eleven"), (1L, "one")).toDF("id", "v"),
        col("id") === col(p + "id"),
        matched = Seq(MergeWhen(Some(col("n").isNull), None),
          MergeWhen(Some(col("v").isNull), Some(Map("v" -> col(p + "v"))))),
        notMatched = Nil,
        notMatchedBySource = Seq(MergeWhen(Some(col("n").isNotNull && col("id") === 2L), None)))
      t.read().collect().map(_.toString).sorted.toSeq
    }
    assert(got == Seq("[0,0,0]", "[1,10,1]", "[11,5,eleven]"), got)
  }

  test("bucketed target: rewrites and inserts keep one bucket per file") {
    samePaths { ns =>
      val t = s"gmp.$ns.t"
      sql(s"CREATE TABLE $t (id BIGINT, v STRING) PARTITIONED BY (bucket(4, id))")
      sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 40)")
      sql(s"""MERGE INTO $t t
              USING (SELECT id, concat('s', id) AS v FROM range(30, 60)) s
              ON t.id = s.id
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")
      val gt = load(ns)
      // every live file holds one bucket, and its __bucket stat names it
      val buckets = gt.planFiles(gt.currentVersion).map { f =>
        val b = f.min(GraftTable.BucketStatKey).toInt
        spark.read.parquet(s"${gt.root}/${f.path}").collect()
          .forall(r => GraftTable.bucketOf(r.getLong(0), 4) == b)
      }
      (rows(t), buckets.forall(identity))
    } match {
      case (got, oneBucketPerFile) =>
        assert(got.size == 60 && got.contains("[45,s45]") && got.contains("[5,v5]"), got)
        assert(oneBucketPerFile)
    }
  }

  test("no WHEN MATCHED clause: a target row matching two source rows stays as it is, once") {
    val got = samePaths { ns =>
      val t = s"gmp.$ns.t"
      sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
      sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
      sql(s"""MERGE INTO $t t
              USING (SELECT * FROM VALUES (1), (1) AS s(id)) s
              ON t.id = s.id
              WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'gone'""")
      rows(t)
    }
    assert(got == Seq("[1,a]", "[2,gone]"), got)
  }

  test("task path: NOT MATCHED BY SOURCE rewrites only the files it changes") {
    val ns = freshNamespace()
    sql(s"CREATE TABLE gmp.$ns.t (id BIGINT, v STRING)")
    for (lo <- Seq(0, 10, 20))
      sql(s"INSERT INTO gmp.$ns.t SELECT id, 'v' FROM range($lo, ${lo + 10}, 1, 1)")
    val gt = load(ns)
    val third = gt.history.last.added.map(_.path)
    sql(s"""MERGE INTO gmp.$ns.t t
            USING (SELECT * FROM VALUES (1, 'w') AS s(id, v)) s
            ON t.id = s.id
            WHEN NOT MATCHED BY SOURCE AND t.id >= 25 THEN DELETE""")
    assert(gt.history.last.op == "merge")
    assert(gt.history.last.removed == third, gt.history.last)
    assert(sql(s"SELECT count(*) FROM gmp.$ns.t").head().getLong(0) == 25L)
  }

  test("task path: a cardinality violation commits nothing and leaves no written file") {
    val ns = freshNamespace()
    sql(s"CREATE TABLE gmp.$ns.t (id BIGINT, v STRING)")
    sql(s"INSERT INTO gmp.$ns.t SELECT id, 'v' FROM range(0, 10, 1, 1)")
    sql(s"INSERT INTO gmp.$ns.t SELECT id, 'v' FROM range(10, 20, 1, 1)")
    val gt = load(ns)
    val data = Paths.get(gt.root, "data")
    def writeDirs: Set[String] = Files.list(data).iterator().asScala.map(_.getFileName.toString).toSet
    val (v, dirs) = (gt.currentVersion, writeDirs)
    // id 3 rewrites the first file; id 15 matches twice in the second,
    // which fails the job after the first file's rewrite was written —
    // that file and the write directory go, and no insert is written
    val e = intercept[Exception](sql(
      s"""MERGE INTO gmp.$ns.t t
          USING (SELECT * FROM VALUES (3, 'x'), (15, 'y'), (15, 'z'), (50, 'n') AS s(id, v)) s
          ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET v = s.v
          WHEN NOT MATCHED THEN INSERT *"""))
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    assert(gt.currentVersion == v)
    assert(writeDirs == dirs, writeDirs -- dirs)
  }
}
