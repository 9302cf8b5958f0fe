package graft

import graft.sql.{GraftSql, TrinoDialect}

/** Trino-dialect entry point: rewrites, statement splitting, scripted
  * execution (trino-cli --execute parity, walden tf/test-hive.sh).
  */
class SqlSpec extends SparkSpec {

  test("graft_match_recognize TVF: SQL-level row patterns") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    Seq((1, 1, 10.0), (1, 2, 8.0), (1, 3, 6.0), (1, 4, 9.0), (1, 5, 11.0),
      (2, 1, 1.0), (2, 2, 2.0))
      .toDF("k", "seq", "v").createOrReplaceTempView("mr_base")
    spark.sql("""CREATE OR REPLACE TEMP VIEW mr_in AS
      SELECT k, seq, v, v - LAG(v) OVER (PARTITION BY k ORDER BY seq) AS delta
      FROM mr_base""")
    val rows = spark.sql("""
      SELECT * FROM graft_match_recognize(
        'mr_in', 'k', 'seq',
        'D:delta < 0;U:delta > 0',
        'D+ U+',
        'n_down:count:D,n_up:count:U,bottom:last:D:v')""").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Int]("k") == 1 && r.getAs[Long]("n_down") == 2L
      && r.getAs[Long]("n_up") == 2L && r.getAs[Double]("bottom") == 6.0, r)
    // 'all' mode: per-row classifiers for the same match
    val all = spark.sql("""
      SELECT * FROM graft_match_recognize(
        'mr_in', 'k', 'seq',
        'D:delta < 0;U:delta > 0',
        'D+ U+', '', 'all')""").collect()
      .map(x => (x.getAs[Int]("seq"), x.getAs[String]("classifier"))).sorted
    assert(all.toSeq == Seq((2, "D"), (3, "D"), (4, "U"), (5, "U")), all.toSeq)
  }


  test("dialect rewrites") {
    assert(TrinoDialect.rewrite("SELECT date_diff('day', a, b)")
      == "SELECT date_diff(DAY, a, b)")
    assert(TrinoDialect.rewrite("SELECT date_add('hour', 3, ts)")
      == "SELECT timestampadd(HOUR, 3, ts)")
    assert(TrinoDialect.rewrite("SELECT approx_percentile(x, 0.5)")
      == "SELECT percentile_approx(x, 0.5)")
    // strings containing the pattern inside quotes are acceptable
    // collateral (documented); plain SQL is untouched
    assert(TrinoDialect.rewrite("SELECT datediff(a, b)") == "SELECT datediff(a, b)")
    // round-12 type/relation spellings (all probed as Spark parser
    // failures before the rewrite existed)
    assert(TrinoDialect.rewrite("SELECT CAST(1 AS VARCHAR) AS s")
      == "SELECT CAST(1 AS STRING) AS s")
    assert(TrinoDialect.rewrite("SELECT CAST(s AS VARCHAR(10))")
      == "SELECT CAST(s AS VARCHAR(10))") // parameterized: native, untouched
    assert(TrinoDialect.rewrite("SELECT CAST(NULL AS VARBINARY)")
      == "SELECT CAST(NULL AS BINARY)")
    assert(TrinoDialect.rewrite("SELECT CAST(1 AS DOUBLE PRECISION)")
      == "SELECT CAST(1 AS DOUBLE)")
    assert(TrinoDialect.rewrite("SELECT * FROM t TABLESAMPLE BERNOULLI(12.5)")
      == "SELECT * FROM t TABLESAMPLE (12.5 PERCENT)")
    assert(TrinoDialect.rewrite("SELECT * FROM t TABLESAMPLE SYSTEM(10)")
      == "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(TrinoDialect.rewrite("SELECT ROW(1, 'a') AS r")
      == "SELECT struct(1, 'a') AS r")
    // ROW inside a longer identifier or frame spec is untouched
    assert(TrinoDialect.rewrite("SELECT ROW_NUMBER() OVER (ORDER BY x)")
      == "SELECT ROW_NUMBER() OVER (ORDER BY x)")
    assert(TrinoDialect.rewrite("ROWS BETWEEN 1 PRECEDING AND CURRENT ROW")
      == "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW")
  }

  test("ROW in a CAST type position becomes STRUCT<...>, not struct( (r12 advice)") {
    assert(TrinoDialect.rewrite("SELECT CAST(x AS ROW(a INT, b VARCHAR)) FROM t")
      == "SELECT CAST(x AS STRUCT<a INT, b STRING>) FROM t")
    // nested ROW types convert recursively; a constructor in the same
    // statement still becomes struct(
    assert(TrinoDialect.rewrite(
      "SELECT CAST(x AS ROW(a ROW(b INT))) AS c, ROW(1, 2) AS r FROM t")
      == "SELECT CAST(x AS STRUCT<a STRUCT<b INT>>) AS c, struct(1, 2) AS r FROM t")
    // end to end through the parser (the r12 failure mode: struct(a INT)
    // was unparseable)
    val row = graft.sql.GraftSql.execute(spark,
      "SELECT CAST(ROW(1, 'x') AS ROW(a BIGINT, b VARCHAR)) AS c").head.head()
    assert(row.getStruct(0).getLong(0) == 1L)
    assert(row.getStruct(0).getString(1) == "x")
  }

  test("round-12 dialect spellings execute end to end") {
    val s = spark
    val df = graft.sql.GraftSql.execute(s,
      "SELECT CAST(7 AS VARCHAR) AS sv, ROW(1, 'a') AS r, " +
        "CAST(NULL AS VARBINARY) AS b").head
    val row = df.head()
    assert(row.getString(0) == "7")
    assert(row.getStruct(1).get(0) == 1)
    assert(row.isNullAt(2))
    val sampled = graft.sql.GraftSql.execute(s,
      "SELECT COUNT(*) AS n FROM (SELECT explode(sequence(1, 1000)) AS x) " +
        "TABLESAMPLE BERNOULLI(50)").head.head().getLong(0)
    assert(sampled > 300 && sampled < 700, s"sampled $sampled of 1000 at 50%")
  }

  test("Trino SQL routines: CREATE FUNCTION lowers to a session SQL UDF (r14)") {
    val s = spark
    // the Trino routine shape, scripted: unqualified names become
    // TEMPORARY (session parity for Trino's catalog routines); Spark 4
    // natively parses RETURNS/LANGUAGE SQL/DETERMINISTIC and inlines
    // the RETURN expression into the plan (no UDF object, full codegen)
    val out = graft.sql.GraftSql.execute(s,
      """CREATE FUNCTION meters_to_feet(m DOUBLE)
           RETURNS DOUBLE
           LANGUAGE SQL DETERMINISTIC
           RETURN m * 3.28084;
         CREATE OR REPLACE FUNCTION bucketize(v BIGINT, w BIGINT)
           RETURNS BIGINT
           RETURN CAST(v / w AS BIGINT) * w;
         SELECT meters_to_feet(2.0) AS ft, bucketize(1234, 100) AS b""").last.head()
    assert(math.abs(out.getDouble(0) - 6.56168) < 1e-9, out.toString)
    assert(out.getLong(1) == 1200L, out.toString)
    // routines compose over real tables and with other dialect
    // rewrites in the same script
    val n = graft.sql.GraftSql.execute(s,
      s"""CREATE OR REPLACE FUNCTION is_big(q DOUBLE) RETURNS BOOLEAN RETURN q >= 30;
          SELECT CAST(COUNT(*) AS VARCHAR) AS n
          FROM parquet.`${sf()}/lineitem.parquet` WHERE is_big(l_quantity)""")
      .last.head().getString(0).toLong
    assert(n > 0)
    // a QUALIFIED name passes through untouched (it addresses a
    // catalog; the session catalog rejects it loudly rather than a
    // silent temp-function hijack)
    val e = intercept[Exception](graft.sql.GraftSql.execute(s,
      "CREATE FUNCTION some_cat.some_schema.f(x INT) RETURNS INT RETURN x"))
    assert(e != null)
    // literals survive (the rewrite is literal-aware)
    val lit = graft.sql.GraftSql.execute(s,
      "SELECT 'CREATE FUNCTION f(x INT)' AS doc").head.head().getString(0)
    assert(lit == "CREATE FUNCTION f(x INT)")
  }

  test("statement splitter respects quotes and comments") {
    val script =
      """CREATE TABLE x (s STRING); -- trailing; comment
        |INSERT INTO x VALUES ('a;b'), (';');
        |SELECT * FROM x""".stripMargin
    val stmts = TrinoDialect.splitStatements(script)
    assert(stmts.size == 3, stmts.mkString("||"))
    assert(stmts(1).contains("'a;b'"))
  }

  test("statement splitter never splits inside block comments (nested)") {
    val stmts = TrinoDialect.splitStatements(
      "SELECT 1 /* a ; b /* nested ; */ still ; comment */ AS x; SELECT 2 AS y")
    assert(stmts.size == 2, stmts.mkString("||"))
    assert(stmts(0).endsWith("AS x") && stmts(1) == "SELECT 2 AS y", stmts.mkString("||"))
  }

  test("statement splitter keeps escaped quotes and quoted identifiers inside one statement") {
    // Spark's lexer honors backslash escapes in '..' and ".." (not in a
    // raw R'..'), and a backtick identifier may hold a ';'
    Seq("SELECT 'it\\'s; fine' AS s", "SELECT 1 AS `a;b`", "SELECT \"x\\\";y\" AS s",
        "SELECT R'C:\\' AS p").foreach { stmt =>
      val stmts = TrinoDialect.splitStatements(s"$stmt; SELECT 2 AS y")
      assert(stmts == Seq(stmt, "SELECT 2 AS y"), stmts.mkString("||"))
    }
  }

  test("scripted execution end-to-end (test-hive.sh shape)") {
    val results = GraftSql.execute(spark,
      """DROP TABLE IF EXISTS sql_spec_foo;
        |CREATE TABLE sql_spec_foo (key STRING, val BIGINT) USING parquet;
        |INSERT INTO sql_spec_foo VALUES ('a', 1), ('b', 2);
        |SELECT key, val FROM sql_spec_foo ORDER BY key""".stripMargin)
    val rows = results.last.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("a", 1L), ("b", 2L)))
    spark.sql("DROP TABLE sql_spec_foo")
  }

  test("statement splitter keeps a BEGIN ... END compound body, nested blocks included, whole") {
    assert(TrinoDialect.splitStatements("BEGIN SELECT 1; SELECT 2; END") ==
      Seq("BEGIN SELECT 1; SELECT 2; END"))
    val nested =
      """lbl: BEGIN
        |  DECLARE x INT DEFAULT 0;
        |  IF x = 0 THEN BEGIN SELECT CASE WHEN x = 0 THEN 'a' END; END; END IF;
        |  WHILE x < 2 DO SET x = x + 1; END WHILE;
        |  CASE x WHEN 2 THEN SELECT 'two'; ELSE SELECT 'other'; END CASE;
        |END""".stripMargin
    assert(TrinoDialect.splitStatements(s"SELECT 0 AS begin; $nested; SELECT 3") ==
      Seq("SELECT 0 AS begin", nested, "SELECT 3"))
  }

  test("scripted execution runs a BEGIN ... END script as one statement") {
    val results = GraftSql.execute(spark,
      "SELECT 0 AS a; BEGIN SELECT 1 AS b; SELECT 2 AS c; END")
    assert(results.size == 2)
    assert(results.map(_.collect().head.getInt(0)) == Seq(0, 2))
  }

  test("parameterized statements bind named args") {
    Tables.registerAll(spark, sf())
    val n = GraftSql.sqlWith(spark,
      "SELECT count(*) n FROM orders WHERE o_totalprice > :minPrice AND o_orderstatus = :status",
      Map("minPrice" -> 100000, "status" -> "O"))
      .collect().head.getLong(0)
    assert(n > 0)
  }

  test("dialect rewrites never touch string literals") {
    val in = "SELECT 'uses approx_percentile(x) and date_diff(''day'', a, b)' AS doc, " +
      "approx_percentile(v, 0.5) AS p, date_diff('hour', t1, t2) AS h FROM t"
    val out = TrinoDialect.rewrite(in)
    assert(out.contains("'uses approx_percentile(x) and date_diff(''day'', a, b)'"), out)
    assert(out.contains("percentile_approx(v, 0.5)"), out)
    assert(out.contains("date_diff(HOUR, t1, t2)"), out)
  }

  test("dialect rewrites never touch backslash-escaped or double-quoted literals") {
    Seq("'it\\'s approx_percentile(x)'", "\"approx_percentile(x)\"").foreach { lit =>
      val in = s"SELECT $lit AS doc, approx_percentile(v, 0.5) AS p FROM t"
      assert(TrinoDialect.rewrite(in) == s"SELECT $lit AS doc, percentile_approx(v, 0.5) AS p FROM t")
      assert(GraftSql.sql(spark, s"SELECT $lit AS doc").collect().head.getString(0) ==
        lit.substring(1, lit.length - 1).replace("\\'", "'"), lit)
    }
  }

  test("EXPLAIN ANALYZE returns the FINAL adaptive plan with real runtime metrics") {
    Tables.registerAll(spark, sf())
    val plan = graft.sql.GraftSql.sql(spark,
      "EXPLAIN ANALYZE SELECT r_name, count(*) FROM region JOIN nation ON r_regionkey = n_regionkey GROUP BY r_name")
      .collect().head.getString(0)
    assert(plan.contains("HashAggregate"), plan.take(500))
    // the plan must be the EXECUTED one, not the pre-execution estimate
    assert(plan.contains("isFinalPlan=true"), plan.take(500))
    // and metrics must be populated from the actual run (5 regions out)
    val metrics = plan.substring(plan.indexOf("== Runtime metrics =="))
    assert(metrics.contains("numOutputRows=5"), metrics.take(1500))
  }

  test("graft_table TVF: SQL read + time travel into the versioned store") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_tvf").resolve("t").toString
    val t = graft.store.GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.tag("v1")
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(graft.sql.GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM graft_table('$root')").collect().head.getLong(0) == 3L)
    assert(graft.sql.GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM graft_table('$root', 1)").collect().head.getLong(0) == 2L)
    assert(graft.sql.GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM graft_table('$root', 'v1')").collect().head.getLong(0) == 2L)
    // composes with ordinary SQL (join against the TVF)
    val j = graft.sql.GraftSql.sql(spark,
      s"SELECT g.v FROM graft_table('$root') g JOIN VALUES (3) AS k(id) ON g.id = k.id")
    assert(j.collect().map(_.getString(0)).toSeq == Seq("c"))
    // CDC diff TVF: the v1 -> v2 append shows up as one insert
    val ch = graft.sql.GraftSql.sql(spark,
      s"SELECT _change_type, id FROM graft_table_changes('$root', 1, 2)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ch == Set(("insert", 3L)))
  }

  test("TABLESAMPLE / Dataset.sample draw a seeded subset") {
    // the oracle-checked q24 uses a deterministic content-hash sample;
    // the native seeded surface is covered here (engine-seeded -> no
    // cross-engine oracle, assert proportions instead)
    val n = Tables(spark, sf(), "orders").count()
    val s1 = Tables(spark, sf(), "orders").sample(withReplacement = false, 0.1, seed = 42).count()
    val s2 = Tables(spark, sf(), "orders").sample(withReplacement = false, 0.1, seed = 42).count()
    assert(s1 == s2, "same seed must draw the same sample")
    assert(s1 > n / 20 && s1 < n / 5, s"expected ~10% of $n, got $s1")
    Tables(spark, sf(), "orders").createOrReplaceTempView("orders_ts")
    val ts = spark.sql("SELECT COUNT(*) AS c FROM orders_ts TABLESAMPLE (10 PERCENT) REPEATABLE (42)")
      .collect()(0).getLong(0)
    assert(ts > n / 20 && ts < n / 5, s"TABLESAMPLE expected ~10% of $n, got $ts")
  }

  test("AVG and non-null COUNT measures evaluate per SQL:2016 (round 10)") {
    import spark.implicits._
    // v carries a NULL so COUNT(A.v) and COUNT(A.*) must diverge and
    // AVG must skip the null row; seq is integral so AVG(A.seq)
    // exercises the exact BigInt-sum-then-divide path
    Seq((1L, 1, Some(10.0)), (1L, 2, None), (1L, 3, Some(4.0)),
        (2L, 1, Some(2.0)), (2L, 2, Some(6.0)))
      .toDF("k", "seq", "v").createOrReplaceTempView("mr_avg")
    val one = spark.sql("""
      SELECT k, mean_v, n_v, n_rows, mean_seq FROM mr_avg MATCH_RECOGNIZE (
        PARTITION BY k ORDER BY seq
        MEASURES AVG(A.v) AS mean_v, COUNT(A.v) AS n_v,
          COUNT(A.*) AS n_rows, AVG(A.seq) AS mean_seq
        PATTERN (A+) DEFINE A AS A.seq > 0
      )""").collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(one.toSet == Set((1L, 7.0, 2L, 3L, 2.0), (2L, 4.0, 2L, 2L, 1.5)),
      one.mkString(";"))
    // RUNNING semantics under ALL ROWS: the null row leaves both the
    // running mean and the running non-null count unchanged
    val run = spark.sql("""
      SELECT seq, ra, rc FROM mr_avg MATCH_RECOGNIZE (
        PARTITION BY k ORDER BY seq
        MEASURES RUNNING AVG(A.v) AS ra, RUNNING COUNT(A.v) AS rc
        ALL ROWS PER MATCH
        PATTERN (A+) DEFINE A AS A.seq > 0
      ) WHERE k = 1""").collect().map(r =>
        (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Double]), r.getLong(2)))
    assert(run.toSeq == Seq((1, Some(10.0), 1L), (2, Some(10.0), 1L),
      (3, Some(7.0), 2L)), run.mkString(";"))
  }

  test("Trino MATCH_RECOGNIZE clause: the SQL Lab shape parses and matches") {
    import spark.implicits._
    Seq((1L, 1, 10.0), (1L, 2, 8.0), (1L, 3, 6.0), (1L, 4, 9.0), (1L, 5, 11.0),
        (2L, 1, 5.0), (2L, 2, 7.0))
      .toDF("user_id", "seq", "price").createOrReplaceTempView("mr_ticks")
    // plain spark.sql — the injected parser path (no GraftSql wrapper)
    val out = spark.sql("""
      SELECT * FROM mr_ticks MATCH_RECOGNIZE (
        PARTITION BY user_id
        ORDER BY seq
        MEASURES FIRST(D.seq) AS start_seq, LAST(D.price) AS bottom,
          COUNT(D.*) AS n_down, LAST(U.price) AS peak
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (D+ U+)
        DEFINE D AS D.price < PREV(D.price), U AS U.price > PREV(U.price)
      )""").collect()
    // user 1: 10,8,6,9,11 -> D = {seq 2,3}, U = {4,5}, one V match;
    // user 2 only rises -> D+ never starts
    assert(out.length == 1, out.mkString(";"))
    val r = out.head
    assert((r.getLong(0), r.getInt(2), r.getDouble(3), r.getLong(4), r.getDouble(5)) ==
      ((1L, 2, 6.0, 2L, 11.0)), r)
    // ALL ROWS PER MATCH over a SUBQUERY source, through GraftSql (the
    // trino-cli path); classifier paints each matched row
    val all = GraftSql.sql(spark, """
      SELECT * FROM (SELECT user_id, seq, price FROM mr_ticks WHERE price < 100)
      MATCH_RECOGNIZE (
        PARTITION BY user_id
        ORDER BY seq
        ALL ROWS PER MATCH
        PATTERN (D+ U+)
        DEFINE D AS D.price < PREV(D.price), U AS U.price > PREV(U.price)
      )""").collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
    assert(all.toSeq == Seq((1L, 2, "D"), (1L, 3, "D"), (1L, 4, "U"), (1L, 5, "U")),
      all.mkString(";"))
    // undefined pattern symbols default to TRUE (Trino semantics);
    // bare SYM.col measure = final LAST
    val anyRow = spark.sql("""
      SELECT * FROM mr_ticks MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY seq
        MEASURES A.price AS last_price, COUNT(*) AS n
        PATTERN (A+)
        DEFINE A AS A.price > 0
      )""").collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    assert(anyRow.toSet == Set((1L, 11.0, 5L), (2L, 7.0, 2L)), anyRow.mkString(";"))
    // MATCH_NUMBER() measures ride as post-select aliases of match_num
    val mn = spark.sql("""
      SELECT mn, n FROM mr_ticks MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY seq
        MEASURES MATCH_NUMBER() AS mn, COUNT(*) AS n
        PATTERN (A+) DEFINE A AS A.price > 0
      )""").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mn.toSet == Set((1L, 5L), (1L, 2L)), mn.mkString(";"))
    // unsupported Trino forms are LOUD, with the feature named
    def failsWith(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage != null && e.getMessage.contains(needle),
        s"wanted '$needle' in: ${e.getMessage}")
    }
    // round 10: FIRST/LAST(sym.col) in DEFINE is dialect now — the
    // classifier-history funnel runs end to end through plain spark.sql
    // (user 1 falls 10→8→6 then recovers to 9 > the fall's start 8)
    val hist = spark.sql("""
      SELECT * FROM mr_ticks MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY seq
        MEASURES FIRST(D.price) AS dip_start, COUNT(D.*) AS n_down,
          LAST(U.price) AS rebound
        ONE ROW PER MATCH
        PATTERN (D+ U)
        DEFINE D AS D.price < PREV(D.price), U AS U.price > FIRST(D.price)
      )""").collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(hist.toSeq == Seq((1L, 8.0, 2L, 9.0)), hist.mkString(";"))
    // occurrence arguments + PREV in MEASURES (round 10): FIRST(D, 1)
    // is the SECOND declining row; PREV(D.price) reads one partition
    // row before LAST(D) — here the first dip (8), via the lag column
    val occ = spark.sql("""
      SELECT * FROM mr_ticks MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY seq
        MEASURES FIRST(D.price, 1) AS second_dip, PREV(D.price) AS before_bottom
        ONE ROW PER MATCH
        PATTERN (D+ U)
        DEFINE D AS D.price < PREV(D.price), U AS U.price > FIRST(D.price)
      )""").collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    assert(occ.toSeq == Seq((1L, 6.0, 8.0)), occ.mkString(";"))
    // anchors and exclusions pass through the rewriter into the NFA
    // (round 10): ^ pins the match to the partition start; the {- -}
    // exclusion suppresses D rows from ALL ROWS output while COUNT(*)
    // still counts them
    val excl = spark.sql("""
      SELECT * FROM mr_ticks MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY seq
        MEASURES FINAL COUNT(*) AS n
        ALL ROWS PER MATCH
        PATTERN (^ S {- D+ -} U)
        DEFINE S AS S.price > 0, D AS D.price < PREV(D.price),
               U AS U.price > PREV(U.price)
      )""").collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[String]("classifier"), r.getAs[Long]("n")))
    // user 1: 10,8,6,9,... -> S=seq1, D=seq2,3 (suppressed), U=seq4;
    // user 2: 5,7 -> S=seq1, D+ needs a decline -> no match
    assert(excl.toSeq == Seq((1L, 1, "S", 4L), (1L, 4, "U", 4L)), excl.mkString(";"))
    // cross-symbol bare references carry SQL:2016 RUNNING LAST
    // semantics (round 10 — previously they silently read the CURRENT
    // row, which here would make U.price > D.price always false and
    // kill the match): U.price > D.price means "above the bottom",
    // so both rising rows join the match
    val cross = spark.sql("""
      SELECT * FROM mr_ticks MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY seq
        MEASURES COUNT(U.*) AS n_up, LAST(D.price) AS bottom
        ONE ROW PER MATCH
        PATTERN (D+ U+)
        DEFINE D AS D.price < PREV(D.price), U AS U.price > D.price
      )""").collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(cross.toSeq == Seq((1L, 2L, 6.0)), cross.mkString(";"))
    // nested navigation executes: PREV(FIRST(D.price)) is the row
    // BEFORE the first decline — the pre-fall peak. From seq 2 the
    // peak is 10 and 9 never clears it; the match must restart at
    // seq 3 where the "peak" is 8 and 9 clears it (n_down = 1)
    val nested = spark.sql("""
      SELECT * FROM mr_ticks MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY seq
        MEASURES COUNT(D.*) AS n_down, FIRST(U.price) AS rebound,
          PREV(FIRST(D.price)) AS peak
        ONE ROW PER MATCH
        PATTERN (D+ U)
        DEFINE D AS D.price < PREV(D.price),
               U AS U.price > PREV(FIRST(D.price))
      )""").collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(nested.toSeq == Seq((1L, 1L, 9.0, 8.0)), nested.mkString(";"))
    // navigation over arbitrary expressions executes (round 10 — the
    // dialect's last named rejection closed): FIRST(D.price * 1.1)
    // materializes as a synthetic source column; the computed MEASURES
    // SUM counts dip rows below 9. User 1 falls 10→8→6 then hits 9:
    // the leftmost viable start is seq 2 (9 > 8 * 1.1 = 8.8), so
    // D = {8, 6} — both below 9 — and the rebound is 9
    val exprNav = spark.sql("""
      SELECT * FROM mr_ticks MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY seq
        MEASURES SUM(CAST(D.price < 9 AS INT)) AS n_below9,
          LAST(U.price) AS rebound
        ONE ROW PER MATCH
        PATTERN (D+ U)
        DEFINE D AS D.price < PREV(D.price), U AS U.price > FIRST(D.price * 1.1)
      )""").collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(exprNav.toSeq == Seq((1L, 2L, 9.0)), exprNav.mkString(";"))
    // two-variable expressions inside ONE navigation stay a named
    // rejection (the SQL:2016 single-variable rule)
    failsWith("""SELECT * FROM mr_ticks MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY seq
        PATTERN (A B) DEFINE A AS PREV(A.price + B.price) > 0)""",
      "SAME pattern variable")
    // round 9: DESC ordering and SKIP TO NEXT ROW are dialect, not
    // errors — PREV navigates the DESC stream, and skip-to-next emits
    // one match per qualifying start (overlaps)
    val desc = spark.sql("""
      SELECT * FROM mr_ticks MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY seq DESC
        MEASURES FIRST(D.seq) AS start_seq, COUNT(D.*) AS n_down
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (D+ U+)
        DEFINE D AS D.price < PREV(D.price), U AS U.price > PREV(U.price)
      )""").collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
    // user 1 DESC stream: seq 5(11),4(9),3(6),2(8),1(10): D rows are
    // seq4,seq3 (9<11, 6<9), U rows seq2,seq1 (8>6, 10>8) -> matches
    // start at seq4 (n_down=2) and seq3 (n_down=1, overlap)
    assert(desc.toSet == Set((1L, 4, 2L), (1L, 3, 1L)), desc.mkString(";"))
  }

  test("Trino date_diff over real tables via dialect") {
    Tables.registerAll(spark, sf())
    val n = GraftSql.sql(spark,
      "SELECT count(*) c FROM orders WHERE date_diff('day', o_orderdate, TIMESTAMP'1998-01-01 00:00:00') > 365")
      .collect().head.getLong(0)
    assert(n > 0)
  }
}
