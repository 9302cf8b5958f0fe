package graft

import graft.serve.{PolicyEnforcement, QueryService, ReportScheduler}

/** Async query service: Celery/SQL-Lab parity — async lifecycle,
  * result cache TTL, feature flags, scheduler.
  */
class ServeSpec extends SparkSpec {

  /** Wait until `done` holds. The limit guards against a hang; it is
    * no speed check, being far above any wait in this suite on a loaded
    * host. Every property is asserted on the state reached. */
  private def awaitState(what: String)(done: => Boolean): Unit = {
    val limit = System.currentTimeMillis() + 600000L
    while (!done) {
      assert(System.currentTimeMillis() < limit, s"never reached: $what")
      Thread.sleep(20)
    }
  }

  test("async submit -> finished with rows; cache hit on repeat") {
    Tables.registerAll(spark, sf())
    val svc = new QueryService(spark, workers = 2, cacheTtlSeconds = 300)
    try {
      val id = svc.submit("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
      svc.await(id) match {
        case f: svc.Finished =>
          assert(f.rows.size == 5 && !f.fromCache && f.columns == Seq("r_regionkey", "r_name"))
        case other => fail(s"unexpected: $other")
      }
      svc.sql("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") match {
        case f: svc.Finished => assert(f.fromCache && f.rows.size == 5)
        case other => fail(s"unexpected: $other")
      }
      assert(svc.cacheSize == 1)
    } finally svc.close()
  }

  test("cache never collides distinct literals and never caches DDL") {
    Tables.registerAll(spark, sf())
    val svc = new QueryService(spark)
    try {
      val a = svc.sql("SELECT count(*) AS n FROM region WHERE r_name = 'AFRICA'") match {
        case f: svc.Finished => f.rows.head.getLong(0); case o => fail(s"$o")
      }
      // same statement, lowercased literal: must NOT be served from cache
      val b = svc.sql("SELECT count(*) AS n FROM region WHERE r_name = 'africa'") match {
        case f: svc.Finished => assert(!f.fromCache); f.rows.head.getLong(0)
        case o => fail(s"$o")
      }
      assert(a == 1L && b == 0L)
      // side-effecting statements re-execute every time
      svc.sql("CREATE OR REPLACE TEMP VIEW cache_probe AS SELECT 1 AS x")
      spark.catalog.dropTempView("cache_probe")
      svc.sql("CREATE OR REPLACE TEMP VIEW cache_probe AS SELECT 1 AS x") match {
        case f: svc.Finished => assert(!f.fromCache); case o => fail(s"$o")
      }
      assert(spark.catalog.tableExists("cache_probe"))
      spark.catalog.dropTempView("cache_probe")
    } finally svc.close()
  }

  test("plan-fingerprint cache: whitespace/comment/alias variants hit, literals miss") {
    Tables.registerAll(spark, sf())
    val svc = new QueryService(spark, cacheTtlSeconds = 300)
    try {
      svc.sql("SELECT r_name, count(*) AS n FROM region WHERE r_regionkey >= 2 GROUP BY r_name") match {
        case f: svc.Finished => assert(!f.fromCache); case o => fail(s"$o")
      }
      // whitespace + comment variant of the SAME query: plan key hits
      svc.sql("""SELECT   r_name, -- a comment
                 count(*)    AS n
                 FROM region    WHERE r_regionkey >= 2
                 GROUP BY r_name""") match {
        case f: svc.Finished => assert(f.fromCache, "whitespace/comment variant must hit")
        case o => fail(s"$o")
      }
      // alias variant (different output NAME, same canonical plan
      // modulo alias): canonicalization strips alias names, so it hits
      svc.sql("SELECT r_name, count(*) AS cnt FROM region WHERE r_regionkey >= 2 GROUP BY r_name") match {
        case f: svc.Finished =>
          assert(f.fromCache, "alias variant must hit")
          // but served under ITS OWN output names, not the first query's
          assert(f.columns == Seq("r_name", "cnt"), f.columns)
        case o => fail(s"$o")
      }
      // different literal: different plan, must miss
      svc.sql("SELECT r_name, count(*) AS n FROM region WHERE r_regionkey >= 3 GROUP BY r_name") match {
        case f: svc.Finished => assert(!f.fromCache, "different literal must miss")
        case o => fail(s"$o")
      }
      assert(svc.cacheSize == 2)
    } finally svc.close()
  }

  test("opaque-plan cache: MATCH_RECOGNIZE repeats hit on the text key, distinct specs never collide (r11)") {
    // the matcher lowers to a MapPartitions whose canonical toString
    // embeds the lambda's instance identity hash — plan keys are
    // unstable for such queries, so the service keys them on
    // literal-preserving normalized text instead (QueryService
    // planFingerprint). Before r11 every MR submission was a miss.
    Tables.registerAll(spark, sf())
    val svc = new QueryService(spark, cacheTtlSeconds = 300)
    try {
      def mr(pat: String) = s"""SELECT COUNT(*) AS n FROM (
        SELECT * FROM (SELECT user_id, ts, event_id, value FROM events
                       WHERE event_type = 'purchase') MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts, event_id
          MEASURES COUNT(D.*) AS nd ONE ROW PER MATCH
          PATTERN ($pat)
          DEFINE D AS D.value < PREV(D.value), U AS U.value > PREV(U.value)))"""
      val a1 = svc.sql(mr("D+ U")).asInstanceOf[svc.Finished]
      assert(!a1.fromCache)
      val a2 = svc.sql(mr("D+ U")).asInstanceOf[svc.Finished]
      assert(a2.fromCache, "identical MR repeat must hit the text key")
      assert(a2.rows == a1.rows)
      // keyword-case + whitespace variant still hits (normalization
      // outside literals)
      val a3 = svc.sql(mr("D+ U").replace("SELECT", "select")
        .replaceAll("\n\\s*", " ")).asInstanceOf[svc.Finished]
      assert(a3.fromCache, "case/whitespace MR variant must hit")
      // a DIFFERENT pattern over the same input shares the lambda call
      // site — must NOT be served the first spec's rows
      val b = svc.sql(mr("D U+")).asInstanceOf[svc.Finished]
      assert(!b.fromCache, "distinct MR spec must miss")
      // literal case inside the spec's quoted strings distinguishes:
      // same shape, different event_type literal
      val c1 = svc.sql(mr("D+ U").replace("'purchase'", "'VIEW'")).asInstanceOf[svc.Finished]
      assert(!c1.fromCache)
      val c2 = svc.sql(mr("D+ U").replace("'purchase'", "'view'")).asInstanceOf[svc.Finished]
      assert(!c2.fromCache, "literal-case variants must not collide")
    } finally svc.close()
  }

  test("failures are reported, not thrown") {
    val svc = new QueryService(spark)
    try {
      svc.sql("SELECT * FROM definitely_not_a_table") match {
        case f: svc.Failed => assert(f.error.nonEmpty)
        case other => fail(s"unexpected: $other")
      }
    } finally svc.close()
  }

  test("allow_dml=false blocks INSERT (walden per-DB flag parity)") {
    val svc = new QueryService(spark, allowDml = false)
    try {
      svc.sql("INSERT INTO some_table VALUES (1)") match {
        case f: svc.Failed => assert(f.error.contains("DML disabled"))
        case other => fail(s"unexpected: $other")
      }
    } finally svc.close()
  }

  test("CTE-prefixed DML is gated and never cached") {
    // `WITH ... INSERT` starts with 'with': it must still hit the
    // allow_dml gate and must never be served from cache
    val svc = new QueryService(spark, allowDml = false)
    try {
      svc.sql("WITH src AS (SELECT 1 AS x) INSERT INTO some_table SELECT * FROM src") match {
        case f: svc.Failed => assert(f.error.contains("DML disabled"), f.error)
        case other => fail(s"unexpected: $other")
      }
    } finally svc.close()
    val svc2 = new QueryService(spark)
    try {
      // a CTE with a column list must still classify as a read (the
      // `(a, b)` parens are not the CTE body) and stay cacheable
      svc2.sql("WITH s(a, b) AS (SELECT 1, 2) SELECT a + b AS n FROM s") match {
        case f: svc2.Finished => assert(!f.fromCache && f.rows.head.getInt(0) == 3)
        case o => fail(s"$o")
      }
      svc2.sql("WITH s(a, b) AS (SELECT 1, 2) SELECT a + b AS n FROM s") match {
        case f: svc2.Finished => assert(f.fromCache) // reads still cache
        case o => fail(s"$o")
      }
    } finally svc2.close()
  }

  test("nested bracketed comments cannot hide DML from the gate") {
    // Spark's lexer nests /* */ (SQL standard): a comment like
    // /* a /* b */ c */ swallows the whole prefix, so a naive scanner
    // that stops at the first */ would misclassify the INSERT
    val svc = new QueryService(spark, allowDml = false)
    try {
      svc.sql("/* a /* b */ c */ INSERT INTO some_table VALUES (1)") match {
        case f: svc.Failed => assert(f.error.contains("DML disabled"), f.error)
        case other => fail(s"unexpected: $other")
      }
      svc.sql("-- note ( \nINSERT INTO some_table VALUES (1)") match {
        case f: svc.Failed => assert(f.error.contains("DML disabled"), f.error)
        case other => fail(s"unexpected: $other")
      }
      svc.sql("WITH a AS (\n SELECT 1 AS x -- tally (\n) INSERT INTO t SELECT x FROM a") match {
        case f: svc.Failed => assert(f.error.contains("DML disabled"), f.error)
        case other => fail(s"unexpected: $other")
      }
    } finally svc.close()
  }

  test("impersonation: per-user sessions see distinct data, caches never cross") {
    import org.apache.spark.sql.SparkSession
    // per-user view hook: each user's session gets a `my_orders` view
    // filtered to their own rows (Superset impersonate_user parity)
    val hook = (s: SparkSession, user: String) => {
      val n = if (user == "alice") 3 else 1
      s.range(n).toDF("x").createOrReplaceTempView("my_orders")
      ()
    }
    val svc = new QueryService(spark, onUserSession = hook)
    try {
      def countFor(user: String) = svc.sql("SELECT COUNT(*) AS n FROM my_orders", user) match {
        case f: svc.Finished => (f.rows.head.getLong(0), f.fromCache)
        case o => fail(s"$o")
      }
      assert(countFor("alice") == ((3L, false)))
      assert(countFor("bob") == ((1L, false))) // same SQL, different visibility, no cache bleed
      assert(countFor("alice") == ((3L, true))) // alice's repeat hits HER cache entry
      // execution identity is visible to the session
      svc.sql("SELECT 1 AS one", "alice") match {
        case f: svc.Finished => assert(!f.fromCache); case o => fail(s"$o")
      }
      // the parent session's namespace is untouched by user views
      assert(!spark.catalog.tableExists("my_orders"))
    } finally svc.close()
  }

  test("session eviction rebuilds user views and purges the user's cache") {
    import org.apache.spark.sql.SparkSession
    val calls = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
    val hook = (s: SparkSession, u: String) => {
      val n = calls.computeIfAbsent(u, _ => new java.util.concurrent.atomic.AtomicInteger())
        .incrementAndGet()
      s.range(n).toDF("x").createOrReplaceTempView("my_view")
      ()
    }
    val svc = new QueryService(spark, onUserSession = hook, maxUserSessions = 2)
    try {
      def q(user: String) = svc.sql("SELECT COUNT(*) AS n FROM my_view", user) match {
        case f: svc.Finished => (f.rows.head.getLong(0), f.fromCache)
        case o => fail(s"$o")
      }
      assert(q("u1") == ((1L, false)))
      assert(q("u1") == ((1L, true))) // cached while resident
      q("u2"); q("u3") // cap 2 -> evicts u1
      // u1's repeat must NOT see the stale cache (purged on eviction)
      // and the rebuilt session re-ran the hook (2 rows now)
      assert(q("u1") == ((2L, false)))
    } finally svc.close()
  }

  test("thrift endpoint serves JDBC clients (walden's BI wire parity)") {
    val port = 10000 + scala.util.Random.nextInt(20000)
    val server = graft.serve.GraftServer.start(spark, port)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      // the server needs a moment to bind
      val deadline = System.currentTimeMillis() + 60000
      var conn: java.sql.Connection = null
      while (conn == null && System.currentTimeMillis() < deadline) {
        try conn = java.sql.DriverManager.getConnection(
          s"jdbc:hive2://localhost:$port/default", "graft", "")
        catch { case _: Exception => Thread.sleep(500) }
      }
      assert(conn != null, "could not connect to thrift endpoint")
      try {
        val st = conn.createStatement()
        // plain SQL over a raw parquet path — no session-local state needed
        val rs = st.executeQuery(
          s"SELECT count(*) AS n FROM parquet.`${sf()}/region.parquet`")
        assert(rs.next() && rs.getLong(1) == 5L)
        // graft dialect functions are visible through the wire
        val rs2 = st.executeQuery("SELECT strpos('hello', 'l') AS p")
        assert(rs2.next() && rs2.getInt(1) == 3)
        // the Trino MATCH_RECOGNIZE clause parses THROUGH THE WIRE
        // (r9 verdict #5): the injected parser is session-extension
        // state, so the SQL Lab user typing the clause over JDBC gets
        // the same rewrite as in-process spark.sql — including the
        // round-10 FIRST() classifier-history navigation
        val rs3 = st.executeQuery("""
          SELECT * FROM (
            SELECT * FROM VALUES (1, 1, 10.0), (1, 2, 8.0), (1, 3, 6.0),
              (1, 4, 9.0), (2, 1, 5.0), (2, 2, 4.0) AS t(k, seq, v)
          ) MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY seq
            MEASURES FIRST(D.v) AS dip_start, COUNT(D.*) AS n_down,
              LAST(U.v) AS rebound
            ONE ROW PER MATCH
            PATTERN (D+ U)
            DEFINE D AS D.v < PREV(D.v), U AS U.v > FIRST(D.v)
          )""")
        assert(rs3.next(), "MATCH_RECOGNIZE over JDBC returned no rows")
        assert(rs3.getInt("k") == 1 && rs3.getDouble("dip_start") == 8.0 &&
          rs3.getLong("n_down") == 2L && rs3.getDouble("rebound") == 9.0,
          "wrong MATCH_RECOGNIZE row over JDBC")
        assert(!rs3.next(), "k=2 never recovers above its fall start; one row only")
        // round-12 dialect relations parse through the wire too — the
        // same injected-parser seam: JSON_TABLE flattens a document,
        // UNNEST zips arrays with ordinality
        val rs4 = st.executeQuery("""
          SELECT t.ln, t.qty FROM (SELECT '[{"ln":1,"qty":2.5},{"ln":2,"qty":4.0}]' AS doc) d,
            JSON_TABLE(d.doc, 'lax $[*]' COLUMNS (
              ln INTEGER PATH 'lax $.ln', qty DOUBLE PATH 'lax $.qty')) AS t
          ORDER BY t.ln""")
        assert(rs4.next() && rs4.getInt(1) == 1 && rs4.getDouble(2) == 2.5)
        assert(rs4.next() && rs4.getInt(1) == 2 && rs4.getDouble(2) == 4.0)
        assert(!rs4.next())
        val rs5 = st.executeQuery("""
          SELECT u.x, u.pos FROM (SELECT array('a','b') AS arr) r
            CROSS JOIN UNNEST(r.arr) WITH ORDINALITY AS u(x, pos)
          ORDER BY u.pos""")
        assert(rs5.next() && rs5.getString(1) == "a" && rs5.getLong(2) == 1L)
        assert(rs5.next() && rs5.getString(1) == "b" && rs5.getLong(2) == 2L)
        assert(!rs5.next())
        // round-13 dialect through the same wire: JSON_TABLE NESTED
        // PATH (OUTER default plan pads the childless parent) and the
        // array-of-rows UNNEST (positional alias splat)
        val rs6 = st.executeQuery("""
          SELECT t.okey, t.ln FROM
            (SELECT '[{"okey":10,"lines":[{"ln":1}]},{"okey":11}]' AS doc) d,
            JSON_TABLE(d.doc, 'lax $[*]' COLUMNS (
              okey BIGINT PATH 'lax $.okey',
              NESTED PATH 'lax $.lines[*]' COLUMNS (ln INTEGER PATH 'lax $.ln'))) AS t
          ORDER BY t.okey""")
        assert(rs6.next() && rs6.getLong(1) == 10L && rs6.getInt(2) == 1)
        assert(rs6.next() && rs6.getLong(1) == 11L && { rs6.getInt(2); rs6.wasNull() })
        assert(!rs6.next())
        val rs7 = st.executeQuery("""
          SELECT u.a, u.b, u.c FROM (SELECT 1 AS one) r,
            UNNEST(array(struct(1, 'x', 2.5D), struct(2, 'y', 4.0D))) AS u(a, b, c)
          ORDER BY u.a""")
        assert(rs7.next() && rs7.getInt(1) == 1 && rs7.getString(2) == "x" &&
          rs7.getDouble(3) == 2.5)
        assert(rs7.next() && rs7.getInt(1) == 2 && rs7.getString(2) == "y" &&
          rs7.getDouble(3) == 4.0)
        assert(!rs7.next())
        // sibling UNION plan + a column default, same wire
        val rs8 = st.executeQuery("""
          SELECT t.a, t.b FROM
            (SELECT '[{"xs":[1],"ys":["p"]}]' AS doc) d,
            JSON_TABLE(d.doc, 'lax $[*]' COLUMNS (
              NESTED PATH 'lax $.xs[*]' COLUMNS (a INTEGER PATH 'lax $' DEFAULT -1 ON EMPTY),
              NESTED PATH 'lax $.ys[*]' COLUMNS (b VARCHAR PATH 'lax $'))) AS t
          ORDER BY t.a NULLS LAST""")
        assert(rs8.next() && rs8.getInt(1) == 1 && { rs8.getString(2); rs8.wasNull() })
        assert(rs8.next() && { rs8.getInt(1); rs8.wasNull() } && rs8.getString(2) == "p")
        assert(!rs8.next())
        // round-14 dialect through the same wire: the PLAN clause —
        // INNER drops the childless parent rs6's OUTER default padded
        val rs9 = st.executeQuery("""
          SELECT t.okey, t.ln FROM
            (SELECT '[{"okey":10,"lines":[{"ln":1}]},{"okey":11}]' AS doc) d,
            JSON_TABLE(d.doc, 'lax $[*]' AS r COLUMNS (
              okey BIGINT PATH 'lax $.okey',
              NESTED PATH 'lax $.lines[*]' AS l COLUMNS (ln INTEGER PATH 'lax $.ln'))
              PLAN (r INNER l)) AS t
          ORDER BY t.okey""")
        assert(rs9.next() && rs9.getLong(1) == 10L && rs9.getInt(2) == 1)
        assert(!rs9.next(), "PLAN (r INNER l) must drop the line-less order over JDBC")
      } finally conn.close()

      // --- r11 verdict #6, same server boot (HiveThriftServer2 is
      // JVM-static: a second startWithContext in one test JVM is
      // unreliable): DDL cycle against the versioned catalog + policied
      // reads for two impersonated identities, all over the wire. Each
      // JDBC connection is an isolated newSession() fork, so
      // per-connection SETs play the role walden's authenticated proxy
      // plays (this devserver-parity endpoint is unauthenticated, like
      // the reference's: identity is client-asserted).
      val w = java.nio.file.Files.createTempDirectory("polwire").toString
      PolicyEnforcement.install("wire-test", Map("polwire.db.accts" ->
        QueryService.TablePolicy(
          rowFilter = u => Some(s"owner = '$u'"),
          columnMasks = Map("balance" -> "CAST(-1.0 AS DOUBLE)"))))
      def connect(user: String): java.sql.Connection = {
        val deadline2 = System.currentTimeMillis() + 60000
        var c: java.sql.Connection = null
        while (c == null && System.currentTimeMillis() < deadline2) {
          try c = java.sql.DriverManager.getConnection(
            s"jdbc:hive2://localhost:$port/default", user, "")
          catch { case _: Exception => Thread.sleep(500) }
        }
        assert(c != null, s"could not connect as $user")
        val st = c.createStatement()
        st.execute(s"SET spark.sql.catalog.polwire=${classOf[graft.catalog.GraftCatalog].getName}")
        st.execute(s"SET spark.sql.catalog.polwire.warehouse=$w")
        st.close()
        c
      }
      // the admin connection runs the DDL cycle against the versioned
      // catalog, over the wire
      val admin = connect("graft")
      val ast = admin.createStatement()
      ast.execute("CREATE NAMESPACE polwire.db")
      ast.execute("CREATE TABLE polwire.db.accts (id BIGINT, owner STRING, balance DOUBLE)")
      ast.execute("INSERT INTO polwire.db.accts VALUES " +
        "(1, 'alice', 10.0), (2, 'bob', 20.0), (3, 'alice', 30.0)")
      val rsAdmin = ast.executeQuery(
        "SELECT COUNT(*) AS n, MAX(balance) AS mx FROM polwire.db.accts")
      assert(rsAdmin.next() && rsAdmin.getLong(1) == 3L && rsAdmin.getDouble(2) == 30.0,
        "admin (unpolicied) sees raw data over the wire")
      // two impersonated identities: same table name, different rows,
      // masked balances — enforced by the analyzer rule inside the
      // engine, not by anything the client does
      def policied(user: String): (Long, Double) = {
        val c = connect(user)
        try {
          val st = c.createStatement()
          st.execute("SET spark.graft.policy.namespace=wire-test")
          st.execute(s"SET spark.graft.user=$user")
          val rs = st.executeQuery(
            "SELECT COUNT(*) AS n, MAX(balance) AS mx FROM polwire.db.accts")
          assert(rs.next())
          (rs.getLong(1), rs.getDouble(2))
        } finally c.close()
      }
      assert(policied("alice") == ((2L, -1.0)), "alice: 2 rows, masked balance")
      assert(policied("bob") == ((1L, -1.0)), "bob: 1 row, masked balance")
      // close out the DDL cycle
      ast.execute("DROP TABLE polwire.db.accts")
      ast.execute("DROP NAMESPACE polwire.db")
      val rs2 = ast.executeQuery("SHOW NAMESPACES IN polwire")
      assert(!rs2.next(), "namespace dropped over the wire")
      admin.close()
    } finally {
      PolicyEnforcement.uninstall("wire-test")
      server.close()
    }
  }

  test("spark connect endpoint binds and accepts TCP (gRPC wire)") {
    val port = 31000 + scala.util.Random.nextInt(2000)
    val server = graft.serve.GraftServer.startConnect(spark, port)
    try {
      val deadline = System.currentTimeMillis() + 30000
      var ok = false
      while (!ok && System.currentTimeMillis() < deadline) {
        try {
          val s = new java.net.Socket("localhost", port)
          s.close(); ok = true
        } catch { case _: Exception => Thread.sleep(250) }
      }
      assert(ok, s"connect service did not bind port $port")
      // FULL gRPC round trip (r12 — the client jar ships in the
      // image's connect-repl dir, wired test-only in build.sbt): a
      // remote session runs SQL including a graft dialect function,
      // which reaches the server session via spark.sql.extensions —
      // the injection path GraftServer documents
      val remote = org.apache.spark.sql.connect.SparkSession.builder()
        .remote(s"sc://localhost:$port").create()
      try {
        val row = remote.sql(
          "SELECT strpos('hello', 'l') AS p, 2 + 3 AS five").collect().head
        assert(row.getInt(0) == 3 && row.getInt(1) == 5, row)
        val n = remote.sql(
          s"SELECT count(*) AS n FROM parquet.`${sf()}/region.parquet`")
          .collect().head.getLong(0)
        assert(n == 5L, s"region count over connect: $n")
      } finally remote.close()
    } finally server.close()
  }

  test("scheduler runs recurring reports") {
    Tables.registerAll(spark, sf())
    val svc = new QueryService(spark)
    val sched = new ReportScheduler(svc)
    try {
      @volatile var lastCount = -1L
      sched.schedule("region_count", "SELECT COUNT(*) AS n FROM region", everySeconds = 1,
        rows => lastCount = rows.head.getLong(0))
      awaitState("two scheduled runs")(sched.runs("region_count") >= 2)
      assert(lastCount == 5L)
    } finally { sched.close(); svc.close() }
  }

  test("cancel stops a running query's jobs; the pool keeps serving (r11)") {
    val svc = new QueryService(spark, workers = 2)
    try {
      // minutes of codegen work if left alone; Range checks the kill
      // flag per batch so the job-group cancel lands fast
      val slow = "SELECT SUM(CAST(xxhash64(CAST(id AS STRING)) AS DOUBLE)) AS s FROM range(30000000000)"
      val id = svc.submit(slow)
      awaitState("the query running")(svc.status(id).contains(svc.Running))
      assert(svc.cancel(id))
      val st = svc.await(id, 600000)
      assert(st.isInstanceOf[svc.Cancelled], st)
      // the shared context and pool survive the kill
      assert(svc.sql("SELECT 1 AS one").isInstanceOf[svc.Finished])
      // terminal ids are not cancellable
      assert(!svc.cancel(id))
    } finally svc.close()
  }

  test("queued queries cancel instantly; the server-side limit reaps runaways (r11)") {
    val svc = new QueryService(spark, workers = 1, maxQuerySeconds = 2)
    try {
      val slow = "SELECT SUM(CAST(xxhash64(CAST(id AS STRING)) AS DOUBLE)) AS s FROM range(30000000000)"
      val before = svc.executions.get()
      val a = svc.submit(slow) // occupies the only worker
      val b = svc.submit("SELECT 2 AS two") // stuck in the queue behind it
      assert(svc.cancel(b), "queued cancel must succeed")
      // a queued cancel is terminal by the time cancel returns
      val sb = svc.status(b)
      assert(sb.exists(_.isInstanceOf[svc.Cancelled]), sb)
      // the runaway is reaped SERVER-side (walden's 600 s async limit,
      // here 2 s) — no client cancel involved
      val sa = svc.await(a, 600000)
      assert(sa.isInstanceOf[svc.Cancelled] &&
        sa.asInstanceOf[svc.Cancelled].reason.contains("limit"), sa)
      // the cancelled-while-queued query never executed
      assert(svc.executions.get() - before == 1,
        s"expected only the runaway to execute, got ${svc.executions.get() - before}")
    } finally svc.close()
  }

  test("row-level security + column masking: per-user views, engine-enforced (r11)") {
    Tables.registerAll(spark, sf())
    val policy = QueryService.TablePolicy(
      // alice: even custkeys; bob: odd; the auditor role sees all rows
      rowFilter = {
        case "auditor" => None
        case u => Some(s"o_custkey % 2 = ${if (u == "alice") 0 else 1}")
      },
      columnMasks = Map(
        "o_totalprice" -> "CAST(-1.0 AS DOUBLE)",
        "o_orderpriority" -> "concat(substr(o_orderpriority, 1, 1), '***')"))
    val svc = new QueryService(spark, workers = 2, maxUserSessions = 1,
      onUserSession = (s, _) => Tables.registerAll(s, sf()),
      policies = Map("orders" -> policy))
    try {
      def rows(user: String) = svc.sql(
        "SELECT COUNT(*) AS n, SUM(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END) AS even, " +
          "MAX(o_totalprice) AS mx, MIN(substr(o_orderpriority, 2, 3)) AS tail3 FROM orders",
        user).asInstanceOf[svc.Finished].rows.head
      val a = rows("alice")
      val b = rows("bob")
      val all = rows("auditor")
      assert(a.getLong(1) == a.getLong(0), "alice must see only even custkeys")
      assert(b.getLong(1) == 0L, "bob must see only odd custkeys")
      assert(a.getLong(0) + b.getLong(0) == all.getLong(0), "filters must partition the table")
      // masks: totalprice constant; priority truncated to 1 char + ***
      assert(a.getDouble(2) == -1.0 && b.getDouble(2) == -1.0 && all.getDouble(2) == -1.0)
      assert(a.getString(3) == "***", a.getString(3))
      // the service identity is trusted: raw table, real prices
      val raw = svc.sql("SELECT MAX(o_totalprice) AS mx FROM orders")
        .asInstanceOf[svc.Finished].rows.head
      assert(raw.getDouble(0) > 0)
      // eviction churn (maxUserSessions = 1) rebuilds the policy view:
      // alice was evicted by bob/auditor; returning must re-filter
      val a2 = rows("alice")
      assert(a2.getLong(0) == a.getLong(0) && a2.getDouble(2) == -1.0)
      // a policy naming an unregistered table fails loudly at first use
      val bad = new QueryService(spark,
        onUserSession = (s, _) => Tables.registerAll(s, sf()),
        policies = Map("not_a_table" -> QueryService.TablePolicy()))
      try {
        val st = bad.sql("SELECT 1 AS x", user = "eve")
        assert(st.isInstanceOf[bad.Failed] &&
          st.asInstanceOf[bad.Failed].error.contains("not_a_table"), st)
      } finally bad.close()
      // a mask naming a non-existent column fails loudly
      val bad2 = new QueryService(spark,
        onUserSession = (s, _) => Tables.registerAll(s, sf()),
        policies = Map("orders" -> QueryService.TablePolicy(
          columnMasks = Map("no_such_col" -> "1"))))
      try {
        val st = bad2.sql("SELECT 1 AS x", user = "eve")
        assert(st.isInstanceOf[bad2.Failed] &&
          st.asInstanceOf[bad2.Failed].error.contains("no_such_col"), st)
      } finally bad2.close()
    } finally svc.close()
  }

  test("RLS + masking over CATALOG tables, including VERSION AS OF (r12)") {
    // r11 verdict #5: a temp view cannot shadow a catalog-qualified
    // name, so dotted policies enforce through the analyzer rule
    // (PolicyEnforcementRule) instead of the per-user view rewrite.
    val w = java.nio.file.Files.createTempDirectory("polcat").toString
    def conf(s: org.apache.spark.sql.SparkSession): Unit = {
      s.conf.set("spark.sql.catalog.polcat", classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.polcat.warehouse", w)
    }
    conf(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS polcat.db")
    spark.sql("CREATE TABLE polcat.db.accounts (id BIGINT, owner STRING, balance DOUBLE)") // v1
    spark.sql("INSERT INTO polcat.db.accounts VALUES (1, 'alice', 10.0), " +
      "(2, 'bob', 20.0), (3, 'alice', 30.0)") // v2
    spark.sql("INSERT INTO polcat.db.accounts VALUES (4, 'bob', 40.0)") // v3
    val policy = QueryService.TablePolicy(
      rowFilter = { case "auditor" => None; case u => Some(s"owner = '$u'") },
      columnMasks = Map("balance" -> "CAST(-1.0 AS DOUBLE)"))
    val svc = new QueryService(spark, workers = 2,
      onUserSession = (s, _) => conf(s),
      policies = Map("polcat.db.accounts" -> policy))
    try {
      def q(sql: String, u: String) = svc.sql(sql, u) match {
        case f: svc.Finished => f.rows
        case other => fail(s"query failed for $u: $other")
      }
      val a = q("SELECT id, balance FROM polcat.db.accounts ORDER BY id", "alice")
      assert(a.map(_.getLong(0)) == Seq(1L, 3L), "alice sees only her rows")
      assert(a.forall(_.getDouble(1) == -1.0), "balance is masked")
      assert(q("SELECT COUNT(*) AS n FROM polcat.db.accounts", "bob")
        .head.getLong(0) == 2L, "bob sees only his rows")
      val aud = q("SELECT COUNT(*) AS n, MAX(balance) AS mx FROM polcat.db.accounts", "auditor")
      assert(aud.head.getLong(0) == 4L, "auditor role sees all rows")
      assert(aud.head.getDouble(1) == -1.0, "but balance stays masked for auditors too")
      // time travel is policied identically: at v2 alice has 2 rows, bob 1
      assert(q("SELECT COUNT(*) AS n FROM polcat.db.accounts VERSION AS OF 2", "bob")
        .head.getLong(0) == 1L, "VERSION AS OF must not escape the row filter")
      assert(q("SELECT MAX(balance) AS mx FROM polcat.db.accounts VERSION AS OF 2", "alice")
        .head.getDouble(0) == -1.0, "VERSION AS OF must not escape the mask")
      // the service identity is trusted: raw rows, real balances
      val raw = svc.sql("SELECT COUNT(*) AS n, MAX(balance) AS mx FROM polcat.db.accounts")
        .asInstanceOf[svc.Finished].rows.head
      assert(raw.getLong(0) == 4L && raw.getDouble(1) == 40.0)
      // CTAS cannot launder unmasked rows (r12 review finding): the
      // read feeding the write is policied, so the copy alice creates
      // holds only her filtered, masked rows
      svc.sql("CREATE TABLE polcat.db.leak AS SELECT * FROM polcat.db.accounts",
        "alice") match {
        case _: svc.Finished =>
          val leaked = q("SELECT COUNT(*) AS n, MAX(balance) AS mx FROM polcat.db.leak",
            "alice").head
          assert(leaked.getLong(0) == 2L, "CTAS copy must carry only alice's rows")
          assert(leaked.getDouble(1) == -1.0, "CTAS copy must carry masked balances")
          svc.sql("DROP TABLE polcat.db.leak")
        case other => fail(s"CTAS failed: $other")
      }
      // a dotted policy that resolves to nothing fails CLOSED at first
      // use, not silent-open (r12 review finding)
      val ghost = new QueryService(spark,
        onUserSession = (s, _) => conf(s),
        policies = Map("polcat.db.no_such_table" -> QueryService.TablePolicy()))
      try {
        val st = ghost.sql("SELECT 1 AS x", user = "mallory")
        assert(st.isInstanceOf[ghost.Failed] &&
          st.asInstanceOf[ghost.Failed].error.contains("cannot be enforced"), st)
      } finally ghost.close()
      // predicate reaches the scan as a pushed filter, not a UDF tax:
      // the user plan must contain the filter below any project
      // (smoke: the query above already proves semantics; here we just
      // pin that an unknown masked column fails loudly)
      val bad = new QueryService(spark,
        onUserSession = (s, _) => conf(s),
        policies = Map("polcat.db.accounts" -> QueryService.TablePolicy(
          columnMasks = Map("no_such_col" -> "1"))))
      try {
        val st = bad.sql("SELECT COUNT(*) AS n FROM polcat.db.accounts", user = "eve")
        assert(st.isInstanceOf[bad.Failed] &&
          st.asInstanceOf[bad.Failed].error.contains("no_such_col"), st)
      } finally bad.close()
    } finally svc.close()
  }

  test("a coalesced follower can be cancelled while the leader runs on (r11 review)") {
    val svc = new QueryService(spark, workers = 4)
    try {
      val slow = "SELECT SUM(CAST(xxhash64(CAST(id AS STRING)) AS DOUBLE)) AS s FROM range(8000000000)"
      val before = svc.executions.get()
      val leader = svc.submit(slow)
      // the leader counts its execution after registering in flight, so
      // from here on an identical statement coalesces onto it
      awaitState("the leader executing")(svc.executions.get() == before + 1)
      val follower = svc.submit(slow)
      awaitState("the follower running")(svc.status(follower).contains(svc.Running))
      // the follower runs no jobs — cancellation must land through the
      // coalesced wait's own poll, not job tags
      assert(svc.cancel(follower))
      val sf2 = svc.await(follower, 600000)
      assert(sf2.isInstanceOf[svc.Cancelled], sf2)
      assert(svc.executions.get() == before + 1, "the follower executed instead of coalescing")
      // and the leader is unaffected by the follower's cancel
      assert(svc.status(leader).exists(s => s == svc.Running || s.isInstanceOf[svc.Finished]))
      svc.cancel(leader)
      assert(svc.await(leader, 600000).isInstanceOf[svc.Cancelled])
    } finally svc.close()
  }

  test("a side-effecting statement invalidates the user's cached reads (r11 review)") {
    val svc = new QueryService(spark)
    try {
      svc.sql("CREATE OR REPLACE TEMP VIEW inv_v AS SELECT 1 AS x")
      val a = svc.sql("SELECT SUM(x) AS s FROM inv_v").asInstanceOf[svc.Finished]
      assert(a.rows.head.getLong(0) == 1L)
      assert(svc.sql("SELECT SUM(x) AS s FROM inv_v").asInstanceOf[svc.Finished].fromCache)
      // redefine THROUGH the service: the TEXT/plan key cannot see the
      // new definition, so the statement itself must purge the cache
      svc.sql("CREATE OR REPLACE TEMP VIEW inv_v AS SELECT 41 AS x UNION ALL SELECT 1")
      val b = svc.sql("SELECT SUM(x) AS s FROM inv_v").asInstanceOf[svc.Finished]
      assert(!b.fromCache, "stale cached read served after view redefinition")
      assert(b.rows.head.getLong(0) == 42L, b.rows)
    } finally {
      spark.catalog.dropTempView("inv_v")
      svc.close()
    }
  }

  test("cache stampede coalesces: a cold herd of identical queries executes once (r11)") {
    Tables.registerAll(spark, sf())
    val svc = new QueryService(spark, workers = 8, cacheTtlSeconds = 300)
    try {
      // a query heavy enough (~1 s at sf0.001: regex over every doc)
      // that the herd lands while the leader is still running
      val q = """SELECT SUM(LENGTH(regexp_replace(text, '[aeiou]+', '.'))) AS n
                 FROM documents WHERE length(text) > 0"""
      val before = svc.executions.get()
      val ids = (1 to 12).map(_ => svc.submit(q))
      val done = ids.map(svc.await(_, 60000))
      assert(done.forall(_.isInstanceOf[svc.Finished]), done)
      val fins = done.collect { case f: svc.Finished => f }
      assert(fins.map(_.rows).distinct.size == 1, "coalesced rows diverged")
      // ONE execution: the leader; everyone else was served the
      // in-flight result (fromCache=true) or the cache. (<= 2 absorbs
      // the benign race where a straggler submits after the leader
      // finished-and-deregistered but read the cache just before the
      // publish — it becomes a short-lived second leader.)
      val executed = svc.executions.get() - before
      assert(executed <= 2, s"herd executed $executed times")
      assert(fins.count(_.fromCache) >= 10, fins.count(_.fromCache))
    } finally svc.close()
  }

  test("service-rate soak: 100 submissions/s mixed entries, bounded state (r11)") {
    // the reference's SQL Lab executes async at 100 tasks/s with a
    // 300 s result-cache TTL; this drives the same shape for ~30 s
    // (3000 submissions — the multi-minute run is SCALE.md's soak) with
    // a mixed workload: relational agg + dedup + MATCH_RECOGNIZE
    // repeats (plan-fingerprint cache hits) and a stream of
    // fresh-literal misses. Asserts, on work done rather than time:
    // every submission drains to a finished state, the pool executes
    // only the misses, the cache serves the repeat traffic, TTL expiry
    // re-executes, and terminal-status retention keeps the service's
    // own state bounded.
    Tables.registerAll(spark, sf())
    // the drive runs at the reference TTL (300 s — no expiry inside a
    // 30 s drive; expiry at a 5 s TTL thundering-herds ~40% misses,
    // which is TTL policy, not service health). TTL expiry itself is
    // asserted at the end on a separate short-TTL instance.
    val svc = new QueryService(spark, workers = 8, cacheTtlSeconds = 300,
      maxTrackedQueries = 1000,
      // impersonated users run on child sessions with their own temp
      // catalogs — give each the same tables (the walden per-user
      // schema provisioning hook)
      onUserSession = (s, _) => Tables.registerAll(s, sf()))
    try {
      val relational =
        "SELECT l_returnflag, SUM(l_quantity) AS q FROM lineitem GROUP BY l_returnflag"
      val dedup = "SELECT COUNT(*) AS n FROM (SELECT md5(text) AS h FROM documents " +
        "GROUP BY md5(text) HAVING COUNT(*) > 1)"
      val pattern = """SELECT COUNT(*) AS n FROM (
        SELECT * FROM (SELECT user_id, ts, event_id, value FROM events
                       WHERE event_type = 'purchase') MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts, event_id
          MEASURES COUNT(D.*) AS nd ONE ROW PER MATCH
          PATTERN (D+ U)
          DEFINE D AS D.value < PREV(D.value), U AS U.value > PREV(U.value)))"""
      val repeats = Array(relational, dedup, pattern)
      // warm the three plans once so the drive loop measures service
      // behavior, not first-compile
      repeats.foreach(q => assert(svc.sql(q).isInstanceOf[svc.Finished], q))

      val start = System.nanoTime()
      val ids = scala.collection.mutable.ArrayBuffer[Long]()
      val before = svc.executions.get()
      val total = 3000 // 30 s at 100/s
      var fresh = 0
      var i = 0
      while (i < total) {
        val sql =
          if (i % 20 == 19) { fresh += 1; s"$relational HAVING SUM(l_quantity) > ${i % 977}" } // miss
          else repeats(i % repeats.length)
        ids += svc.submit(sql, user = s"u${i % 4}")
        // pace to 100/s on the wall clock, not sleep drift; a loaded
        // host paces slower, which changes no assertion below
        val due = start + (i + 1) * 10000000L
        val lag = due - System.nanoTime()
        if (lag > 0) Thread.sleep(lag / 1000000L, (lag % 1000000L).toInt)
        i += 1
      }
      info(f"submitted at ${total / ((System.nanoTime() - start) / 1e9)}%.1f/s")
      // drained: every retained submission finishes — none is stuck
      // queued behind starved workers — and nothing is left in flight
      val retained = ids.filter(id => svc.status(id).isDefined)
      assert(retained.nonEmpty && retained.last == ids.last)
      retained.foreach { id =>
        val st = svc.await(id, 600000)
        assert(st.isInstanceOf[svc.Finished], s"$id: $st")
      }
      assert(ids.count(id => svc.status(id).exists(s => s == svc.Queued || s == svc.Running)) == 0)
      // the pool executed the misses, not the traffic: each user's first
      // run of each repeat (4 users x 3) and each fresh literal; the
      // slack absorbs stragglers that miss just before a leader publishes
      val executed = svc.executions.get() - before
      info(s"$executed executions for $total submissions ($fresh fresh literals)")
      assert(executed <= fresh + 12 + 24, s"$executed executions for $fresh fresh literals")
      // retention: the service's own state is capped, not 3000-deep
      val tracked = ids.count(id => svc.status(id).isDefined)
      assert(tracked <= 1000 + 64, s"$tracked statuses retained past the cap")
      // the cache carried the repeat traffic: of the newest 500, the
      // repeats (19 of each 20) should be overwhelmingly cache hits
      val finished = ids.takeRight(500).flatMap(svc.status).collect {
        case f: svc.Finished => f
      }
      val hitRate = finished.count(_.fromCache).toDouble / finished.length
      info(f"cache hit rate over newest 500: $hitRate%.2f")
      // 19/20 are warmed repeats → only the fresh-literal stream and
      // any concurrent-miss herd at warm boundaries should miss
      assert(hitRate >= 0.85, f"cache did not carry repeat traffic: $hitRate%.2f")
      // an evicted early id fails BY NAME, not by timeout
      val evicted = svc.await(ids.head, 1000)
      assert(evicted.isInstanceOf[svc.Failed] &&
        evicted.asInstanceOf[svc.Failed].error.contains("evicted"), evicted)
    } finally svc.close()
    // TTL honored: on a short-TTL instance, expiry re-executes
    val ttlSvc = new QueryService(spark, workers = 2, cacheTtlSeconds = 5)
    try {
      val q = "SELECT COUNT(*) AS n FROM region"
      val m0 = ttlSvc.sql(q).asInstanceOf[ttlSvc.Finished]
      val m1 = ttlSvc.sql(q).asInstanceOf[ttlSvc.Finished]
      assert(m1.fromCache, "repeat inside TTL must serve from cache")
      Thread.sleep(5500)
      val m2 = ttlSvc.sql(q).asInstanceOf[ttlSvc.Finished]
      assert(!m2.fromCache, "TTL-expired entry served from cache")
      assert(m0.rows.toSet == m2.rows.toSet)
    } finally ttlSvc.close()
  }

  test("impersonated users share compiled code: a second user compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val svc = new QueryService(spark, onUserSession = (s, _) => Tables.registerAll(s, sf()))
    try {
      def run(q: String, user: String) = svc.sql(q, user) match {
        case f: svc.Finished => assert(!f.fromCache); f.rows.map(_.toString).sorted
        case o => fail(s"$o")
      }
      // open both sessions first: building one is not the statement's cost
      Seq("alice", "bob").foreach(run("SELECT COUNT(*) AS n FROM region", _))
      val q = "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS t FROM orders " +
        "WHERE o_orderkey > 100 GROUP BY o_orderpriority"
      val first = run(q, "alice")
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(run(q, "bob") == first)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0,
        "the second user's run compiled classes again")
    } finally svc.close()
  }

  test("impersonated users may not add jars, files or archives") {
    val svc = new QueryService(spark)
    try {
      val refused = Seq(
        "ADD JAR /tmp/graft_no.jar", "add  jars /tmp/a.jar /tmp/b.jar", "ADD FILE /tmp/graft_no.txt",
        "ADD ARCHIVE /tmp/graft_no.zip", "/* note */ ADD FILES /tmp/graft_no.txt",
        "CREATE TEMPORARY FUNCTION graft_no AS 'x.Y' USING JAR '/tmp/graft_no.jar'",
        "create or replace function graft_no as 'x.Y' using file '/tmp/graft_no.txt'")
      refused.foreach { stmt =>
        svc.sql(stmt, "mallory") match {
          case f: svc.Failed => assert(f.error.contains("refused for impersonated users"), f.error)
          case o => fail(s"$stmt: $o")
        }
      }
      // the service identity runs on the embedder's own session: allowed
      val f = java.nio.file.Files.createTempFile("graft_artifact", ".txt")
      svc.sql(s"ADD FILE $f") match {
        case _: svc.Finished =>
        case o => fail(s"$o")
      }
      // a function without resources adds no artifact
      svc.sql("CREATE TEMPORARY FUNCTION graft_upper AS " +
        "'org.apache.spark.sql.catalyst.expressions.Upper'", "mallory") match {
        case f: svc.Failed => assert(!f.error.contains("refused"), f.error)
        case _ =>
      }
    } finally svc.close()
  }

  test("ADD JAR of a missing path fails for the service identity") {
    // Spark only logs a jar it cannot find; the service reports it
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("/tmp/graft_no.jar")))
    val svc = new QueryService(spark)
    try {
      for (stmt <- Seq("ADD JAR /tmp/graft_no.jar", "/* note */ add jars '/tmp/graft_no.jar'",
                       "ADD JAR file:/tmp/graft_no.jar"))
        svc.sql(stmt) match {
          case f: svc.Failed => assert(f.error.contains("java.io.FileNotFoundException"), f.error)
          case o => fail(s"$stmt: $o")
        }
    } finally svc.close()
  }

  test("a served statement is optimized once: the fingerprint's plan is the one collected") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    object CountRuns extends Rule[LogicalPlan] {
      override def apply(plan: LogicalPlan): LogicalPlan = { runs.incrementAndGet(); plan }
    }
    val svc = new QueryService(spark, onUserSession = (s, _) => {
      Tables.registerAll(s, sf())
      s.experimental.extraOptimizations = Seq(CountRuns)
    })
    try {
      svc.sql("SELECT COUNT(*) AS n FROM nation", "opt")
      runs.set(0)
      svc.sql("SELECT r_name FROM region WHERE r_regionkey >= 2", "opt") match {
        case f: svc.Finished => assert(!f.fromCache && f.rows.size == 3)
        case o => fail(s"$o")
      }
      assert(runs.get == 1, s"the optimizer ran ${runs.get} times for one statement")
      // the repeat is a cache hit on the same fingerprint
      svc.sql("SELECT r_name FROM region WHERE r_regionkey >= 2", "opt") match {
        case f: svc.Finished => assert(f.fromCache)
        case o => fail(s"$o")
      }
    } finally svc.close()
  }

  test("allow_cvas=false refuses every temporary-view spelling") {
    val svc = new QueryService(spark, allowCvas = false)
    try {
      Seq("CREATE TEMPORARY VIEW gate_v AS SELECT 1 AS x",
          "CREATE OR REPLACE TEMPORARY VIEW gate_v AS SELECT 1 AS x",
          "CREATE GLOBAL TEMP VIEW gate_v AS SELECT 1 AS x").foreach { stmt =>
        svc.sql(stmt) match {
          case f: svc.Failed => assert(f.error.contains("CVAS disabled"), f.error)
          case o => fail(s"$stmt: $o")
        }
      }
      assert(!spark.catalog.tableExists("gate_v"))
    } finally {
      spark.catalog.dropTempView("gate_v")
      spark.catalog.dropGlobalTempView("gate_v")
      svc.close()
    }
  }

  test("allow_ctas=false refuses CTAS without AS or with AS( and CREATE OR REPLACE ... AS; a plain CREATE TABLE runs") {
    val svc = new QueryService(spark, allowCtas = false)
    try {
      Seq("CREATE TABLE gate_ctas USING parquet SELECT 1",
          "CREATE TABLE gate_ctas USING parquet AS(SELECT 1)",
          "CREATE OR REPLACE TABLE gate_ctas USING parquet AS SELECT 1").foreach { stmt =>
        svc.sql(stmt) match {
          case f: svc.Failed => assert(f.error.contains("CTAS disabled"), f.error)
          case o => fail(s"$stmt: $o")
        }
      }
      assert(!spark.catalog.tableExists("gate_ctas"))
      // no query: the ' as ' inside the comment literal makes it no CTAS
      svc.sql("CREATE TABLE gate_plain (a INT) USING parquet COMMENT 'x as y'") match {
        case _: svc.Finished => assert(spark.catalog.tableExists("gate_plain"))
        case o => fail(s"$o")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gate_plain")
      spark.sql("DROP TABLE IF EXISTS gate_ctas")
      svc.close()
    }
  }

  test("allow_dml=false refuses FROM ... INSERT and a script's INSERT; the table keeps its rows") {
    spark.sql("CREATE TABLE gate_dml (c INT) USING parquet")
    val svc = new QueryService(spark, allowDml = false)
    try {
      spark.sql("INSERT INTO gate_dml VALUES (1)")
      Seq("FROM (SELECT 3 AS c) s INSERT INTO gate_dml SELECT c",
          "BEGIN INSERT INTO gate_dml VALUES (4); END").foreach { stmt =>
        svc.sql(stmt) match {
          case f: svc.Failed => assert(f.error.contains("DML disabled"), f.error)
          case o => fail(s"$stmt: $o")
        }
      }
      assert(spark.table("gate_dml").count() == 1L)
    } finally {
      svc.close()
      spark.sql("DROP TABLE IF EXISTS gate_dml")
    }
  }

  test("the result cache never serves another table's rows: plans match by relation identity") {
    // two tables (and two path reads) whose canonical plans print the
    // same text: only the relation's location tells them apart
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_rel")
    spark.sql("CREATE TABLE c_t1 (a INT) USING parquet")
    spark.sql("CREATE TABLE c_t2 (b INT) USING parquet")
    val svc = new QueryService(spark)
    try {
      spark.sql("INSERT INTO c_t1 VALUES (1), (2), (3)")
      spark.sql("INSERT INTO c_t2 VALUES (7)")
      spark.range(5).write.parquet(s"$dir/p5")
      spark.range(2).write.parquet(s"$dir/p2")
      def run(q: String) = svc.sql(q) match {
        case f: svc.Finished => f
        case o => fail(s"$q: $o")
      }
      for ((first, second, want) <- Seq(
          ("SELECT count(*) AS n FROM c_t1", "SELECT count(*) AS n FROM c_t2", Seq("[1]")),
          ("SELECT * FROM c_t1", "SELECT * FROM c_t2", Seq("[7]")),
          (s"SELECT count(*) AS n FROM parquet.`$dir/p5`", s"SELECT count(*) AS n FROM parquet.`$dir/p2`",
            Seq("[2]")))) {
        run(first)
        val f = run(second)
        assert(!f.fromCache, s"$second was served $first's cached rows")
        assert(f.rows.map(_.toString) == want, f.rows)
        assert(run(second).fromCache, s"$second must still hit its own entry")
      }
    } finally {
      svc.close()
      spark.sql("DROP TABLE IF EXISTS c_t1")
      spark.sql("DROP TABLE IF EXISTS c_t2")
    }
  }
}
