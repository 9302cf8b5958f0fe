package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.serve.QueryService

/** The statements `serve_mix` sends. Every aggregate is exact (counts,
  * integer sums, min/max), so a served result can be compared with a
  * direct execution row for row.
  *
  * One client's stream: the kinds, and which literal draws repeat,
  * follow a structure that is the same for every seed, so the share of
  * cache hits does not vary from seed to seed; the seed maps each drawn
  * rank to a literal value (and generates the tables). */
final class ServeStream(seed: Long, client: Int) {
  import ServeStream._
  private val r = new java.util.Random(1000003L * client + 17)
  private val perms = scala.collection.mutable.Map[Int, IndexedSeq[Int]]()

  /** A literal in [0, domain): a rank drawn with P(k) falling roughly as
    * 1/k (small ranks repeat, the tail stays fresh), mapped through a
    * seeded permutation of the domain. */
  def lit(domain: Int): Int = {
    val rank = math.min(domain - 1, math.floor(math.pow(domain.toDouble, r.nextDouble())).toInt - 1)
    perms.getOrElseUpdate(domain, new scala.util.Random(seed * 31 + domain).shuffle((0 until domain).toIndexedSeq))(rank)
  }

  def fresh(): String = r.nextInt(3) match {
    case 0 =>
      s"SELECT l_returnflag, COUNT(*) AS n, SUM(CAST(l_quantity AS BIGINT)) AS q FROM lineitem " +
        s"WHERE l_quantity > ${lit(50)} GROUP BY l_returnflag"
    case 1 =>
      s"SELECT o_orderstatus, COUNT(*) AS n FROM orders " +
        s"WHERE o_totalprice > ${lit(100) * 5000} GROUP BY o_orderstatus"
    case _ =>
      s"SELECT COUNT(*) AS n, SUM(l_orderkey) AS s FROM lineitem JOIN orders " +
        s"ON l_orderkey = o_orderkey WHERE o_custkey = ${lit(300) * 5}"
  }

  def matchRecognize(): String = {
    val kind = Seq("click", "error", "purchase", "signup", "view")(r.nextInt(5))
    s"""SELECT COUNT(*) AS n, SUM(nd) AS downs FROM (
       |  SELECT * FROM (SELECT user_id, ts, event_id, value FROM events
       |                 WHERE event_type = '$kind' AND value > ${lit(10) * 3})
       |  MATCH_RECOGNIZE (
       |    PARTITION BY user_id ORDER BY ts, event_id
       |    MEASURES COUNT(D.*) AS nd ONE ROW PER MATCH
       |    PATTERN (D+ U)
       |    DEFINE D AS D.value < PREV(D.value), U AS U.value > PREV(U.value)))""".stripMargin
  }

  def jsonTable(): String = {
    val lo = lit(40) * 300
    s"""WITH docs AS (
       |  SELECT l_orderkey AS okey, to_json(sort_array(collect_list(
       |    named_struct('ln', l_linenumber, 'qty', l_quantity)))) AS doc
       |  FROM lineitem WHERE l_orderkey BETWEEN $lo AND ${lo + 199} GROUP BY l_orderkey)
       |SELECT COUNT(*) AS n, SUM(jt.ln) AS lns, SUM(CAST(jt.qty AS BIGINT)) AS q
       |FROM docs d, JSON_TABLE(d.doc, 'lax $$[*]'
       |  COLUMNS (pos FOR ORDINALITY, ln INTEGER PATH 'lax $$.ln',
       |           qty DOUBLE PATH 'lax $$.qty')) AS jt""".stripMargin
  }

  def unnest(): String = {
    val lo = lit(40) * 300
    s"""WITH packed AS (
       |  SELECT l_orderkey AS okey, array_sort(collect_list(
       |    named_struct('ln', l_linenumber, 'qty', l_quantity))) AS rs
       |  FROM lineitem WHERE l_orderkey BETWEEN $lo AND ${lo + 199} GROUP BY l_orderkey),
       |arrs AS (SELECT okey, transform(rs, r -> r.ln) AS lns,
       |                transform(rs, r -> r.qty) AS qtys FROM packed)
       |SELECT COUNT(*) AS n, SUM(u.pos) AS p, SUM(u.ln) AS l
       |FROM arrs a CROSS JOIN UNNEST(a.lns, a.qtys) WITH ORDINALITY AS u(ln, qty, pos)""".stripMargin
  }

  def catalogRead(): String = {
    val lo = lit(100) * 140
    if (r.nextBoolean())
      s"SELECT COUNT(*) AS n, SUM(o_custkey) AS c FROM graft.bench.orders " +
        s"WHERE o_orderkey BETWEEN $lo AND ${lo + 499}"
    else
      s"SELECT l_returnflag, COUNT(*) AS n FROM graft.bench.lineitem " +
        s"WHERE l_orderkey BETWEEN $lo AND ${lo + 299} GROUP BY l_returnflag"
  }

  /** Next statement: (kind, text). The shares are a synthetic choice,
    * not measured traffic (perfbench/README.md gives the reason for
    * each). Repeats, variants and repeated literals make a sixth of the
    * statements cache hits at 33 statements a client (more in longer
    * streams): hits and executions differ in latency by an order of
    * magnitude, so the hit share is kept away from one half, where the
    * median would flip between the two. */
  def next(): (String, String) = {
    val u = r.nextDouble()
    if (u < 0.18) "dashboard" -> Dashboards(r.nextInt(Dashboards.size))
    else if (u < 0.25) "variant" -> variant(Dashboards(r.nextInt(Dashboards.size)))
    else if (u < 0.55) "fresh" -> fresh()
    else if (u < 0.65) "match_recognize" -> matchRecognize()
    else if (u < 0.73) "json_table" -> jsonTable()
    else if (u < 0.81) "unnest" -> unnest()
    else "catalog" -> catalogRead()
  }
}

object ServeStream {
  val Dashboards: IndexedSeq[String] = IndexedSeq(
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(CAST(l_quantity AS BIGINT)) AS qty " +
      "FROM lineitem GROUP BY l_returnflag, l_linestatus",
    "SELECT o_orderpriority, COUNT(*) AS n FROM orders WHERE o_orderstatus = 'F' " +
      "GROUP BY o_orderpriority",
    "SELECT n_name, COUNT(*) AS n FROM customer JOIN nation ON c_nationkey = n_nationkey " +
      "GROUP BY n_name",
    "SELECT event_type, COUNT(*) AS n, MAX(value) AS top FROM events GROUP BY event_type",
    "SELECT c_mktsegment, COUNT(DISTINCT o_custkey) AS n FROM orders " +
      "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment",
    "SELECT p_type, MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi FROM part GROUP BY p_type")

  /** Same plan, different text: comment, line breaks and output alias.
    * The service's plan fingerprint serves it from the cache. */
  def variant(sql: String): String =
    "/* tile */ " + sql.replace(" AS n", " AS n_rows").replace(" FROM ", "\n  FROM ")
      .replace(" GROUP BY ", "\n  GROUP BY ")
}

/** One served statement: what was sent and what came back. */
private final case class Served(kind: String, sql: String, ms: Double,
                                result: Option[Seq[String]], fromCache: Boolean, execMs: Long)

object ServeMix {
  /** Nominal time per statement of one client (4 cores, 4 clients). */
  val StatementSeconds = 0.3
}

/** `serve_mix`: nproc closed-loop clients, each an impersonated user,
  * share one QueryService (workers = nproc) over the sf0.01 tables,
  * registered as temp views in every user session and, for orders and
  * lineitem, as graft catalog tables built by CTAS. */
final class ServeMix(a: Args, s: Main.Session) extends Workload {
  private val spark = s.spark
  private val clients = Runtime.getRuntime.availableProcessors()
  private var svc: QueryService = _

  private val served = new ConcurrentLinkedQueue[Served]()

  private def rowsOf(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).sorted

  /** The tables the statements read, as temp views of one session. */
  private def register(sess: org.apache.spark.sql.SparkSession): Unit =
    Seq("nation", "customer", "part", "orders", "lineitem", "events").foreach(t =>
      graft.Tables(sess, a.data, t).createOrReplaceTempView(t))

  def build(): Unit = {
    register(spark)
    spark.sql("CREATE NAMESPACE graft.bench")
    spark.sql("CREATE TABLE graft.bench.orders AS SELECT * FROM orders")
    spark.sql("CREATE TABLE graft.bench.lineitem AS SELECT * FROM lineitem")
    val service = new QueryService(spark, workers = clients,
      onUserSession = (us, _) => {
        register(us)
        us.listenerManager.register(s.phases)
      })
    svc = service
  }

  /** Each client's statements: a fixed number per client, because the
    * cache-hit share grows with the length of the stream, so a
    * time-bound stream would move the hit share, and with it the median,
    * with the host's speed. */
  private lazy val streams: IndexedSeq[IndexedSeq[(String, String)]] = {
    val perClient = Ops.units(a.seconds, ServeMix.StatementSeconds)
    (0 until clients).map { c =>
      val stream = new ServeStream(a.seed, c)
      IndexedSeq.fill(perClient)(stream.next())
    }
  }

  /** The result of every text the clients send, by direct execution. */
  private var expected = Map.empty[String, Seq[String]]

  def warmUp(): Unit = {
    // the reference results, computed untimed before the timed phase;
    // they also warm JIT and codegen for every statement shape. Then
    // one statement per user opens each user session.
    val texts = streams.flatten.map(_._2).distinct
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    expected = try texts.map(q => q -> pool.submit(() => rowsOf(spark.sql(q).collect().toSeq)))
      .map { case (q, f) => q -> f.get() }.toMap
      finally pool.shutdown()
    val service = svc
    val ids = (0 until clients).map(c => service.submit("SELECT COUNT(*) AS n FROM nation", s"user$c"))
    ids.foreach(id => service.await(id) match {
      case _: service.Finished =>
      case other => sys.error(s"warm-up statement failed: $other")
    })
  }

  def run(seconds: Double, tracer: Tracer): Timed = {
    val ops = new Ops
    val t0 = System.nanoTime()
    val parser = spark.sessionState.sqlParser
    val service = svc
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var req = c.toLong << 40
        streams(c).foreach { case (kind, sql) =>
          req += 1
          val q0 = System.nanoTime()
          val st = tracer.request(req) {
            if (tracer.enabled) {
              val rw = tracer.probe("sql.rewrite")(graft.sql.UnnestSql.rewrite(
                graft.sql.JsonTableSql.rewrite(graft.sql.MatchRecognizeSql.rewrite(sql))))
              tracer.probe("engine.parse")(parser.parsePlan(rw))
            }
            tracer.span("serve.await")(service.await(service.submit(sql, s"user$c")))
          }
          val ms = (System.nanoTime() - q0) / 1e6
          st match {
            case f: service.Finished =>
              ops.add(kind, ms, ok = true)
              served.add(Served(kind, sql, ms, Some(rowsOf(f.rows)), f.fromCache, f.elapsedMs))
            case _ =>
              ops.add(kind, ms, ok = false)
              served.add(Served(kind, sql, ms, None, fromCache = false, 0L))
          }
        }
      }, s"serve-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Timed(ops, System.nanoTime() - t0, clients)
  }

  /** Every served result, cache and coalesced serves included, must
    * equal the direct execution of the same text on the base session
    * made at set-up. */
  def check(t: Timed): Seq[(String, String)] = {
    val all = served.asScala.toSeq
    val wrong = all.count(x => x.result.exists(r => !expected.get(x.sql).contains(r)))
    t.ops.markFailed(wrong)
    Seq("check.served" -> (s"${all.size} served statements, ${expected.size} distinct texts, " +
      s"$wrong differ from direct execution, ${all.count(_.result.isEmpty)} not finished"))
  }

  override def extraMetrics(t: Timed): Seq[(String, Double, String)] = {
    val fin = served.asScala.filter(_.result.isDefined)
    Seq(("cache_hit_share", fin.count(_.fromCache).toDouble / math.max(1, fin.size), "ratio"))
  }

  def layerMetrics(t: Timed, spans: Seq[Span]): Map[String, Double] = {
    val all = served.asScala.toSeq
    val fin = all.filter(_.result.isDefined)
    val executed = fin.filterNot(_.fromCache)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def spanMs(name: String) = mean(spans.filter(_.name == name).map(_.durNs / 1e6))
    Map(
      "sql.rewrite_ms" -> spanMs("sql.rewrite"),
      // parsing of the rewritten text; the executed statements' own
      // trackers carry no parse phase (the service re-plans a limit)
      "engine.parse_ms" -> spanMs("engine.parse"),
      "serve.queue_wait_ms" -> mean(executed.map(x => x.ms - x.execMs)),
      "serve.exec_ms" -> mean(executed.map(_.execMs.toDouble)),
      "serve.cache_hit_ratio" -> fin.count(_.fromCache).toDouble / math.max(1, fin.size),
      "serve.executions_per_submit" -> executed.size.toDouble / math.max(1, all.size),
      "catalog.read_ms" -> mean(all.filter(_.kind == "catalog").map(_.ms)))
  }

  def close(): Unit = if (svc != null) svc.close()
}
