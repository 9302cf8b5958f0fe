package graft.sql

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Trino-dialect SQL entry point — the role trino-cli / the Python
  * `trino` DBAPI client play in walden (`docker/devserver/Dockerfile:24-29`,
  * SURVEY.md §3.1/§3.3): accept Trino-flavored SQL text (scripted,
  * multi-statement) and run it on Spark.
  *
  * Most Trino functions are covered by name-level registrations
  * (graft.functions.GraftFunctions). The rewrites here handle the few
  * spots where Spark's PARSER owns the name with different grammar
  * (`date_diff(unit, ...)` demands an unquoted unit keyword, Trino
  * quotes it), so a registry entry can never see the call.
  */
object TrinoDialect {

  private val dateDiff = """(?i)\bdate_diff\(\s*'( +)'\s*,""".r
  private val dateAddU = """(?i)\bdate_add\(\s*'( +)'\s*,""".r
  private val approxPct = """(?i)\bapprox_percentile\(""".r
  // Trino type/relation spellings Spark's parser rejects: bare VARCHAR
  // needs a length in Spark (parameterized VARCHAR(n) passes through
  // untouched), VARBINARY/DOUBLE PRECISION don't exist, TABLESAMPLE
  // takes (n PERCENT) not BERNOULLI/SYSTEM(n) — SYSTEM (block
  // sampling) downgrades to row sampling, which is the approximation a
  // sample already is — and the ROW constructor is Spark's struct
  // (field names col1.. instead of anonymous).
  private val bareVarchar = """(?i)\bVARCHAR\b(?!\s*\()""".r
  private val varbinary = """(?i)\bVARBINARY\b""".r
  private val doublePrec = """(?i)\bDOUBLE\s+PRECISION\b""".r
  private val sampleRx =
    """(?i)\bTABLESAMPLE\s+(?:BERNOULLI|SYSTEM)\s*\(\s*([0-9]+(?:\.[0-9]+)?)\s*\)""".r
  private val rowCtor = """(?i)\bROW\s*\(""".r
  // Trino SQL routines: `CREATE [OR REPLACE] FUNCTION f(x T) RETURNS T
  // [LANGUAGE SQL] [DETERMINISTIC] RETURN expr` is Spark 4's native
  // SQL-UDF grammar — but Trino routines live in a catalog while the
  // session-scoped parity here is a TEMPORARY function, so an
  // UNQUALIFIED name gains TEMPORARY (a qualified name passes through
  // to the named catalog untouched). Compound BEGIN...END bodies stay
  // loud parser rejections (Spark supports single-expression RETURN
  // only).
  private val createFn =
    """(?i)\bCREATE\s+(OR\s+REPLACE\s+)?FUNCTION\s+([A-Za-z_][A-Za-z0-9_]*)\s*\(""".r

  /** Rewrite Trino spellings Spark's parser reserves. Conservative,
    * token-local rewrites of code only: a literal, quoted identifier or
    * comment containing "approx_percentile(" is user text and survives
    * verbatim. The one literal a rewrite reads is the quoted unit of
    * `date_diff`/`date_add`, which becomes a keyword.
    */
  def rewrite(sql: String): String = {
    def unit(s: String, m: Regex.Match): Option[String] =
      Some(s.substring(m.start(1), m.end(1))).filter(_.matches("\\w+")).map(_.toUpperCase)
    val steps: Seq[(Regex, (String, Regex.Match) => Option[String])] = Seq(
      // Trino date_diff('day', a, b) -> Spark date_diff(DAY, a, b)
      dateDiff -> ((s, m) => unit(s, m).map(u => s"date_diff($u,")),
      // Trino date_add('day', n, ts) -> Spark timestampadd(DAY, n, ts)
      dateAddU -> ((s, m) => unit(s, m).map(u => s"timestampadd($u,")),
      // Trino approx_percentile(x, p) == Spark percentile_approx(x, p)
      approxPct -> ((_, _) => Some("percentile_approx(")),
      bareVarchar -> ((_, _) => Some("STRING")),
      varbinary -> ((_, _) => Some("BINARY")),
      doublePrec -> ((_, _) => Some("DOUBLE")),
      sampleRx -> ((_, m) => Some(s"TABLESAMPLE (${m.group(1)} PERCENT)")),
      createFn -> ((_, m) =>
        Some(s"CREATE ${Option(m.group(1)).getOrElse("")}TEMPORARY FUNCTION ${m.group(2)}(")))
    val named = steps.foldLeft(sql) { case (s, (rx, to)) => replaceInCode(s, rx)(to(s, _)) }
    // ROW in a TYPE position first (CAST(x AS ROW(a INT))): Spark
    // spells struct TYPES as STRUCT<...>, so the constructor rewrite
    // must not fire there (struct(a INT) is unparseable). Then every
    // remaining ROW( is a constructor.
    val rows = replaceInCode(rowTypes(named, asRowType, "AS STRUCT<"), rowCtor)(_ => Some("struct("))
    // Trino MATCH_RECOGNIZE clause -> graft_match_recognize TVF (no-op
    // without the keyword). LAST: the rewrite quotes DEFINE/MEASURES
    // into TVF string literals, where the function-name rewrites above
    // could no longer reach them. JSON_TABLE and UNNEST lower after it
    // for the same reason.
    UnnestSql.rewrite(JsonTableSql.rewrite(MatchRecognizeSql.rewrite(rows)))
  }

  /** Replace each match of `rx` in the code of `sql`: matches are found
    * in [[SqlScan.mask]], so no literal, quoted identifier or comment
    * takes part. `to` gets the match (offsets into `sql`) and may
    * return None to leave it. */
  private def replaceInCode(sql: String, rx: Regex)(to: Regex.Match => Option[String]): String = {
    val out = new java.lang.StringBuilder
    var last = 0
    rx.findAllMatchIn(SqlScan.mask(sql)).foreach { m =>
      to(m).foreach { r => out.append(sql, last, m.start).append(r); last = m.end }
    }
    out.append(sql, last, sql.length).toString
  }

  /** Trino's ROW TYPE spelling -> Spark's STRUCT<...>. The one type
    * position token-local context can prove is `AS ROW(` — CAST/TRY_CAST
    * type arguments (an alias named ROW followed by a paren is not valid
    * SQL, so the pattern cannot misfire on aliases). Inside the
    * converted span every nested ROW( is also a type and converts
    * recursively; field-name/type pairs pass through unchanged (Spark's
    * STRUCT<a INT> colon is optional, and VARCHAR etc. were already
    * rewritten upstream). */
  private val asRowType = """(?i)\bAS\s+ROW\s*\(""".r
  private val rowTypeInner = """(?i)\bROW\s*\(""".r

  private def rowTypes(s: String, rx: Regex, to: String): String =
    rx.findFirstMatchIn(SqlScan.mask(s)) match {
      case None => s
      case Some(m) =>
        val close = SqlScan.closeParen(s, m.end - 1, "ROW type")
        s.substring(0, m.start) + to + rowTypes(s.substring(m.end, close), rowTypeInner, "STRUCT<") +
          ">" + rowTypes(s.substring(close + 1), rx, to)
    }

  /** Split a multi-statement script on the `;`s in its code —
    * trino-cli `--execute` scripted mode (`tf/test-hive.sh:14-24`). A
    * SQL-script compound statement, `BEGIN ... END` with its nested
    * blocks, stays one statement: a statement that starts with BEGIN
    * (after an optional `label:`) opens a body, and inside it every
    * BEGIN and CASE opens one more level that its END (or `END CASE`)
    * closes; `END IF`, `END WHILE`, `END LOOP`, `END REPEAT` and
    * `END FOR` close constructs that open no level. Only `;`s outside
    * every body cut. */
  def splitStatements(script: String): Seq[String] = {
    val tokens = """[A-Za-z_][A-Za-z0-9_]*|[;:]""".r
      .findAllMatchIn(SqlScan.mask(script)).toVector
    def word(i: Int): String = if (i < tokens.size) tokens(i).matched.toUpperCase else ""
    val cuts = Vector.newBuilder[Int]
    var depth = 0
    var atStart = true // no word of the current statement seen yet
    var i = 0
    while (i < tokens.size) {
      word(i) match {
        case ";" => if (depth == 0) { cuts += tokens(i).start; atStart = true }
        case ":" => ()
        case "BEGIN" if depth > 0 || atStart => depth += 1; atStart = false
        case "CASE" if depth > 0 => depth += 1
        case "END" if depth > 0 && !BlockEnds(word(i + 1)) =>
          depth -= 1
          if (word(i + 1) == "CASE") i += 1 // END CASE closes the CASE level
        case _ => if (word(i + 1) != ":") atStart = false
      }
      i += 1
    }
    val at = -1 +: cuts.result() :+ script.length
    at.sliding(2).map(w => script.substring(w(0) + 1, w(1)).trim).filter(_.nonEmpty).toSeq
  }

  /** The words after END that close a construct opening no level. */
  private val BlockEnds = Set("IF", "WHILE", "LOOP", "REPEAT", "FOR")
}

object GraftSql {

  private val explainAnalyze = """(?is)^\s*EXPLAIN\s+ANALYZE\s+(.*)$""".r

  /** Run one Trino-dialect statement.
    *
    * `EXPLAIN ANALYZE <query>` (Trino's executed-plan-with-metrics
    * statement, which Spark SQL lacks) executes the query and returns
    * the FINAL adaptive physical plan plus per-operator runtime
    * metrics as a single `plan` column. The query must run through its
    * OWN QueryExecution (toRdd-based, below) — a derived action like
    * `count()` finalizes a different plan and leaves this one's
    * metrics empty — and must NOT `collect()`: profiling a large query
    * may never materialize its result set on the driver.
    */
  def sql(spark: SparkSession, text: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    text match {
      case explainAnalyze(body) =>
        import spark.implicits._
        val df = spark.sql(TrinoDialect.rewrite(body))
        // Execute THIS QueryExecution without collecting: profiling a
        // large query must not pull its result set onto the driver.
        // toRdd runs the (adaptive) executed plan and populates the
        // same SQLMetrics a collect would.
        df.queryExecution.toRdd.foreach(_ => ())
        val exec = df.queryExecution.executedPlan
        val root = exec match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case other => other
        }
        val metricLines = Seq.newBuilder[String]
        def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
          val ms = p.metrics.toSeq
            .filter { case (_, m) => m.value > 0 }
            .sortBy(_._1)
            .map { case (k, m) => s"$k=${m.value}" }
          metricLines += ("  " * depth + p.nodeName +
            (if (ms.isEmpty) "" else ms.mkString(" [", ", ", "]")))
          // AQE stage wrappers are leaves whose real subtree hangs off
          // .plan; a ReusedExchange's subtree already printed once
          val kids = p match {
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
            case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Nil
            case other => other.children
          }
          kids.foreach(walk(_, depth + 1))
        }
        walk(root, 0)
        Seq(exec.toString + "\n== Runtime metrics ==\n" + metricLines.result().mkString("\n"))
          .toDF("plan")
      case _ => spark.sql(TrinoDialect.rewrite(text))
    }
  }

  /** Scripted mode: run every statement, return the results in order
    * (mirrors `trino-cli --execute` as used by walden's smoke test). */
  def execute(spark: SparkSession, script: String): Seq[DataFrame] =
    TrinoDialect.splitStatements(script).map(sql(spark, _))

  /** Parameterized statement — Trino's prepared-statement protocol
    * surface (walden's Python DBAPI client), on Spark's named-parameter
    * binding (no string splicing, injection-safe). */
  def sqlWith(spark: SparkSession, text: String, args: Map[String, Any]): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    spark.sql(TrinoDialect.rewrite(text), args)
  }
}
