package graft.sql

/** Trino's `UNNEST` relation — `FROM t CROSS JOIN UNNEST(a[, b...])
  * [WITH ORDINALITY] AS u(x[, y..., ord])` — as a source-to-source
  * rewrite onto Spark generators (the [[JsonTableSql]] seam:
  * `GraftSqlParser` for plain `spark.sql`, [[GraftSql.TrinoDialect]]
  * for scripts). Spark spells this `LATERAL VIEW explode(...)` and has
  * no UNNEST keyword, so Trino query text fails to parse without this.
  *
  * Supported (everything else rejects loudly by name):
  *  - one or more ARRAY arguments — multiple arrays ZIP positionally
  *    to the longest length, short arrays padding NULL (Trino
  *    semantics; `try_element_at` supplies the padding, so ANSI mode's
  *    out-of-bounds error never fires). CONSTRAINT: a text rewriter
  *    sees no types, so multi-argument UNNEST assumes every argument
  *    is an array — a MAP among several arguments is not detectable
  *    and would be element-looked-up by position; unnest maps in
  *    their own single-argument UNNEST (Trino queries that mix them
  *    must be split);
  *  - exactly one MAP argument with a two-column alias `(k, v)` —
  *    entries explode to key/value rows;
  *  - `WITH ORDINALITY` appends the 1-based position as the alias
  *    list's final column (BIGINT like Trino);
  *  - the alias column list is REQUIRED and its arity must match
  *    (argument count, +1 with ordinality; 2 for a map).
  *
  * Lowering: a correlated `LATERAL (SELECT ... FROM (SELECT
  * [pos]explode(...)))` — named typed columns, Catalyst-native
  * Generate, no UDFs. A preceding `CROSS JOIN` becomes the lateral
  * comma. Like Trino, UNNEST of an empty/NULL collection produces
  * zero rows.
  */
object UnnestSql {
  import SqlScan.{mask, splitTop}

  def rewrite(sql: String): String = {
    if (!sql.toUpperCase.contains("UNNEST")) return sql
    var out = sql
    var guard = 0
    var next = findKeyword(out)
    while (next.isDefined && guard < 32) {
      out = rewriteOne(out, next.get)
      next = findKeyword(out)
      guard += 1
    }
    out
  }

  private def findKeyword(sql: String): Option[Int] =
    """(?i)\bUNNEST\s*\(""".r.findFirstMatchIn(mask(sql)).map(_.start)

  private def rewriteOne(sql: String, kwStart: Int): String = {
    val open = sql.indexOf('(', kwStart)
    val close = SqlScan.closeParen(sql, open, "UNNEST")
    val args = splitTop(sql.substring(open + 1, close))
    require(args.nonEmpty && args.forall(_.nonEmpty),
      "UNNEST takes one or more array/map expressions")

    // [WITH ORDINALITY] [AS] alias(col[, ...])
    val tailText = sql.substring(close + 1)
    val tailRx = ("""(?is)^\s*(WITH\s+ORDINALITY\s+)?(?:AS\s+)?""" +
      """([A-Za-z_][A-Za-z0-9_]*)\s*\(([^)]*)\)""").r
    val m = tailRx.findFirstMatchIn(tailText).getOrElse(
      throw new IllegalArgumentException(
        "UNNEST needs an alias with a column list: " +
          "UNNEST(expr) [WITH ORDINALITY] AS u(x[, ...]) — Spark resolves " +
          "the generated columns by these names"))
    val ordinality = m.group(1) != null
    val alias = m.group(2)
    val names = m.group(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, s"UNNEST alias $alias needs at least one column name")
    val afterAlias = close + 1 + m.end

    val dataNames = if (ordinality) names.dropRight(1) else names
    val ordName = if (ordinality) Some(names.last) else None
    def ordSel(posExpr: String): List[String] =
      ordName.map(o => s"CAST($posExpr AS BIGINT) AS $o").toList

    // a rewriter sees no types, so the ARGUMENT/ALIAS ARITY decides the
    // shape (Trino's own rule: one array -> 1 column, a map -> 2, k
    // arrays -> k): 1 arg + 1 data name = array, 1 arg + 2 = map
    val lateralBody: String =
      if (args.length == 1 && dataNames.length == 2) {
        // A 1-arg 2-column UNNEST is lowered as a MAP. Trino also
        // accepts UNNEST(array(row(...))) AS t(a, b) here — a shape a
        // type-blind rewriter cannot distinguish from a map column, and
        // whose map lowering would die later in analysis. Reject the
        // provable constructor spelling by name; a NON-LITERAL
        // array-of-rows column with a 2-name alias still reaches
        // analysis, where the distinctive __un_map_k marker in the
        // failure names this map/array-of-rows ambiguity — the fix is
        // a 1-column alias + struct-field SELECT, or >= 3 alias columns.
        require(!args.head.matches("""(?is)^\s*array\s*\(.*"""),
          s"UNNEST(array(row(...))) AS $alias(a, b) is not supported — " +
            "a one-argument two-column UNNEST is lowered as a MAP " +
            "(Trino's arity rule); unnest the array with a one-column " +
            "alias and SELECT the struct fields instead")
        // map: [pos]explode(map) natively yields (key, value)
        if (ordinality)
          s"(SELECT __un_map_k AS ${dataNames(0)}, __un_map_v AS ${dataNames(1)}, " +
            s"${ordSel("__un_p + 1").head} FROM " +
            s"(SELECT posexplode(${args.head}) AS (__un_p, __un_map_k, __un_map_v)))"
        else
          s"(SELECT __un_map_k AS ${dataNames(0)}, __un_map_v AS ${dataNames(1)} FROM " +
            s"(SELECT explode(${args.head}) AS (__un_map_k, __un_map_v)))"
      } else if (args.length == 1 && dataNames.length >= 3) {
        // array-of-rows, Trino's UNNEST(array(row(...))) with >= 3
        // fields — unambiguous from arity alone (a map yields exactly
        // 2 columns). The struct's FIELD NAMES are unknown to a text
        // rewriter, so the lowering splats them positionally
        // (`__un_e.*`) and the alias's POSITIONAL COLUMN LIST does the
        // renaming (appended below); a field-count mismatch fails in
        // analysis with the alias arity named. The 2-field shape stays
        // a named rejection (map ambiguity).
        val sel = ("__un_e.*" +: ordSel("__un_p + 1")).mkString(", ")
        s"(SELECT $sel FROM (SELECT posexplode(${args.head}) AS (__un_p, __un_e)))"
      } else if (args.length == 1) {
        require(dataNames.length == 1,
          s"UNNEST of one argument yields 1 column (array), 2 (map), " +
            s"or >= 3 (array of rows); alias $alias names ${dataNames.length}")
        val sel = (s"__un_e AS ${dataNames.head}" +: ordSel("__un_p + 1")).mkString(", ")
        if (ordinality)
          s"(SELECT $sel FROM (SELECT posexplode(${args.head}) AS (__un_p, __un_e)))"
        else
          s"(SELECT $sel FROM (SELECT explode(${args.head}) AS __un_e))"
      } else {
        // multi-array zip to the LONGEST length, NULL-padded (Trino):
        // iterate 1..max(sizes), try_element_at pads past each array's
        // end (and never trips ANSI's array-index error). The struct is
        // built INSIDE the transform lambda; Spark's sequence(a, b)
        // generates DESCENDING when a > b, so the all-empty case needs
        // the explicit CASE to an empty array.
        require(dataNames.length == args.length,
          s"UNNEST of ${args.length} arrays yields ${args.length} columns; " +
            s"alias $alias names ${dataNames.length}")
        val sizes = args.map(a => s"size($a)").mkString(", ")
        val idxArr = s"CASE WHEN greatest($sizes) >= 1 THEN sequence(1, greatest($sizes)) " +
          "ELSE CAST(array() AS array<int>) END"
        val struct = args.zipWithIndex.map { case (a, i) =>
          s"try_element_at($a, CAST(__un_i AS INT)) AS __f$i"
        }.mkString(", ")
        val sel = (dataNames.zipWithIndex.map { case (n, i) =>
          s"__un_e.__f$i AS $n"
        } ++ ordSel("__un_p + 1")).mkString(", ")
        s"(SELECT $sel FROM (SELECT posexplode(transform($idxArr, " +
          s"__un_i -> struct($struct))) AS (__un_p, __un_e)))"
      }

    val before = sql.substring(0, kwStart)
    require(!before.trim.toUpperCase.endsWith("FROM"),
      "UNNEST must follow a relation: FROM <rel>, UNNEST(...) AS u(x) — " +
        "to unnest a literal, select it from a one-row relation first")
    val crossRx = """(?is)^(.*?)\bCROSS\s+JOIN\s*$""".r
    val beforeKept = before match {
      case crossRx(keep) => keep + ", "
      case _ => before
    }
    // the array-of-rows branch renames POSITIONALLY via the alias's
    // column list (the splatted struct fields carry their own names)
    val aliasText =
      if (args.length == 1 && dataNames.length >= 3)
        s"$alias(${names.mkString(", ")})"
      else alias
    beforeKept + s"LATERAL $lateralBody $aliasText" + sql.substring(afterAlias)
  }

}
