package graft.sql

/** Trino/SQL:2016 `JSON_TABLE` — the SQL/JSON table function (part of
  * the pinned Trino 468 surface) — as a source-to-source rewrite onto
  * Spark's native JSON kernels, the same seam MATCH_RECOGNIZE uses
  * ([[MatchRecognizeSql]]): `GraftSqlParser` applies it to plain
  * `spark.sql(...)` text and [[GraftSql.TrinoDialect]] to scripted
  * statements.
  *
  * Supported dialect subset (everything else rejects LOUDLY with the
  * feature named):
  *
  * {{{
  * FROM <rel>, JSON_TABLE(<expr>, '<rowpath>' [AS <pathname>]
  *   COLUMNS (
  *     <name> FOR ORDINALITY,
  *     <name> <type> PATH '<colpath>' [[NULL | DEFAULT <lit>] ON EMPTY/ERROR],
  *     NESTED [PATH] '<path>[*]' [AS <pathname>] COLUMNS (...), ...)
  *   [PLAN (<plan expr>) | PLAN DEFAULT (OUTER|INNER [, UNION|CROSS])]
  * ) [AS] <alias>
  * }}}
  *
  *  - `<rowpath>`: `[lax|strict] $[*]` or `[lax|strict] $.a.b[*]` — the
  *    row pattern must iterate an ARRAY (`[*]`-terminated). `lax` is
  *    the evaluation Spark's `get_json_object` provides (missing paths
  *    are NULL); `strict` is accepted and downgraded to lax semantics.
  *  - `<colpath>`: `[lax|strict] $.x...` evaluated against each array
  *    element; `<type>` maps Trino names onto Spark CAST targets.
  *  - `FOR ORDINALITY` is the 1-based row number within its array.
  *  - NESTED COLUMNS blocks nest to ARBITRARY depth (chains)
  *    and any block may carry MULTIPLE sibling NESTED paths — including
  *    siblings below the outermost level and siblings that themselves
  *    nest. The default plan is SQL:2016's (Trino 468's
  *    too): OUTER parent/child (a parent element whose every child
  *    block is empty emits one row with NULL child columns) and UNION
  *    siblings (per-sibling rows, the other siblings' columns NULL).
  *  - PLAN: `PLAN DEFAULT (OUTER|INNER [, UNION|CROSS])`
  *    sets the plan for every edge/sibling group; `PLAN (<expr>)` with
  *    `parent OUTER|INNER child`, `a UNION b`, `a CROSS b` and
  *    parentheses sets them per edge — path names come from the
  *    `AS <pathname>` clauses, which PLAN requires on every path it
  *    names. INNER drops parent elements with no child rows; CROSS
  *    combines siblings as a cross product (empty sibling → no rows
  *    for that parent element, then the parent edge's OUTER/INNER
  *    decides padding). Mixed UNION/CROSS at one level needs parens;
  *    a plan must cover every named block exactly once.
  *  - Column-level `NULL ON EMPTY/ERROR` is the default the lowering
  *    produces (accepted no-op); `DEFAULT <lit> ON EMPTY/ERROR`
  *    coalesces over the NULL. The lowering cannot DISTINGUISH empty
  *    from error (get_json_object yields NULL for both) — so `ERROR
  *    ON ...` and two DIFFERENT defaults are named rejections, and a
  *    present-but-JSON-null value (which Trino keeps as NULL — it is
  *    neither empty nor error) is ALSO filled by the default: all
  *    three NULL sources are indistinguishable at this seam. Pinned
  *    dialect gap.
  *  - Table-level ERROR ON ERROR / EMPTY ... ON EMPTY stay named
  *    rejections; default NULL ON ERROR semantics is what the
  *    lowering produces naturally.
  *
  * Lowering: a block with NO nested entries becomes a correlated
  * `LATERAL (SELECT CAST(get_json_object(elem, '<colpath>') AS <type>)
  * AS <name>, ... FROM (SELECT [pos]explode(from_json(<array>,
  * 'array<string>')) ...)) <alias>` — Catalyst's native Generate, one
  * pass, no UDFs, and the alias's columns resolve by NAME everywhere.
  * Nested blocks lower RECURSIVELY to one array-of-structs expression
  * per document — `transform` builds each level's rows in declaration
  * order (leaf and nested columns interleave exactly as declared,
  * matching Trino's output order), `concat`/nested `transform` apply
  * the UNION/CROSS sibling combinator, a size-gated pad row applies
  * OUTER edges — then ONE `explode` (still a single Generate, no UDFs)
  * flattens the assembled rows. Empty/NULL documents produce zero rows
  * (Trino's default inner semantics at the row path).
  */
object JsonTableSql {
  import SqlScan.{mask, splitTop}

  def rewrite(sql: String): String = {
    if (!sql.toUpperCase.contains("JSON_TABLE")) return sql
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

  /** First JSON_TABLE keyword position OUTSIDE string literals. */
  private def findKeyword(sql: String): Option[Int] = {
    val rx = """(?i)\bJSON_TABLE\s*\(""".r
    rx.findFirstMatchIn(mask(sql)).map(_.start)
  }

  private def closeParen(sql: String, open: Int): Int =
    SqlScan.closeParen(sql, open, "JSON_TABLE")

  private case class Col(name: String, castType: Option[String], path: Option[String],
                         onMissing: Option[String] = None)
  private sealed trait Entry
  private case class Leaf(c: Col) extends Entry
  private case class Nest(path: String, name: Option[String], block: Block) extends Entry
  /** `union`: how this block's sibling NESTED children combine (UNION
    * plan = true, CROSS = false); `outerChildren`: the parent/child
    * edge between this block's elements and its children (OUTER = pad
    * an all-NULL child row when every child is empty, INNER = drop the
    * parent element). Both default to SQL:2016's default plan. */
  private case class Block(entries: Seq[Entry], union: Boolean = true,
                           outerChildren: Boolean = true)

  private sealed trait Plan
  private case class PName(name: String) extends Plan
  private case class PEdge(parent: String, outer: Boolean, child: Plan) extends Plan
  private case class PComb(union: Boolean, parts: Seq[Plan]) extends Plan

  private val trinoTypes: Map[String, String] = Map(
    "VARCHAR" -> "STRING", "CHAR" -> "STRING", "JSON" -> "STRING",
    "INTEGER" -> "INT", "INT" -> "INT", "SMALLINT" -> "SMALLINT",
    "TINYINT" -> "TINYINT", "BIGINT" -> "BIGINT",
    "DOUBLE" -> "DOUBLE", "REAL" -> "FLOAT", "BOOLEAN" -> "BOOLEAN",
    "DATE" -> "DATE", "TIMESTAMP" -> "TIMESTAMP",
    // Spark spellings pass through too: on the SCRIPTED path the
    // TrinoDialect type rewrites (bare VARCHAR -> STRING, VARBINARY ->
    // BINARY) run BEFORE this lowering, so the COLUMNS block may
    // already carry Spark names
    "STRING" -> "STRING", "BINARY" -> "BINARY", "FLOAT" -> "FLOAT")

  private def mapType(t: String): String = {
    val base = t.toUpperCase.replaceAll("""\s*\(.*\)\s*$""", "").trim
    if (base == "DECIMAL" || base == "NUMERIC") t.toUpperCase // keep (p,s)
    else trinoTypes.getOrElse(base, throw new IllegalArgumentException(
      s"JSON_TABLE: unsupported column type '$t' — supported: " +
        trinoTypes.keys.toSeq.sorted.mkString(", ") + ", DECIMAL(p,s)"))
  }

  /** Clause keywords that can follow `JSON_TABLE(...)` when the alias
    * is omitted — never valid aliases. */
  private val aliasReserved = Set(
    "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "OFFSET", "FETCH",
    "JOIN", "ON", "USING", "CROSS", "LEFT", "RIGHT", "FULL", "INNER",
    "NATURAL", "LATERAL", "UNION", "EXCEPT", "INTERSECT", "MINUS",
    "WINDOW", "QUALIFY", "AND", "OR")

  /** Strip the SQL/JSON mode keyword; require a '$'-rooted path. */
  private def stripMode(p: String): String = {
    val s = p.trim.replaceAll("""(?i)^(lax|strict)\s+""", "").trim
    require(s.startsWith("$"),
      "JSON_TABLE: path must be $-rooted, got '" + p + "'")
    s
  }

  // ---------------------------------------------------------------- parse

  private val ordRx = """(?is)^\s*([A-Za-z_][A-Za-z0-9_]*)\s+FOR\s+ORDINALITY\s*$""".r
  private val colRx = ("""(?is)^\s*([A-Za-z_][A-Za-z0-9_]*)\s+""" +
    """([A-Za-z]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s+PATH\s+'((?:[^']|'')*)'\s*(.*?)\s*$""").r
  private val nestedRx =
    ("""(?is)^\s*NESTED\s+(?:PATH\s+)?'((?:[^']|'')*)'\s*""" +
      """(?:AS\s+([A-Za-z_][A-Za-z0-9_]*)\s+)?COLUMNS\s*\((.*)\)\s*$""").r
  // column-level SQL/JSON behaviors: `NULL ON EMPTY/ERROR`
  // is the default the lowering already produces (accepted, no-op);
  // `DEFAULT <literal> ON EMPTY/ERROR` coalesces over the NULL. The
  // lowering cannot DISTINGUISH empty from error (get_json_object
  // yields NULL for both) nor raise per-row errors, so `ERROR ON ...`
  // and two DIFFERENT defaults are named rejections.
  private val behaviorRx =
    """(?is)^(NULL|ERROR|DEFAULT\s+('(?:[^']|'')*'|[-+0-9.Ee]+))\s+ON\s+(EMPTY|ERROR)\s*(.*)$""".r

  private def parseBehaviors(name: String, tail0: String): Option[String] = {
    var tail = tail0.trim
    var dflt: Option[String] = None
    while (tail.nonEmpty) tail match {
      case behaviorRx(kind, lit, _, rest) =>
        val k = kind.toUpperCase
        if (k.startsWith("ERROR")) throw new IllegalArgumentException(
          s"JSON_TABLE column $name: ERROR ON EMPTY/ERROR is not supported — " +
            "the lowering produces NULL (the SQL/JSON default) and cannot " +
            "raise per-row errors")
        if (k.startsWith("DEFAULT")) {
          if (dflt.exists(_ != lit)) throw new IllegalArgumentException(
            s"JSON_TABLE column $name: two DIFFERENT defaults for ON EMPTY vs " +
              "ON ERROR are not supported — the lowering cannot distinguish a " +
              "missing path from a malformed document (both read as NULL)")
          dflt = Some(lit)
        }
        tail = rest.trim
      case other => throw new IllegalArgumentException(
        s"JSON_TABLE column $name: unsupported trailing clause '$other' — " +
          "supported: [NULL | DEFAULT <literal>] ON EMPTY / ON ERROR")
    }
    dflt
  }

  private def parseLeaf(entry: String): Col = entry match {
    case ordRx(n) => Col(n, None, None)
    case colRx(n, t, p, tail) =>
      Col(n, Some(mapType(t)), Some(stripMode(p)), parseBehaviors(n, tail))
    case other => throw new IllegalArgumentException(
      s"JSON_TABLE: unsupported COLUMNS entry '${other.trim}' — supported: " +
        "name FOR ORDINALITY | name <type> PATH '<path>' " +
        "[[NULL | DEFAULT <lit>] ON EMPTY/ERROR] | " +
        "NESTED PATH '<path>[*]' [AS name] COLUMNS (...)")
  }

  /** A COLUMNS block: leaf and NESTED entries, DECLARATION ORDER kept
    * (Trino preserves it in the output schema). */
  private def parseBlock(block: String): Block = {
    val entries = splitTop(block).map { e =>
      nestedRx.findFirstMatchIn(e) match {
        case Some(m) =>
          val np = stripMode(m.group(1))
          require(np.endsWith("[*]"),
            s"JSON_TABLE NESTED PATH must iterate an array ('$$.a[*]'), got '${m.group(1)}'")
          Nest(np, Option(m.group(2)), parseBlock(m.group(3)))
        case None => Leaf(parseLeaf(e))
      }
    }
    require(entries.nonEmpty, "JSON_TABLE: COLUMNS must name at least one column")
    Block(entries)
  }

  /** All output columns of a block's subtree with their Spark types,
    * in declaration order (nested columns interleave where their
    * NESTED entry was declared — Trino's output order). */
  private def subtreeCols(b: Block): Seq[(String, String)] = b.entries.flatMap {
    case Leaf(c) => Seq(c.name -> c.castType.getOrElse("INT"))
    case n: Nest => subtreeCols(n.block)
  }

  private def mapBlocks(b: Block)(f: Block => Block): Block = {
    val b2 = f(b)
    b2.copy(entries = b2.entries.map {
      case n: Nest => n.copy(block = mapBlocks(n.block)(f))
      case e => e
    })
  }

  // ----------------------------------------------------------------- PLAN

  /** `PLAN (<expr>)` — `parent OUTER|INNER child`, `a UNION b`,
    * `a CROSS b`, parens. Mixing UNION and CROSS at one level without
    * parens is ambiguous in SQL:2016 and a named rejection here. */
  private def parsePlanExpr(s: String): Plan = {
    require(s.replaceAll("""[A-Za-z_][A-Za-z0-9_]*|[()\s]+""", "").isEmpty,
      s"JSON_TABLE PLAN: unsupported characters in plan '$s'")
    val toks = """[A-Za-z_][A-Za-z0-9_]*|\(|\)""".r.findAllIn(s).toVector
    var pos = 0
    def peek: Option[String] =
      if (pos < toks.length) Some(toks(pos).toUpperCase) else None
    def next(): String = { val t = toks(pos); pos += 1; t }
    def expr(): Plan = {
      var parts = Vector(term())
      var comb: Option[Boolean] = None
      while (peek.contains("UNION") || peek.contains("CROSS")) {
        val u = next().toUpperCase == "UNION"
        require(comb.forall(_ == u),
          "JSON_TABLE PLAN: mixed UNION and CROSS at one level — parenthesize")
        comb = Some(u)
        parts :+= term()
      }
      comb.fold(parts.head)(u => PComb(u, parts))
    }
    def term(): Plan = peek match {
      case Some("(") =>
        next(); val e = expr()
        require(peek.contains(")"), "JSON_TABLE PLAN: expected ')'")
        next(); e
      case Some(t) if !Set(")", "OUTER", "INNER", "UNION", "CROSS").contains(t) =>
        val name = next()
        peek match {
          case Some(m @ ("OUTER" | "INNER")) => next(); PEdge(name, m == "OUTER", term())
          case _ => PName(name)
        }
      case other => throw new IllegalArgumentException(
        s"JSON_TABLE PLAN: unexpected token ${other.getOrElse("<end>")}")
    }
    val e = expr()
    require(pos == toks.length, "JSON_TABLE PLAN: trailing tokens after plan")
    e
  }

  /** Validate the plan against the parsed block tree (every named path
    * covered exactly once, parent/child relations matching) and stamp
    * per-edge OUTER/INNER and per-group UNION/CROSS onto the blocks. */
  private def applyPlan(top: Block, rootName: Option[String], plan: Plan): Block = {
    val root = rootName.getOrElse(throw new IllegalArgumentException(
      "JSON_TABLE PLAN: the row path needs a name — '<rowpath>' AS <name>"))
    // unquoted SQL identifiers case-fold (SQL:2016 / Trino): PLAN
    // names match AS names case-insensitively
    def fold(n: String): String = n.toUpperCase
    def nameOf(p: Plan): String = p match {
      case PName(n) => fold(n)
      case PEdge(n, _, _) => fold(n)
      case _: PComb => throw new IllegalArgumentException(
        "JSON_TABLE PLAN: a parenthesized sibling group cannot itself be a " +
          "sibling — name each path directly")
    }
    def applyTo(b: Block, name: String, p: Plan): Block = p match {
      case PName(n) =>
        require(fold(n) == fold(name),
          s"JSON_TABLE PLAN: expected path '$name', got '$n'")
        require(!b.entries.exists(_.isInstanceOf[Nest]),
          s"JSON_TABLE PLAN: path '$n' has NESTED paths the plan does not cover")
        b
      case PEdge(parent, outer, child) =>
        require(fold(parent) == fold(name),
          s"JSON_TABLE PLAN: expected path '$name', got '$parent'")
        val nests = b.entries.collect { case n: Nest => n }
        require(nests.nonEmpty,
          s"JSON_TABLE PLAN: path '$parent' has no NESTED paths but the plan gives it children")
        val (union, parts) = child match {
          case PComb(u, ps) => (u, ps)
          case single => (b.union, Seq(single))
        }
        require(parts.length == nests.length,
          s"JSON_TABLE PLAN: path '$parent' has ${nests.length} NESTED path(s) but " +
            s"the plan names ${parts.length}")
        val byName = parts.map(p2 => nameOf(p2) -> p2).toMap
        require(byName.size == parts.length,
          s"JSON_TABLE PLAN: a path is named twice under '$parent'")
        // duplicate AS names among the siblings would let one plan part
        // apply to BOTH while another part went silently unconsumed
        val nestNames = nests.flatMap(_.name).map(fold)
        require(nestNames.distinct.size == nestNames.size,
          s"JSON_TABLE PLAN: duplicate AS path names under '$parent': " +
            nestNames.diff(nestNames.distinct).distinct.mkString(", "))
        val newEntries = b.entries.map {
          case n: Nest =>
            val nm = n.name.getOrElse(throw new IllegalArgumentException(
              "JSON_TABLE PLAN requires AS names on every NESTED path it covers"))
            val sub = byName.getOrElse(fold(nm), throw new IllegalArgumentException(
              s"JSON_TABLE PLAN: does not cover path '$nm'"))
            n.copy(block = applyTo(n.block, nm, sub))
          case e => e
        }
        b.copy(entries = newEntries, union = union, outerChildren = outer)
      case _: PComb => throw new IllegalArgumentException(
        "JSON_TABLE PLAN: the plan root must be the row path name")
    }
    applyTo(top, root, plan)
  }

  // -------------------------------------------------------------- lowering

  /** The JSON-array expression a `[*]`-terminated path selects off an
    * element (or the element itself for `$[*]`). */
  private def arrOf(elem: String, path: String): String = {
    val p = path.stripSuffix("[*]")
    if (p == "$") elem else s"get_json_object($elem, '${p.stripSuffix(".")}')"
  }

  /** One leaf column's value off element `elem` at 0-based index `idx`. */
  private def leafVal(elem: String, idx: String, c: Col): String =
    if (c.castType.isEmpty) s"CAST($idx + 1 AS INT)"
    else {
      // PATH '$' selects the element ITSELF — required for arrays of
      // SCALARS, whose elements are not parseable JSON documents
      val raw =
        if (c.path.get == "$") s"CAST($elem AS ${c.castType.get})"
        else s"CAST(get_json_object($elem, '${c.path.get}') AS ${c.castType.get})"
      c.onMissing.fold(raw)(d => s"coalesce($raw, CAST($d AS ${c.castType.get}))")
    }

  private def nullStruct(cols: Seq[(String, String)]): String =
    s"named_struct(${cols.map { case (n, t) => s"'$n', CAST(NULL AS $t)" }.mkString(", ")})"

  /** RECURSIVE lowering of a block over a JSON-array expression to one
    * `array<struct<subtree cols>>` expression: `transform` builds each
    * element's rows (leaf values + child rows, declaration order),
    * UNION siblings concat with cross-padding, CROSS siblings nest
    * transforms into a product, an OUTER edge pads one all-NULL child
    * row when every child is empty (the `transform(array(x), c -> …)[0]`
    * wrapper binds the combined rows ONCE — no re-evaluation), and
    * `flatten` splices the per-element row arrays. Evaluated per
    * DOCUMENT, exploded once at the top — document-sized intermediate
    * state, one Generate in the plan. */
  private def blockRows(arrJson: String, b: Block, d: Int): String = {
    val x = s"__jx$d"; val i = s"__ji$d"
    val elems = s"coalesce(from_json($arrJson, 'array<string>'), array())"
    val nests = b.entries.collect { case n: Nest => n }
    val perElem: String =
      if (nests.isEmpty) {
        val fields = b.entries.collect {
          case Leaf(c) => s"'${c.name}', ${leafVal(x, i, c)}"
        }
        s"array(named_struct(${fields.mkString(", ")}))"
      } else {
        val parts = nests.map(n => (n, blockRows(arrOf(x, n.path), n.block, d + 1)))
        val allNestCols = nests.flatMap(n => subtreeCols(n.block))
        val combined: String =
          if (nests.length == 1) parts.head._2
          else if (b.union) {
            // UNION plan: each sibling's rows, the other siblings'
            // columns NULL — pad each struct to the union of columns
            val padded = parts.map { case (n, rowsExpr) =>
              val own = subtreeCols(n.block).map(_._1).toSet
              val v = s"__jp$d"
              val fields = allNestCols.map { case (nm, t) =>
                if (own(nm)) s"'$nm', $v.$nm" else s"'$nm', CAST(NULL AS $t)"
              }
              s"transform($rowsExpr, $v -> named_struct(${fields.mkString(", ")}))"
            }
            s"concat(${padded.mkString(", ")})"
          } else {
            // CROSS plan: left-fold cross product of the sibling row
            // sets (an empty sibling empties the product — then the
            // parent edge's OUTER/INNER decides). The right side binds
            // ONCE via the transform(array(x), v -> ...)[0] device —
            // inlining it under the per-left-row lambda would re-parse
            // and re-assemble that sibling's whole subtree once per
            // left row.
            parts.map { case (n, rowsExpr) =>
              (rowsExpr, subtreeCols(n.block))
            }.reduceLeft[(String, Seq[(String, String)])] {
              case ((accRows, accCols), (nextRows, nextCols)) =>
                val a = s"__ja${d}_${accCols.length}"
                val c = s"__jb${d}_${accCols.length}"
                val bnd = s"__jn${d}_${accCols.length}"
                val fields = (accCols.map { case (nm, _) => s"'$nm', $a.$nm" } ++
                  nextCols.map { case (nm, _) => s"'$nm', $c.$nm" }).mkString(", ")
                (s"transform(array($nextRows), $bnd -> " +
                  s"flatten(transform($accRows, $a -> transform($bnd, $c -> named_struct($fields)))))[0]",
                  accCols ++ nextCols)
            }._1
          }
        val withPad =
          if (b.outerChildren)
            s"transform(array($combined), __jc$d -> " +
              s"if(size(__jc$d) = 0, array(${nullStruct(allNestCols)}), __jc$d))[0]"
          else combined
        val r = s"__jr$d"
        val rowFields = b.entries.flatMap {
          case Leaf(c) => Seq(s"'${c.name}', ${leafVal(x, i, c)}")
          case n: Nest => subtreeCols(n.block).map { case (nm, _) => s"'$nm', $r.$nm" }
        }
        s"transform($withPad, $r -> named_struct(${rowFields.mkString(", ")}))"
      }
    s"flatten(transform($elems, ($x, $i) -> $perElem))"
  }

  private def rewriteOne(sql: String, kwStart: Int): String = {
    val open = sql.indexOf('(', kwStart)
    val close = closeParen(sql, open)
    val inside = sql.substring(open + 1, close)

    // alias after the closing paren: [AS] ident. A bare identifier
    // regex would capture a following clause keyword (WHERE/GROUP/...)
    // as the alias when the alias is omitted, silently reshaping the
    // query — reject keywords so the alias-required error fires.
    val aliasRx = """(?is)^\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)""".r
    val tailText = sql.substring(close + 1)
    val aliasM = aliasRx.findFirstMatchIn(tailText)
      .filterNot(m => aliasReserved.contains(m.group(1).toUpperCase))
      .getOrElse(throw new IllegalArgumentException(
        "JSON_TABLE needs an alias: JSON_TABLE(...) [AS] t"))
    val alias = aliasM.group(1)
    val afterAlias = close + 1 + aliasM.end

    // args: <expr> , '<rowpath>' [AS name] COLUMNS ( ... ) [PLAN ...]
    val parts = splitTop(inside)
    require(parts.length == 2,
      s"JSON_TABLE takes (expr, 'row path' COLUMNS (...)), got ${parts.length} " +
        "top-level arguments")
    val expr = parts(0).trim
    val pathCols = parts(1).trim
    val headRx =
      """(?is)^\s*'((?:[^']|'')*)'\s*(?:AS\s+([A-Za-z_][A-Za-z0-9_]*)\s+)?COLUMNS\s*\(""".r
    val headM = headRx.findFirstMatchIn(pathCols).getOrElse(
      throw new IllegalArgumentException(
        s"JSON_TABLE: expected '<row path>' [AS name] COLUMNS (...), got '$pathCols'"))
    val rowPathRaw = headM.group(1)
    val rootName = Option(headM.group(2))
    val colsOpen = headM.end - 1
    val colsClose = closeParen(pathCols, colsOpen)
    val colsBlock = pathCols.substring(colsOpen + 1, colsClose)

    // trailing clauses after COLUMNS(...): PLAN is supported; ON ERROR
    // / ON EMPTY stay honest dialect gaps, pinned
    var clauseTail = pathCols.substring(colsClose + 1).trim
    var planDefault: Option[(Option[Boolean], Option[Boolean])] = None
    var planExpr: Option[Plan] = None
    if (clauseTail.toUpperCase.startsWith("PLAN")) {
      val rest = clauseTail.substring(4).trim
      val isDefault = rest.toUpperCase.startsWith("DEFAULT")
      val body0 = if (isDefault) rest.substring(7).trim else rest
      require(body0.startsWith("("),
        "JSON_TABLE PLAN: expected '(' after PLAN" + (if (isDefault) " DEFAULT" else ""))
      val pc = SqlScan.closeParen(body0, 0, "JSON_TABLE PLAN")
      val inner = body0.substring(1, pc)
      if (isDefault) {
        var outerD: Option[Boolean] = None
        var unionD: Option[Boolean] = None
        splitTop(inner).map(_.toUpperCase).foreach {
          case m @ ("OUTER" | "INNER") =>
            require(outerD.isEmpty,
              s"JSON_TABLE PLAN DEFAULT: duplicate edge modifier in '$inner'")
            outerD = Some(m == "OUTER")
          case m @ ("UNION" | "CROSS") =>
            require(unionD.isEmpty,
              s"JSON_TABLE PLAN DEFAULT: duplicate sibling modifier in '$inner'")
            unionD = Some(m == "UNION")
          case _ => throw new IllegalArgumentException(
            s"JSON_TABLE PLAN DEFAULT: unsupported modifier list '$inner' — " +
              "expected OUTER|INNER [, UNION|CROSS]")
        }
        planDefault = Some((outerD, unionD))
      } else planExpr = Some(parsePlanExpr(inner))
      clauseTail = body0.substring(pc + 1).trim
    }
    if (clauseTail.nonEmpty) {
      val up = clauseTail.toUpperCase
      if (up.contains("ON ERROR") || up.contains("ON EMPTY"))
        throw new IllegalArgumentException(
          "JSON_TABLE ON ERROR / ON EMPTY clauses are not supported — the lowering " +
            "produces the default NULL ON ERROR semantics")
      throw new IllegalArgumentException(
        s"JSON_TABLE: unsupported trailing clause '$clauseTail'")
    }

    // row path -> the array-of-json-strings expression
    val rowPath = stripMode(rowPathRaw)
    require(rowPath.endsWith("[*]"),
      s"JSON_TABLE: the row path must iterate an array ('$$[*]' or '$$.a[*]'), got '$rowPathRaw'")
    val arrayExpr = arrOf(expr, rowPath)

    var top = parseBlock(colsBlock)
    val allNames = subtreeCols(top).map(_._1)
    require(allNames.distinct.size == allNames.size,
      s"JSON_TABLE: duplicate column names across COLUMNS blocks: " +
        allNames.diff(allNames.distinct).distinct.mkString(", "))
    planDefault.foreach { case (o, u) =>
      top = mapBlocks(top)(blk => blk.copy(
        union = u.getOrElse(blk.union),
        outerChildren = o.getOrElse(blk.outerChildren)))
    }
    planExpr.foreach { p => top = applyPlan(top, rootName, p) }

    // lower to a LATERAL subquery yielding properly NAMED typed columns
    // — t.ln resolves naturally, SELECT t.ln keeps the name "ln", and
    // no reference rewriting is needed anywhere in the statement
    val hasNest = top.entries.exists(_.isInstanceOf[Nest])
    val body =
      if (!hasNest) {
        // fast path (no nesting): direct [pos]explode Generate, fully
        // codegen'd column projections — the common shape
        val cols = top.entries.collect { case Leaf(c) => c }
        val hasOrd = cols.exists(_.castType.isEmpty)
        val colExprs = cols.map { c =>
          s"${leafVal("__jt_e", "__jt_p", c)} AS ${c.name}"
        }
        val inner =
          if (hasOrd)
            s"(SELECT posexplode(from_json($arrayExpr, 'array<string>')) AS (__jt_p, __jt_e))"
          else
            s"(SELECT explode(from_json($arrayExpr, 'array<string>')) AS __jt_e)"
        s"SELECT ${colExprs.mkString(", ")} FROM $inner"
      } else {
        val rowsTop = blockRows(arrayExpr, top, 0)
        val outCols = subtreeCols(top)
        s"SELECT ${outCols.map { case (n, _) => s"__jt_r.$n AS $n" }.mkString(", ")} " +
          s"FROM (SELECT explode($rowsTop) AS __jt_r)"
      }
    val lateral = s"LATERAL ($body) $alias"

    // a lateral join needs a left relation: FROM-only JSON_TABLE has no
    // row to evaluate <expr> on; a preceding CROSS JOIN becomes a comma
    val before = sql.substring(0, kwStart)
    require(!before.trim.toUpperCase.endsWith("FROM"),
      "JSON_TABLE must follow a relation: FROM <rel>, JSON_TABLE(...) AS t " +
        "— a FROM-only source has no row to evaluate <expr> on")
    val crossRx = """(?is)^(.*?)\bCROSS\s+JOIN\s*$""".r
    val beforeKept = before match {
      case crossRx(keep) => keep + ", "
      case _ => before
    }
    beforeKept + lateral + sql.substring(afterAlias)
  }
}
