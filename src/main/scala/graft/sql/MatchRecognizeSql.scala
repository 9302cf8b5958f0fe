package graft.sql

import scala.collection.mutable.LinkedHashMap
import scala.util.matching.Regex

/** Trino-syntax `MATCH_RECOGNIZE` as SQL TEXT: a
  * source-to-source rewrite lowering the SQL:2016 clause onto the
  * `graft_match_recognize` table function, which runs
  * [[graft.operators.PatternMatch]] — same NFA, measures and skip
  * semantics the operator API exposes. Wired into every session two
  * ways: the injected parser ([[GraftSqlParser]], via
  * `GraftExtensions.injectParser`) rewrites text before Spark's parser
  * sees it, and [[TrinoDialect.rewrite]] applies the same pass for
  * GraftSql scripts — so the clause a SQL Lab user types against the
  * reference's Trino 468 [pinned `docker/devserver/Dockerfile:14`]
  * parses here too.
  *
  * Supported (the Trino core):
  * {{{
  *   <table | (subquery)> MATCH_RECOGNIZE (
  *     PARTITION BY c [, ...]            -- required: a global pattern
  *                                       -- serializes one task
  *     ORDER BY c [ASC | DESC] [NULLS FIRST | LAST] [, ...]
  *     [MEASURES [RUNNING|FINAL] agg(S.f) AS name, COUNT(S.*) AS n,
  *       MATCH_NUMBER() AS mn, CLASSIFIER([S]) AS c, S.f AS v, ...]
  *       -- allowed in BOTH modes; ALL ROWS defaults to RUNNING
  *     [ONE ROW PER MATCH | ALL ROWS PER MATCH
  *       [OMIT EMPTY MATCHES | SHOW EMPTY MATCHES | WITH UNMATCHED ROWS]]
  *     [AFTER MATCH SKIP PAST LAST ROW | SKIP TO NEXT ROW
  *       | SKIP TO [FIRST|LAST] sym_or_subset]
  *     [SUBSET U = (A, B) [, ...]]       -- MEASURES + SKIP TO unions
  *     PATTERN ( <symbols with | ( ) * + ? {n} {n,} {n,m} PERMUTE(..)> )
  *     [DEFINE S AS cond [, ...]]        -- cond may use S.col,
  *                                       -- PREV/NEXT(S.col [, n]) and
  *                                       -- FIRST/LAST(S.col)
  *   ) [AS alias]
  * }}}
  *
  * PREV/NEXT become lag/lead window columns on a wrapped source — the
  * operator's Spark-first navigation contract — and because that
  * window hash-clusters and sorts by the same keys, the matcher skips
  * its own exchange (prePartitioned), keeping the SQL spelling at ONE
  * shuffle like the hand-written operator calls. FIRST/LAST(sym.col)
  * inside DEFINE is classifier-history navigation — it
  * reads the match-so-far's classification, so it CANNOT precompute
  * as a window column: each distinct reference becomes a placeholder
  * the matcher binds during the NFA walk
  * ([[graft.operators.PatternMatch.NavRef]]). Also supported:
  * NULLS FIRST/LAST ordering (threaded through the matcher sort AND
  * the nav windows), SKIP TO a SUBSET variable (member-union resume
  * point), PERMUTE(e1, ..., en) (lexicographic-preference
  * alternation, capped at 6 elements), ALL ROWS PER MATCH SHOW EMPTY
  * MATCHES and WITH UNMATCHED ROWS, anchors (^ $), exclusions
  * ({- -} — output suppression, measures still fed), the FIRST/LAST
  * occurrence argument in both DEFINE and MEASURES, and PREV/NEXT in
  * MEASURES (lowered to [RUNNING|FINAL] LAST over the nav window
  * column — the SQL:2016 physical-navigation-at-LAST semantics),
  * DESC ordering, SKIP TO NEXT ROW (overlapping matches), SKIP TO
  * FIRST/LAST symbol, SUBSET in MEASURES, MEASURES under ALL ROWS
  * with RUNNING/FINAL semantics, and CLASSIFIER().
  * Cross-symbol and SUBSET references in DEFINE carry the standard's
  * RUNNING LAST semantics through the same machinery; bare ALL ROWS
  * defaults to SHOW EMPTY MATCHES and ONE ROW always summarizes empty
  * matches (both per SQL:2016). Nested navigation
  * (PREV/NEXT(FIRST/LAST(S.c, k), n)) composes the two lowerings:
  * history anchors the row, the lag/lead column supplies the physical
  * offset. Navigation over arbitrary expressions (PREV(A.v + 1),
  * FIRST(D.a * 1.02), SUM(CAST(D.v < 50 AS INT)) in MEASURES) lowers
  * each one-symbol expression onto a synthetic source column — see
  * xlateExprArgs. CLASSIFIER() and MATCH_NUMBER() inside DEFINE lower
  * onto the same matcher-bound placeholder pool — CLASSIFIER() folds
  * to the defining symbol's name (RUNNING LAST = the candidate row's
  * tentative label), CLASSIFIER(S) / FIRST/LAST(CLASSIFIER([S])[, k])
  * navigate the in-flight classification, PREV(CLASSIFIER()[, n])
  * reads the physical predecessor's label (NULL before the match
  * start), and MATCH_NUMBER() is the number the in-flight match will
  * take (see xlateClassifier). The remaining rejections, LOUD with the
  * feature named, are all DIALECT PARITY, not gaps — Trino rejects the
  * same spellings (its pattern-recognition rules allow nesting ONLY
  * logical navigation (FIRST/LAST) inside physical (PREV/NEXT), never
  * PREV(PREV(..)), FIRST(LAST(..)) or navigation around them):
  * navigation nested deeper than PREV/NEXT(FIRST/LAST(...)),
  * expressions mixing two pattern variables inside one navigation
  * (SQL:2016 forbids those too), NEXT(CLASSIFIER()) (future rows are
  * unclassified), and CLASSIFIER/MATCH_NUMBER inside a navigated
  * expression. MatchRecognizeSqlSpec pins each rejection message.
  */
object MatchRecognizeSql {
  import SqlScan.{closeParen, mask, openParen, splitTop}

  /** Rewrite every `MATCH_RECOGNIZE` clause in `sql`; text without the
    * keyword passes through untouched (one cheap uppercase scan). */
  def rewrite(sql: String): String = {
    if (!sql.toUpperCase.contains("MATCH_RECOGNIZE")) return sql
    val m = mask(sql)
    KwRx.findFirstMatchIn(m) match {
      case None => sql
      case Some(k) =>
        var open = k.end
        while (open < m.length && m.charAt(open).isWhitespace) open += 1
        require(open < m.length && m.charAt(open) == '(',
          "MATCH_RECOGNIZE must be followed by a parenthesized clause body")
        val close = closeParen(sql, open, "MATCH_RECOGNIZE body")
        // the source sits immediately left of the keyword: either a
        // parenthesized subquery or a (possibly qualified) identifier
        var srcEnd = k.start
        while (srcEnd > 0 && m.charAt(srcEnd - 1).isWhitespace) srcEnd -= 1
        require(srcEnd > 0, "MATCH_RECOGNIZE has no source table")
        val srcStart =
          if (m.charAt(srcEnd - 1) == ')') openParen(sql, srcEnd - 1, "MATCH_RECOGNIZE source")
          else {
            var i = srcEnd
            while (i > 0 && (m.charAt(i - 1).isLetterOrDigit ||
              "_.`\"".indexOf(sql.charAt(i - 1)) >= 0)) i -= 1
            require(i < srcEnd,
              "MATCH_RECOGNIZE source must be a table name or (subquery)")
            i
          }
        val call = translate(sql.substring(srcStart, srcEnd),
          sql.substring(open + 1, close))
        // recurse for further occurrences (and nested ones in the src)
        rewrite(sql.substring(0, srcStart) + call + sql.substring(close + 1))
    }
  }

  private val KwRx = """(?i)\bMATCH_RECOGNIZE\b""".r
  private val Ident = """[A-Za-z_][A-Za-z0-9_]*"""

  private def translate(src: String, body: String): String = {
    val m = mask(body)
    val depth = {
      val d = new Array[Int](m.length)
      var cur = 0
      var i = 0
      while (i < m.length) {
        if (m.charAt(i) == '(') { d(i) = cur; cur += 1 }
        else if (m.charAt(i) == ')') { cur -= 1; d(i) = cur }
        else d(i) = cur
        i += 1
      }
      d
    }
    val clauseRx: Seq[(String, Regex)] = Seq(
      "PARTITION" -> """(?i)\bPARTITION\s+BY\b""".r,
      "ORDER" -> """(?i)\bORDER\s+BY\b""".r,
      "MEASURES" -> """(?i)\bMEASURES\b""".r,
      "ONEROW" -> """(?i)\bONE\s+ROW\s+PER\s+MATCH\b""".r,
      "ALLROWS" -> """(?i)\bALL\s+ROWS\s+PER\s+MATCH\b""".r,
      "AFTER" -> """(?i)\bAFTER\s+MATCH\b""".r,
      "PATTERN" -> """(?i)\bPATTERN\b""".r,
      "SUBSET" -> """(?i)\bSUBSET\b""".r,
      "DEFINE" -> """(?i)\bDEFINE\b""".r)
    val hits = clauseRx.flatMap { case (name, rx) =>
      rx.findAllMatchIn(m).filter(h => depth(h.start) == 0)
        .map(h => (h.start, h.end, name))
    }.sortBy(_._1)
    require(hits.nonEmpty, "empty MATCH_RECOGNIZE body")
    val names = hits.map(_._3)
    require(names.distinct.length == names.length,
      s"duplicate MATCH_RECOGNIZE clause: ${names.diff(names.distinct).mkString(",")}")
    // SUBSET: union variables usable in MEASURES — each
    // expands to the matcher's "A|B" union spelling. DEFINE/PATTERN may
    // not reference them (a subset never classifies rows).
    val seg: Map[String, String] = hits.zipWithIndex.map { case ((_, e, name), i) =>
      val until = if (i + 1 < hits.length) hits(i + 1)._1 else body.length
      name -> body.substring(e, until).trim
    }.toMap
    def segOf(n: String, what: String): String = seg.getOrElse(n,
      throw new IllegalArgumentException(s"MATCH_RECOGNIZE needs a $what clause"))

    // ---- PARTITION BY / ORDER BY: identifier lists; ORDER BY entries
    // may carry ASC/DESC (per-column direction — the matcher
    // reads each key group in exactly the declared order, so DESC
    // reverses the stream the NFA walks); NULLS FIRST/LAST named loudly
    def colList(text: String, what: String): Seq[String] =
      splitTop(text).map { c0 =>
        val c = c0.trim
        require(c.matches(Ident + """(\.""" + Ident + """)?"""),
          s"MATCH_RECOGNIZE $what entries must be plain columns, got '$c' " +
            "(compute expressions in a subquery source)")
        c
      }
    // (column, ascending, explicit-nulls-first) triples — rendered back
    // as "col DESC NULLS LAST" etc. for the TVF and the nav windows,
    // which must sort the SAME way. Without NULLS FIRST/LAST the
    // engine default applies (ASC = NULLS FIRST,
    // DESC = NULLS LAST — Spark's sort order).
    def orderList(text: String): Seq[(String, Boolean, Option[Boolean])] =
      splitTop(text).map { c0 =>
        var c = c0.trim.replaceAll("""\s+""", " ")
        val nullsRx = """(?i)^(.*?) NULLS (FIRST|LAST)$""".r
        val nulls: Option[Boolean] = c match {
          case nullsRx(rest, w) => c = rest.trim; Some(w.equalsIgnoreCase("first"))
          case _                => None
        }
        val asc = !c.toUpperCase.matches("""(?s).*\bDESC$""")
        c = c.replaceAll("""(?i)\s+(ASC|DESC)$""", "")
        require(c.matches(Ident + """(\.""" + Ident + """)?"""),
          s"MATCH_RECOGNIZE ORDER BY entries must be plain columns, got '$c' " +
            "(compute expressions in a subquery source)")
        (c, asc, nulls)
      }
    val parts = colList(segOf("PARTITION", "PARTITION BY"), "PARTITION BY")
    val orderPairs = orderList(segOf("ORDER", "ORDER BY"))
    // SQL rendering ("ts DESC NULLS LAST") — feeds the nav windows and
    // the TVF's order_cols (PatternMatch.orderSpec parses the same
    // spelling; Spark's window ORDER BY accepts it verbatim)
    val orders = orderPairs.map { case (c, asc, nulls) =>
      (if (asc) c else s"$c DESC") + (nulls match {
        case Some(true)  => " NULLS FIRST"
        case Some(false) => " NULLS LAST"
        case None        => ""
      })
    }

    // ---- mode + skip. ALL ROWS sub-modes: bare ALL ROWS
    // PER MATCH defaults to SHOW EMPTY MATCHES — the SQL:2016/Trino
    // default (the sub-modes differ only on patterns that can match
    // empty); ONE ROW always shows empty matches (the standard's
    // grammar has no OMIT there).
    val mode =
      if (!seg.contains("ALLROWS")) "one"
      else seg("ALLROWS").toUpperCase.replaceAll("""\s+""", " ").trim match {
        case "" | "SHOW EMPTY MATCHES" => "all_show_empty"
        case "OMIT EMPTY MATCHES"      => "all"
        case "WITH UNMATCHED ROWS"     => "all_unmatched"
        case other => throw new IllegalArgumentException(
          s"ALL ROWS PER MATCH modifier '$other' is not recognized — " +
            "supported: SHOW EMPTY MATCHES (default), OMIT EMPTY MATCHES, " +
            "WITH UNMATCHED ROWS")
      }
    // AFTER MATCH: all four SQL:2016 forms. SKIP TO
    // FIRST/LAST symbol validates against the pattern symbols below
    // (after PATTERN parses) and passes through as the TVF skip spec.
    val skipToRx = ("""^SKIP TO (FIRST|LAST) (""" + Ident + """)$""").r
    val skipSpec0: String = seg.get("AFTER").map { a =>
      a.toUpperCase.replaceAll("""\s+""", " ").trim match {
        case "SKIP PAST LAST ROW" => "past last row"
        case "SKIP TO NEXT ROW"   => "to next row" // overlapping matches
        case skipToRx(fl, sym)    => s"to ${fl.toLowerCase} $sym"
        case other => throw new IllegalArgumentException(
          s"AFTER MATCH supports SKIP PAST LAST ROW, SKIP TO NEXT ROW and " +
            s"SKIP TO [FIRST|LAST] <symbol>; got 'AFTER MATCH $other'")
      }
    }.getOrElse("past last row")

    // ---- PATTERN ( ... ): inner text feeds the operator's pattern
    // parser; symbols normalize to upper case (SQL identifiers)
    val patSeg = segOf("PATTERN", "PATTERN").trim
    require(patSeg.startsWith("(") && closeParen(patSeg, 0, "PATTERN") == patSeg.length - 1,
      s"PATTERN must be parenthesized: '$patSeg'")
    val pattern = patSeg.substring(1, patSeg.length - 1).trim.toUpperCase
    // PERMUTE is a pattern-language keyword, not a symbol
    val patSyms = Ident.r.findAllIn(pattern).toSeq.distinct.filterNot(_ == "PERMUTE")

    // ---- SUBSET U = (A, B): union variables for MEASURES —
    // each expands to the matcher's "A|B" union spelling; DEFINE /
    // PATTERN / SKIP TO may not reference them (a subset never
    // classifies rows or anchors a restart here)
    val subsets: Map[String, Seq[String]] =
      seg.get("SUBSET").map(splitTop(_).map { e =>
        val srx = ("""(?is)^(""" + Ident + """)\s*=\s*\((.+)\)$""").r
        e.trim match {
          case srx(nm, members) =>
            val ms = members.split(",").map(_.trim.toUpperCase).filter(_.nonEmpty).toSeq
            require(ms.nonEmpty, s"empty SUBSET member list in '$e'")
            ms.foreach(m => require(patSyms.contains(m),
              s"SUBSET member '$m' does not appear in PATTERN ($pattern)"))
            val u = nm.toUpperCase
            require(!patSyms.contains(u),
              s"SUBSET variable '$u' collides with a PATTERN symbol")
            u -> ms
          case other => throw new IllegalArgumentException(
            s"bad SUBSET entry '$other' (want U = (A, B))")
        }
      }.toMap).getOrElse(Map.empty)

    // skip-to symbol: a PATTERN symbol passes through; a SUBSET
    // variable expands to the matcher's member-union
    // spelling — SKIP TO FIRST U with U = (A, B) resumes at the first
    // row the match classified as A OR B (SQL:2016 subset semantics)
    val skipSpec: String =
      ("""^to (first|last) (\w+)$""").r.findFirstMatchIn(skipSpec0) match {
        case None => skipSpec0
        case Some(m) =>
          val s0 = m.group(2)
          subsets.get(s0.toUpperCase) match {
            case Some(members) => s"to ${m.group(1)} ${members.mkString("|")}"
            case None =>
              require(patSyms.contains(s0),
                s"AFTER MATCH SKIP TO: unknown pattern symbol '$s0' (PATTERN is $pattern)")
              skipSpec0
          }
      }

    // ---- DEFINE: translate S.col row refs and PREV/NEXT navigation
    val navs = LinkedHashMap[(String, String, Int), String]()
    val defined = seg.get("DEFINE").map(splitTop(_).map { d =>
      val dm = ("""(?is)^(""" + Ident + """)\s+AS\s+(.+)$""").r
      d.trim match {
        case dm(sym, cond) => sym.toUpperCase -> cond.trim
        case other => throw new IllegalArgumentException(
          s"bad DEFINE entry '$other' (want SYMBOL AS condition)")
      }
    }).getOrElse(Nil)
    val symSet = (patSyms ++ defined.map(_._1)).toSet
    defined.foreach { case (s, _) =>
      require(patSyms.contains(s),
        s"DEFINE symbol '$s' does not appear in PATTERN ($pattern)")
    }
    val navRx = ("""(?i)\b(PREV|NEXT)\s*\(\s*(""" + Ident +
      """)\s*\.\s*(""" + Ident + """)\s*(?:,\s*(\d+)\s*)?\)""").r
    // FIRST/LAST(sym.col) = classifier-history navigation:
    // each distinct reference becomes a __mrh_N placeholder column the
    // matcher binds DURING matching (PatternMatch.NavRef) — unlike
    // PREV/NEXT it cannot precompute as a window column, because the
    // value depends on the in-flight classification
    val histRx = ("""(?i)\b(FIRST|LAST)\s*\(\s*(""" + Ident +
      """)\s*\.\s*(""" + Ident + """)\s*(?:,\s*(\d+)\s*)?\)""").r
    val histNavs = LinkedHashMap[(String, String, String), String]()
    // bare SYM.col / SUBSET.col references (after PREV/NEXT and
    // FIRST/LAST are consumed): SQL:2016 gives these RUNNING LAST
    // semantics — the value at the LAST row the match-so-far mapped to
    // the symbol. For the symbol BEING DEFINED that last row IS the
    // current row (read directly, codegen-friendly); for any OTHER
    // symbol or a subset it lowers to a last-navigation placeholder
    // (reading the current row there would differ from Trino).
    val symRefRx = ("""\b(?i:(""" +
      (symSet ++ subsets.keys).map(Regex.quote).mkString("|") +
      """))\s*\.\s*(""" + Ident + """)""").r
    // nav-target resolution shared by every history form: a SUBSET
    // variable expands to its member union, a pattern symbol passes
    // through, anything else is loud
    def navTarget(fn: String, raw: String, ctx: String): String = {
      val u = raw.toUpperCase
      subsets.get(u) match {
        case Some(members) => members.mkString("|")
        case None =>
          require(patSyms.contains(u),
            s"${fn.toUpperCase}() argument must be PATTERN_SYMBOL.column " +
              s"or SUBSET.column, got '$ctx' (PATTERN is $pattern)")
          u
      }
    }
    // ---- navigation over ARBITRARY EXPRESSIONS: FN(expr [, n]) where expr
    // is any scalar expression whose symbol-qualified column refs all
    // name ONE pattern variable — the SQL:2016 single-variable rule.
    // The expression is row-local, so it materializes as a synthetic
    // column on the wrapped source (__mrx_N) and the call lowers to
    // the plain FN(SYM.__mrx_N [, n]) form the machinery below
    // already handles: PREV/NEXT lag/lead the synthetic column,
    // FIRST/LAST navigate classifier history to it, and (MEASURES
    // only) MIN/MAX/SUM aggregate it — which also unlocks computed
    // aggregates like SUM(CAST(D.v < 50 AS INT)) the plain grammar
    // could not spell. Innermost-first sweeps make nesting compose:
    // PREV(FIRST(D.a + D.b, 1), 2) first rewrites the FIRST arm,
    // then parses as the existing nested form.
    val exprNavs = LinkedHashMap[String, String]() // stripped expr -> col
    val plainNavArg = ("""(?is)^""" + Ident + """\s*\.\s*""" + Ident + """$""").r
    def xlateExprArgs(text0: String, fns: String, where: String): String = {
      val rx = ("""(?i)\b(""" + fns + """)\s*\(""").r
      var text = text0
      var again = true
      while (again) {
        again = false
        val m = mask(text)
        val it = rx.findAllMatchIn(m).iterator
        while (it.hasNext && !again) {
          val h = it.next()
          val open = h.end - 1
          val close = closeParen(text, open, where)
          // innermost-first: a call whose argument still holds another
          // nav/agg call resolves on a later sweep
          if (rx.findFirstIn(m.substring(open + 1, close)).isEmpty) {
            val parts = splitTop(text.substring(open + 1, close))
            val plain = parts.headOption.exists(p =>
              plainNavArg.pattern.matcher(p).matches())
            val numOk = parts.length == 1 ||
              (parts.length == 2 && parts(1).matches("""\d+"""))
            if (!(plain && numOk)) {
              val fn = h.group(1)
              require(numOk, s"${fn.toUpperCase} in $where takes " +
                s"(expr [, n]) with a literal non-negative n, got " +
                s"'${text.substring(h.start, close + 1)}'")
              val expr = parts.head
              // in DEFINE, aggregates are banned INSIDE a navigated
              // expression too (there is no grouping to aggregate over:
              // FIRST(MIN(D.v)) would lower the MIN into the source
              // projection and die opaquely later);
              // in MEASURES they are legal top-level aggs, handled by
              // the innermost-first sweep
              val banned =
                if (where.startsWith("DEFINE"))
                  """(?i)\b(CLASSIFIER|MATCH_NUMBER|PREV|NEXT|FIRST|LAST|MIN|MAX|SUM|AVG|COUNT)\s*\("""
                else """(?i)\b(CLASSIFIER|MATCH_NUMBER|PREV|NEXT|FIRST|LAST)\s*\("""
              banned.r.findFirstIn(mask(expr)).foreach { f =>
                throw new IllegalArgumentException(
                  s"${f.trim}...) may not appear inside a navigated " +
                    s"expression in $where: '$expr'")
              }
              val refs = symRefRx.findAllMatchIn(expr)
                .map(_.group(1).toUpperCase).toList.distinct
              require(refs.nonEmpty,
                s"the expression inside ${fn.toUpperCase}() must reference at " +
                  s"least one PATTERN_SYMBOL.column, got '$expr' in $where")
              require(refs.length == 1,
                s"all column references inside one navigation must name the " +
                  s"SAME pattern variable (SQL:2016), got " +
                  s"${refs.mkString(", ")} in '${fn.toUpperCase}($expr)'")
              val stripped = symRefRx.replaceAllIn(expr,
                mm => Regex.quoteReplacement(mm.group(2)))
                .trim.replaceAll("""\s+""", " ")
              val cname = exprNavs.getOrElseUpdate(stripped, s"__mrx_${exprNavs.size}")
              val num = if (parts.length == 2) s", ${parts(1)}" else ""
              text = text.substring(0, h.start) +
                s"$fn(${refs.head}.$cname$num)" + text.substring(close + 1)
              again = true
            }
          }
        }
      }
      text
    }

    // nested navigation: PREV/NEXT(FIRST/LAST(S.f [, k])
    // [, n]) — the ANCHOR row comes from classifier history, the
    // physical offset from the lag/lead window column read AT that
    // row, so the two existing lowerings compose:
    // first|last : S : <lag/lead column> [: k]
    val nestedRx = ("""(?i)\b(PREV|NEXT)\s*\(\s*(FIRST|LAST)\s*\(\s*(""" + Ident +
      """)\s*\.\s*(""" + Ident +
      """)\s*(?:,\s*(\d+)\s*)?\)\s*(?:,\s*(\d+)\s*)?\)""").r
    def xlateNested(text: String): String =
      nestedRx.replaceAllIn(text, h => {
        val pn = h.group(1).toLowerCase
        val fl = h.group(2).toLowerCase
        val occ = Option(h.group(5)).map(_.toInt).getOrElse(0)
        val n = Option(h.group(6)).map(_.toInt).getOrElse(1)
        val cname = navs.getOrElseUpdate((pn, h.group(4), n),
          s"__mr_${pn}_${h.group(4)}_$n")
        val target = navTarget(pn, h.group(3), s"${h.group(3)}.${h.group(4)}")
        Regex.quoteReplacement(histNavs.getOrElseUpdate(
          (fl, target, cname + (if (occ > 0) s":$occ" else "")),
          s"__mrh_${histNavs.size}"))
      })
    // ---- CLASSIFIER() / MATCH_NUMBER() inside DEFINE: the matcher already threads the
    // in-flight classification and match count through predicate
    // evaluation (PatternMatch.NavCtx), so these lower onto the same
    // __mrh_N placeholder pool —
    //   CLASSIFIER()                     -> '<defSym>' literal (RUNNING
    //                                       LAST = the candidate row's
    //                                       tentative label, a constant)
    //   CLASSIFIER(S | SUBSET)           -> last-classifier placeholder
    //   FIRST/LAST(CLASSIFIER([S])[, k]) -> classifier-history placeholder
    //   PREV(CLASSIFIER()[, n])          -> physical-offset classifier
    //                                       (NULL before the match start)
    //   MATCH_NUMBER()                   -> in-flight match number (LONG)
    // NEXT(CLASSIFIER()) stays a loud rejection — rows after the one
    // under evaluation are not yet classified.
    def xlateClassifier(defSym: String, cond: String): String = {
      if (("""(?i)\b(CLASSIFIER|MATCH_NUMBER)\b""").r
          .findFirstIn(mask(cond)).isEmpty) return cond
      var c = cond
      ("""(?i)\bNEXT\s*\(\s*CLASSIFIER\b""").r.findFirstIn(mask(c)).foreach { _ =>
        throw new IllegalArgumentException(
          s"NEXT(CLASSIFIER(...)) in DEFINE is not supported — rows after " +
            s"the one under evaluation are not yet classified; condition: '$cond'")
      }
      val prevClsRx = ("""(?i)\bPREV\s*\(\s*CLASSIFIER\s*\(\s*(""" + Ident +
        """)?\s*\)\s*(?:,\s*(\d+)\s*)?\)""").r
      c = prevClsRx.replaceAllIn(c, h => {
        require(h.group(1) == null,
          s"PREV(CLASSIFIER(${h.group(1)}), n) is not supported — physical " +
            "navigation of a set-qualified classifier mixes two navigation " +
            "modes; navigate the set with FIRST/LAST(CLASSIFIER(" +
            s"${h.group(1)}), k) instead")
        val n = Option(h.group(2)).map(_.toInt).getOrElse(1)
        if (n == 0) Regex.quoteReplacement(s"'$defSym'") // PREV(x,0) = x here
        else Regex.quoteReplacement(histNavs.getOrElseUpdate(
          ("clsprev", "*", s"-:$n"), s"__mrh_${histNavs.size}"))
      })
      val flClsRx = ("""(?i)\b(FIRST|LAST)\s*\(\s*CLASSIFIER\s*\(\s*(""" + Ident +
        """)?\s*\)\s*(?:,\s*(\d+)\s*)?\)""").r
      c = flClsRx.replaceAllIn(c, h => {
        val fn = "cls_" + h.group(1).toLowerCase
        val target = Option(h.group(2))
          .map(s => navTarget(h.group(1), s, s"CLASSIFIER(${h.group(2)})"))
          .getOrElse("*")
        val occ = Option(h.group(3)).map(_.toInt).getOrElse(0)
        Regex.quoteReplacement(histNavs.getOrElseUpdate(
          (fn, target, "-" + (if (occ > 0) s":$occ" else "")),
          s"__mrh_${histNavs.size}"))
      })
      // any CLASSIFIER/MATCH_NUMBER still inside a navigation or
      // aggregate call is an unsupported composite — reject BEFORE the
      // bare folds below could silently change its meaning (folding
      // CLASSIFIER() to the defining symbol is only correct at the
      // candidate row, not under PREV/FIRST/...)
      val m0 = mask(c)
      ("""(?i)\b(PREV|NEXT|FIRST|LAST|MIN|MAX|SUM|AVG|COUNT)\s*\(""").r
        .findAllMatchIn(m0).foreach { h =>
          val close = closeParen(c, h.end - 1, s"DEFINE $defSym")
          if (("""(?i)\b(CLASSIFIER|MATCH_NUMBER)\b""").r
              .findFirstIn(m0.substring(h.end, close)).isDefined)
            throw new IllegalArgumentException(
              s"${h.group(1)}(...) over an expression containing CLASSIFIER/" +
                "MATCH_NUMBER is not supported in DEFINE — supported forms: " +
                "CLASSIFIER([S]), FIRST/LAST(CLASSIFIER([S])[, k]), " +
                s"PREV(CLASSIFIER()[, n]), MATCH_NUMBER(); condition: '$cond'")
        }
      c = ("""(?i)\bCLASSIFIER\s*\(\s*\)""").r.replaceAllIn(c,
        Regex.quoteReplacement(s"'$defSym'"))
      val bareClsRx = ("""(?i)\bCLASSIFIER\s*\(\s*(""" + Ident + """)\s*\)""").r
      c = bareClsRx.replaceAllIn(c, h => {
        val target = navTarget("CLASSIFIER", h.group(1), s"CLASSIFIER(${h.group(1)})")
        Regex.quoteReplacement(histNavs.getOrElseUpdate(
          ("cls_last", target, "-"), s"__mrh_${histNavs.size}"))
      })
      // function form: the placeholder must register only when a
      // MATCH_NUMBER() actually occurs (an eager argument would run
      // getOrElseUpdate unconditionally)
      ("""(?i)\bMATCH_NUMBER\s*\(\s*\)""").r.replaceAllIn(c, _ =>
        Regex.quoteReplacement(histNavs.getOrElseUpdate(
          ("matchnum", "*", "-"), s"__mrh_${histNavs.size}")))
    }
    def xlate(defSym: String, cond: String): String = {
      val c0 = xlateNested(
        xlateExprArgs(xlateClassifier(defSym, cond),
          "PREV|NEXT|FIRST|LAST", s"DEFINE $defSym"))
      val c1 = navRx.replaceAllIn(c0, h => {
        val fn = h.group(1).toLowerCase
        require(symSet.contains(h.group(2).toUpperCase),
          s"$fn() argument must be SYMBOL.column, got '${h.group(2)}.${h.group(3)}'")
        val n = Option(h.group(4)).map(_.toInt).getOrElse(1)
        Regex.quoteReplacement(
          navs.getOrElseUpdate((fn, h.group(3), n), s"__mr_${fn}_${h.group(3)}_$n"))
      })
      val c2 = histRx.replaceAllIn(c1, h => {
        val fn = h.group(1).toLowerCase
        // the SQL:2016 occurrence argument: FIRST(D.v, 2)
        // reads the 3rd row the match-so-far classified D; a SUBSET
        // variable navigates its member union
        val occ = Option(h.group(4)).map(_.toInt).getOrElse(0)
        val target = navTarget(fn, h.group(2), s"${h.group(2)}.${h.group(3)}")
        Regex.quoteReplacement(histNavs.getOrElseUpdate(
          (fn, target, h.group(3) + (if (occ > 0) s":$occ" else "")),
          s"__mrh_${histNavs.size}"))
      })
      ("""(?i)\b(PREV|NEXT|FIRST|LAST)\s*\(""").r.findFirstIn(mask(c2)).foreach { f =>
        throw new IllegalArgumentException(
          s"unsupported navigation '${f.trim}...' in DEFINE condition '$cond' — " +
            "navigation takes SYMBOL.column or a one-symbol expression " +
            "(optionally nested, PREV/NEXT(FIRST/LAST(S.col, k), n)); " +
            "deeper nesting is not supported")
      }
      // backstop: every supported CLASSIFIER/MATCH_NUMBER form was
      // consumed by xlateClassifier above — a survivor is a spelling we
      // don't parse, and would otherwise surface as an opaque
      // unresolved-function error
      ("""(?i)\b(CLASSIFIER|MATCH_NUMBER)\s*\(""").r
        .findFirstIn(mask(c2)).foreach { f =>
          throw new IllegalArgumentException(
            s"unsupported ${f.trim}...) form in DEFINE condition '$cond' — " +
              "supported: CLASSIFIER() (= the symbol being defined), " +
              "CLASSIFIER(S_or_SUBSET), FIRST/LAST(CLASSIFIER([S])[, k]), " +
              "PREV(CLASSIFIER()[, n]) and MATCH_NUMBER()")
        }
      val out = symRefRx.replaceAllIn(c2, h => {
        val t = h.group(1).toUpperCase
        val f = h.group(2)
        if (t == defSym) Regex.quoteReplacement(f) // current row
        else {
          val target = subsets.get(t).map(_.mkString("|")).getOrElse(t)
          Regex.quoteReplacement(histNavs.getOrElseUpdate(
            ("last", target, f), s"__mrh_${histNavs.size}"))
        }
      }).trim
      require(!out.contains(";"),
        s"DEFINE condition may not contain ';': '$cond'")
      out
    }
    val defs = (defined.map { case (s, c) => s -> xlate(s, c) } ++
      patSyms.filterNot(s => defined.exists(_._1 == s)).map(_ -> "true"))
      .map { case (s, c) => s"$s:$c" }.mkString(";")

    // ---- MEASURES: the [run_]agg(SYM.field) grammar of
    // PatternMatch.Measure. Allowed in BOTH modes: under
    // ALL ROWS PER MATCH the SQL default is RUNNING semantics (the
    // aggregate over the match's rows up to each output row); a FINAL
    // keyword pins the whole-match value; under ONE ROW both keywords
    // are accepted and equal (RUNNING at the last row IS FINAL).
    // MATCH_NUMBER() rides as a post-select alias of the TVF's own
    // match_num column; CLASSIFIER() is the matcher's classifier agg.
    var mnAliases = List.empty[String]
    var measureNames = List.empty[String]
    val measures = seg.get("MEASURES").map { mtext =>
      splitTop(mtext).flatMap { e0 =>
        val asRx = ("""(?is)^(.+?)\s+AS\s+(""" + Ident + """)$""").r
        val (ex0, name) = e0.trim match {
          case asRx(x, n) => (x.trim, n)
          case other => throw new IllegalArgumentException(
            s"MEASURES entry needs 'expr AS name': '$other'")
        }
        measureNames :+= name
        val semRx = """(?is)^(RUNNING|FINAL)\s+(.+)$""".r
        val (semantics, exRaw) = ex0 match {
          case semRx(k, rest) => (k.toUpperCase, rest.trim)
          case _              => ("", ex0)
        }
        // expression arguments lower to synthetic-column
        // plain forms first — see xlateExprArgs; MEASURES additionally
        // admits computed MIN/MAX/SUM arguments this way
        val ex = xlateExprArgs(exRaw, "PREV|NEXT|FIRST|LAST|MIN|MAX|SUM|AVG",
          "MEASURES")
        val pfx = if (mode.startsWith("all") && semantics != "FINAL") "run_" else ""
        val aggRx = ("""(?i)^(FIRST|LAST|MIN|MAX|SUM|AVG)\s*\(\s*(""" + Ident +
          """)\s*\.\s*(""" + Ident + """)\s*(?:,\s*(\d+)\s*)?\)$""").r
        val cntStarRx = """(?i)^COUNT\s*\(\s*\*\s*\)$""".r
        val cntSymRx = ("""(?i)^COUNT\s*\(\s*(""" + Ident + """)\s*\.\s*\*\s*\)$""").r
        // COUNT(S.col) — SQL:2016 counts the symbol's NON-NULL rows
        // (the row-count spellings are COUNT(*) / COUNT(S.*))
        val cntFldRx = ("""(?i)^COUNT\s*\(\s*(""" + Ident + """)\s*\.\s*(""" +
          Ident + """)\s*\)$""").r
        val mnRx = """(?i)^MATCH_NUMBER\s*\(\s*\)$""".r
        val clsRx = """(?i)^CLASSIFIER\s*\(\s*\)$""".r
        val clsSymRx = ("""(?i)^CLASSIFIER\s*\(\s*(""" + Ident + """)\s*\)$""").r
        val bareRx = ("""^(""" + Ident + """)\s*\.\s*(""" + Ident + """)$""").r
        def known(s: String): Boolean = {
          val u = s.toUpperCase
          symSet.contains(u) || subsets.contains(u)
        }
        def sym(s: String): String = {
          val u = s.toUpperCase
          if (symSet.contains(u)) u
          else subsets.getOrElse(u, throw new IllegalArgumentException(
            s"unknown pattern symbol '$s' in MEASURES")).mkString("|")
        }
        // PREV/NEXT navigation in MEASURES:
        // SQL:2016 evaluates PREV(S.f, n) at the row LAST(S) resolves
        // to (RUNNING: the latest S so far), stepping n rows back in
        // PARTITION order — exactly the lag/lead window column read at
        // that row, so it lowers to [run_]last:S:<lag-col>, sharing
        // the DEFINE navigation's window wrapper.
        val measNavRx = ("""(?i)^(PREV|NEXT)\s*\(\s*(""" + Ident +
          """)\s*\.\s*(""" + Ident + """)\s*(?:,\s*(\d+)\s*)?\)$""").r
        // nested navigation: the explicit-anchor spelling —
        // PREV(FIRST(S.f, k), n) anchors at the k-th S row and offsets
        // n physical rows via the lag/lead column read there
        val measNestedRx = ("""(?i)^(PREV|NEXT)\s*\(\s*(FIRST|LAST)\s*\(\s*(""" +
          Ident + """)\s*\.\s*(""" + Ident +
          """)\s*(?:,\s*(\d+)\s*)?\)\s*(?:,\s*(\d+)\s*)?\)$""").r
        ex match {
          case measNestedRx(pn0, fl0, s, f, occ0, n0) if known(s) =>
            val pn = pn0.toLowerCase
            val occ = Option(occ0).map(_.toInt).getOrElse(0)
            val n = Option(n0).map(_.toInt).getOrElse(1)
            val cname = navs.getOrElseUpdate((pn, f, n), s"__mr_${pn}_${f}_$n")
            Some(s"$name:$pfx${fl0.toLowerCase}:${sym(s)}:$cname" +
              (if (occ > 0) s":$occ" else ""))
          case measNavRx(fn0, s, f, n0) if known(s) =>
            val fn = fn0.toLowerCase
            val n = Option(n0).map(_.toInt).getOrElse(1)
            val cname = navs.getOrElseUpdate((fn, f, n), s"__mr_${fn}_${f}_$n")
            Some(s"$name:${pfx}last:${sym(s)}:$cname")
          case other if ("""(?i)\b(PREV|NEXT)\s*\(""").r
              .findFirstIn(mask(other)).isDefined =>
            throw new IllegalArgumentException(
              s"unsupported MEASURES navigation '${other.trim}' — supported: " +
                "[RUNNING|FINAL] PREV/NEXT(SYMBOL.column-or-expression [, n]) " +
                "and PREV/NEXT(FIRST/LAST(SYMBOL.column-or-expression [, k]) " +
                "[, n]); deeper nesting is not")
          case aggRx(agg, s, f, n0) =>
            // optional SQL:2016 occurrence argument,
            // FIRST/LAST only
            val occ = Option(n0).map(_.toInt).getOrElse(0)
            require(occ == 0 || agg.equalsIgnoreCase("first") ||
              agg.equalsIgnoreCase("last"),
              s"the occurrence argument applies to FIRST/LAST only: '$ex'")
            Some(s"$name:$pfx${agg.toLowerCase}:${sym(s)}:$f" +
              (if (occ > 0) s":$occ" else ""))
          case cntStarRx()      => Some(s"$name:${pfx}count:*")
          case cntSymRx(s)      => Some(s"$name:${pfx}count:${sym(s)}")
          case cntFldRx(s, f) if known(s) =>
            Some(s"$name:${pfx}countf:${sym(s)}:$f")
          case mnRx()           => mnAliases :+= name; None
          case clsRx()          => Some(s"$name:${pfx}classifier:*")
          case clsSymRx(s)      => Some(s"$name:${pfx}classifier:${sym(s)}")
          case bareRx(s, f) if known(s) =>
            Some(s"$name:${pfx}last:${sym(s)}:$f") // Trino LAST semantics
          case other => throw new IllegalArgumentException(
            s"unsupported MEASURES expression '$other' — supported: " +
              "[RUNNING|FINAL] FIRST/LAST/MIN/MAX/SUM/AVG(SYM.col-or-expression), " +
              "COUNT(*), COUNT(SYM.*), COUNT(SYM.col) (non-null rows), " +
              "MATCH_NUMBER(), CLASSIFIER([SYM]), SYM.col (= LAST)")
        }
      }.mkString(",")
    }.getOrElse("")

    // ---- source: wrap with lag/lead nav columns when DEFINE used
    // PREV/NEXT; the window clusters+sorts by the matcher's own keys,
    // so the TVF can skip its exchange (prePartitioned=true)
    val srcT = src.trim
    val isSub = srcT.startsWith("(")
    val inner = if (isSub) srcT.substring(1, srcT.length - 1).trim else srcT
    // navigated expressions materialize on an INNER wrap so the nav
    // lag/lead columns — and the matcher's classifier-history reads —
    // see them as plain columns
    val from0 = if (isSub) s"($inner) __graft_mr_src" else srcT
    val fromX =
      if (exprNavs.isEmpty) from0
      else {
        val cols = exprNavs.map { case (e, n) => s"($e) AS $n" }.mkString(", ")
        s"(SELECT *, $cols FROM $from0) __graft_mr_esrc"
      }
    val (srcArg, pre) =
      if (navs.isEmpty && exprNavs.isEmpty) (inner, "false")
      else if (navs.isEmpty) (s"SELECT * FROM $fromX", "false")
      else {
        val navCols = navs.map { case ((fn, f, n), cname) =>
          val w = if (fn == "prev") "lag" else "lead"
          s"$w($f, $n) OVER (PARTITION BY ${parts.mkString(", ")} " +
            s"ORDER BY ${orders.mkString(", ")}) AS $cname"
        }.mkString(", ")
        (s"SELECT *, $navCols FROM $fromX", "true")
      }

    def q(s: String): String = "'" + s.replace("'", "''") + "'"
    // classifier-history nav spec: placeholder:first|last:SYM:col
    val histSpec = histNavs.map { case ((fn, sym, f), nm) =>
      s"$nm:$fn:$sym:$f" }.mkString(";")
    val call = s"graft_match_recognize(${q(srcArg)}, ${q(parts.mkString(","))}, " +
      s"${q(orders.mkString(","))}, ${q(defs)}, ${q(pattern)}, " +
      s"${q(measures)}, ${q(mode)}, ${q(pre)}, ${q(skipSpec)}, ${q(histSpec)})"
    // MATCH_NUMBER() measures alias the TVF's own match_num in a
    // post-select that restores the declared measure order; the fixed
    // column prefix differs by mode (ALL ROWS also emits order cols +
    // classifier)
    if (mnAliases.isEmpty) call
    else {
      val fixed =
        if (mode.startsWith("all")) parts ++ orderPairs.map(_._1) ++ Seq("match_num", "classifier")
        else parts ++ Seq("match_num")
      val outs = fixed ++ measureNames.map(n =>
        if (mnAliases.contains(n)) s"match_num AS $n" else n)
      s"(SELECT ${outs.mkString(", ")} FROM $call)"
    }
  }
}
