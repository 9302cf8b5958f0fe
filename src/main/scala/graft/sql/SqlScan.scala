package graft.sql

/** Spark SQL's lexical rules, in the one place that knows them: which
  * parts of a statement are code and which are string literals, quoted
  * identifiers or comments. Every text pass over SQL (the dialect
  * rewrites, statement splitting, the result cache's text key) reads
  * these spans, so a keyword, `;` or paren inside a literal or comment
  * never looks like code.
  *
  * The rules are those of Spark's default lexer: `'...'` and `"..."`
  * are string literals, closed by an unescaped quote, where `\x`
  * escapes any character and a doubled quote stands for one; a raw
  * literal (`R'...'`, `r"..."`) has no backslash escapes; `` `...` ``
  * is an identifier, where a doubled backtick stands for one; `--` runs
  * to the end of the line (a backslash before the newline continues
  * it), and `/* ... */` nests. An unterminated literal, identifier or
  * comment runs to the end of the text. */
private[graft] object SqlScan {

  sealed trait Kind
  case object Code extends Kind
  case object Literal extends Kind
  case object Ident extends Kind
  case object Comment extends Kind

  /** `sql.substring(start, end)` is one lexical region of kind `kind`. */
  final case class Span(kind: Kind, start: Int, end: Int)

  /** The spans of `sql`, in order; they tile the whole text. */
  def spans(sql: String): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    val n = sql.length
    def at(i: Int): Char = if (i < n) sql.charAt(i) else '\u0000'
    def quoted(from: Int, q: Char, raw: Boolean): Int = { // index after the closing quote
      var j = from + 1
      while (j < n) {
        val c = sql.charAt(j)
        if (c == '\\' && q != '`' && !raw) j += 2
        else if (c == q && at(j + 1) == q) j += 2
        else if (c == q) return j + 1
        else j += 1
      }
      n
    }
    def lineComment(from: Int): Int = {
      var j = from + 2
      while (j < n && sql.charAt(j) != '\n') j += (if (sql.charAt(j) == '\\') 2 else 1)
      math.min(j + 1, n)
    }
    def blockComment(from: Int): Int = {
      var j = from + 2
      var depth = 1
      while (j < n && depth > 0) {
        if (sql.charAt(j) == '/' && at(j + 1) == '*') { depth += 1; j += 2 }
        else if (sql.charAt(j) == '*' && at(j + 1) == '/') { depth -= 1; j += 2 }
        else j += 1
      }
      math.min(j, n)
    }
    def word(i: Int): Boolean = i >= 0 && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')
    var code = 0 // start of the code run being accumulated
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      // an R or r that starts a token, right before a quote, makes it raw
      val raw = (c == '\'' || c == '"') && i > 0 && (sql.charAt(i - 1) == 'r' ||
        sql.charAt(i - 1) == 'R') && !word(i - 2)
      val end = c match {
        case '\'' | '"' | '`' => quoted(i, c, raw)
        case '-' if at(i + 1) == '-' => lineComment(i)
        case '/' if at(i + 1) == '*' => blockComment(i)
        case _ => -1
      }
      if (end < 0) i += 1
      else {
        val start = if (raw) i - 1 else i
        if (code < start) out += Span(Code, code, start)
        out += Span(if (c == '`') Ident else if (c == '\'' || c == '"') Literal else Comment,
          start, math.min(end, n))
        i = math.min(end, n)
        code = i
      }
    }
    if (code < n) out += Span(Code, code, n)
    out.result()
  }

  /** `sql` with every comment blanked and the inside of every literal
    * and quoted identifier blanked, quotes kept: offsets map 1:1 onto
    * `sql`, and only code can match a search in it. */
  def mask(sql: String): String = {
    val b = new StringBuilder(sql)
    spans(sql).foreach { s =>
      val (from, to) = s.kind match {
        case Code => (s.end, s.end)
        case Comment => (s.start, s.end)
        case _ => // a terminated literal or identifier keeps its closing quote
          val open = if (sql.charAt(s.start).isLetter) s.start + 1 else s.start // R'...'
          val closed = s.end - open >= 2 && sql.charAt(s.end - 1) == sql.charAt(open)
          (open + 1, if (closed) s.end - 1 else s.end)
      }
      (from until to).foreach(b.setCharAt(_, ' '))
    }
    b.toString
  }

  /** Index of the ')' closing the '(' at `open`. */
  def closeParen(sql: String, open: Int, what: String): Int = {
    val m = mask(sql)
    var depth = 0
    var i = open
    while (i < m.length) {
      m.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    throw new IllegalArgumentException(s"$what: unbalanced parentheses in '$sql'")
  }

  /** Index of the '(' that the ')' at `close` closes. */
  def openParen(sql: String, close: Int, what: String): Int = {
    val m = mask(sql)
    var depth = 0
    var i = close
    while (i >= 0) {
      m.charAt(i) match {
        case ')' => depth += 1
        case '(' =>
          depth -= 1
          if (depth == 0) return i
        case _ => ()
      }
      i -= 1
    }
    throw new IllegalArgumentException(s"$what: unbalanced parentheses in '$sql'")
  }

  /** Split on top-level commas (outside parens, literals and
    * comments); each part trimmed. */
  def splitTop(s: String): Seq[String] = {
    val m = mask(s)
    val cuts = scala.collection.mutable.ArrayBuffer[Int](-1)
    var depth = 0
    var i = 0
    while (i < m.length) {
      m.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => cuts += i
        case _ => ()
      }
      i += 1
    }
    cuts += s.length
    cuts.sliding(2).map(w => s.substring(w(0) + 1, w(1)).trim).toSeq
  }
}
