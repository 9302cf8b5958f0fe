package graft.store

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** File-level min/max pruning against the commit log's per-file stats —
  * the manifest-pruning role Iceberg metadata plays for walden's tables
  * (`tf/main.tf:93-98`).
  *
  * Conservative by construction: a file is dropped ONLY when the stats
  * *prove* no row can match. Unsupported predicate shapes keep the
  * file. Spark re-applies the full predicate afterwards, so pruning can
  * only ever remove IO, never rows.
  */
object StatsPruner {

  def comparable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType |
         TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** Max stored length for string bounds. A document table's text
    * column would otherwise serialize its full min/max TEXT into every
    * commit — at 100 TB the commit log must stay metadata-sized
    * (Iceberg truncates bounds the same way, default 16; we keep 64
    * for better selectivity). */
  val StringBoundLen = 64

  /** Truncated LOWER bound: a code-point prefix sorts <= the original
    * under the unsigned-UTF-8 order the stats use, so it stays a valid
    * lower bound. Never splits a surrogate pair. */
  def truncateLower(s: String, len: Int = StringBoundLen): String =
    if (s.length <= len) s
    else if (Character.isHighSurrogate(s.charAt(len - 1))) s.substring(0, len - 1)
    else s.substring(0, len)

  /** Truncated UPPER bound: prefix with its last incrementable code
    * point bumped (skipping the surrogate block) sorts >= ANY string
    * starting with the original prefix. None when no code point can be
    * incremented (all U+10FFFF) — the caller then drops the bound and
    * the pruner keeps the file (conservative). */
  def truncateUpper(s: String, len: Int = StringBoundLen): Option[String] = {
    if (s.length <= len) return Some(s)
    val cps = truncateLower(s, len).codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      val c = cps(i)
      val next = if (c == 0xD7FF) 0xE000 else c + 1
      if (next <= 0x10FFFF && !(next >= 0xD800 && next <= 0xDFFF)) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < i) { sb.appendCodePoint(cps(j)); j += 1 }
        sb.appendCodePoint(next)
        return Some(sb.toString)
      }
      i -= 1
    }
    None
  }

  def prune(files: Seq[FileStat], filters: Seq[Expression], schema: StructType): Seq[FileStat] =
    if (filters.isEmpty) files
    else files.filter(f => filters.forall(e => mayMatch(e, f, schema)))

  /** Column reference by name, resolved or not (filters arrive both
    * ways: unresolved from user Columns, resolved from plans). */
  private object Attr {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute => Some(u.name)
      case _ => None
    }
  }

  /** Literal or constant-foldable subexpression (the analyzer wraps
    * literals in Casts when types differ — fold them here). */
  private[store] object Lit {
    def unapply(e: Expression): Option[Any] = e match {
      case Literal(v, _) => Option(v)
      case _ if e.foldable && e.references.isEmpty =>
        try Option(e.eval(null)) catch { case _: Exception => None }
      case _ => None
    }
  }

  /** Three-valued: true = file may contain matching rows. */
  private def mayMatch(e: Expression, f: FileStat, schema: StructType): Boolean = e match {
    case And(l, r) => mayMatch(l, f, schema) && mayMatch(r, f, schema)
    case Or(l, r) => mayMatch(l, f, schema) || mayMatch(r, f, schema)
    case EqualTo(Attr(a), Lit(v)) => rangeOverlaps(f, a, schema, v, v)
    case EqualTo(Lit(v), Attr(a)) => rangeOverlaps(f, a, schema, v, v)
    case GreaterThan(Attr(a), Lit(v)) => maxAbove(f, a, schema, v, strict = true)
    case GreaterThanOrEqual(Attr(a), Lit(v)) => maxAbove(f, a, schema, v, strict = false)
    case LessThan(Attr(a), Lit(v)) => minBelow(f, a, schema, v, strict = true)
    case LessThanOrEqual(Attr(a), Lit(v)) => minBelow(f, a, schema, v, strict = false)
    case GreaterThan(Lit(v), Attr(a)) => minBelow(f, a, schema, v, strict = true)
    case GreaterThanOrEqual(Lit(v), Attr(a)) => minBelow(f, a, schema, v, strict = false)
    case LessThan(Lit(v), Attr(a)) => maxAbove(f, a, schema, v, strict = true)
    case LessThanOrEqual(Lit(v), Attr(a)) => maxAbove(f, a, schema, v, strict = false)
    case In(Attr(a), vs) if vs.forall(v => Lit.unapply(v).isDefined) =>
      vs.exists { case Lit(v) => rangeOverlaps(f, a, schema, v, v) }
    case IsNull(Attr(a)) => f.nullCount.get(a).forall(_ > 0)
    case IsNotNull(Attr(a)) =>
      !(f.nullCount.get(a).contains(f.rows) && f.rows > 0)
    case _ => true // unknown shape: keep the file
  }

  // value <-> stat-string comparison in the column's type ------------------
  private def cmp(dt: DataType, statStr: String, v: Any): Option[Int] = try {
    dt match {
      case _: NumericType =>
        Some(BigDecimal(statStr).compare(BigDecimal(String.valueOf(v))))
      case StringType =>
        // Spark's min/max over strings order by UNSIGNED UTF-8 bytes
        // (UTF8String.binaryCompare); Java's compareTo orders by UTF-16
        // code units — the two disagree on supplementary-plane chars.
        // Compare exactly as the stats were computed.
        val a = statStr.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val b = String.valueOf(v).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(a.length, b.length)
        var i = 0
        var r = 0
        while (i < n && r == 0) { r = (a(i) & 0xff) - (b(i) & 0xff); i += 1 }
        Some(if (r != 0) r else a.length - b.length)
      case DateType =>
        // Catalyst literal = days since epoch; stat string = yyyy-MM-dd
        Some(java.time.LocalDate.parse(statStr).toEpochDay.compare(String.valueOf(v).toLong))
      case TimestampType | TimestampNTZType =>
        // Catalyst literal = micros since epoch. TIMESTAMP stats are
        // written as epoch micros (timezone-independent); NTZ stats are
        // wall-clock strings, parsed as-if-UTC to match NTZ literal
        // semantics. The numeric branch also accepts legacy TIMESTAMP
        // string stats only when the session that wrote them was UTC —
        // which GraftSession pins.
        statStr.toLongOption match {
          case Some(statMicros) => Some(statMicros.compare(String.valueOf(v).toLong))
          case None =>
            val statInstant = java.time.LocalDateTime
              .parse(statStr.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC)
            val micros = statInstant.getEpochSecond * 1000000L + statInstant.getNano / 1000L
            Some(micros.compare(String.valueOf(v).toLong))
        }
      case BooleanType => Some(statStr.toBoolean.compareTo(String.valueOf(v).toBoolean))
      case _ => None
    }
  } catch { case _: Exception => None }

  private def field(schema: StructType, name: String): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType)

  private def rangeOverlaps(f: FileStat, col: String, schema: StructType, lo: Any, hi: Any): Boolean =
    (for {
      dt <- field(schema, col)
      mn <- f.min.get(col)
      mx <- f.max.get(col)
      cLo <- cmp(dt, mx, lo) // max >= lo ?
      cHi <- cmp(dt, mn, hi) // min <= hi ?
    } yield cLo >= 0 && cHi <= 0).getOrElse(true)

  /** May any row satisfy col > v (strict) / col >= v? */
  private def maxAbove(f: FileStat, col: String, schema: StructType, v: Any, strict: Boolean): Boolean =
    (for {
      dt <- field(schema, col)
      mx <- f.max.get(col)
      c <- cmp(dt, mx, v)
    } yield if (strict) c > 0 else c >= 0).getOrElse(true)

  /** May any row satisfy col < v (strict) / col <= v? */
  private def minBelow(f: FileStat, col: String, schema: StructType, v: Any, strict: Boolean): Boolean =
    (for {
      dt <- field(schema, col)
      mn <- f.min.get(col)
      c <- cmp(dt, mn, v)
    } yield if (strict) c < 0 else c <= 0).getOrElse(true)
}
