package perfbench

import scala.collection.mutable

final case class OrderRow(key: Long, cust: Long, status: String, price: Double, priority: String)

/** In-memory reference for the `lake_write` tables: the rows the
  * program must return for the current state, and the aggregates a
  * `VERSION AS OF` read checks for every committed orders version.
  * Arithmetic mirrors the SQL the workload sends (IEEE doubles,
  * truncating casts), so answers compare exactly.
  *
  * Order keys are small dense non-negative numbers, so the state lives
  * in primitive arrays indexed by key: the model stays a few MB, and
  * [[bytes]] gives its size, which `heap_mb` leaves out. Lines
  * are kept as per-order aggregates, all that their reads check. */
final class LakeModel {
  // orders: status and priority are codes into `names` (+1; 0 = no row)
  private var cust = Array.emptyLongArray
  private var price = Array.emptyDoubleArray
  private var status = Array.emptyByteArray
  private var priority = Array.emptyByteArray
  private val names = mutable.ArrayBuffer[String]()
  private var nOrders = 0L
  private var sumCust = 0L
  private var top = -1  // highest key ever written
  // lines of each order: COUNT(*), SUM(l_partkey), SUM(CAST(l_quantity AS BIGINT))
  private var lineN = Array.emptyLongArray
  private var linePart = Array.emptyLongArray
  private var lineQty = Array.emptyLongArray
  private val versions = mutable.TreeMap[Long, (Long, Long, Long)]()

  private def index(k: Long): Int = {
    require(k >= 0 && k < (1 << 28), s"order key $k outside the model's dense key space")
    k.toInt
  }
  private def grown(n: Int, k: Int) = math.max(k + 1, 2 * n)

  private def code(s: String): Byte = {
    val i = names.indexOf(s)
    if (i >= 0) (i + 1).toByte
    else { require(names.size < 126, "too many distinct strings"); names += s; names.size.toByte }
  }

  private def has(k: Int): Boolean = k < status.length && status(k) != 0

  private def remove(k: Int): Unit = if (has(k)) {
    nOrders -= 1; sumCust -= cust(k); status(k) = 0
  }

  private def put(r: OrderRow): Unit = {
    val k = index(r.key)
    if (k >= status.length) {
      val n = grown(status.length, k)
      cust = java.util.Arrays.copyOf(cust, n); price = java.util.Arrays.copyOf(price, n)
      status = java.util.Arrays.copyOf(status, n); priority = java.util.Arrays.copyOf(priority, n)
    }
    remove(k)
    cust(k) = r.cust; price(k) = r.price; status(k) = code(r.status); priority(k) = code(r.priority)
    nOrders += 1; sumCust += r.cust; top = math.max(top, k)
  }

  /** Keys of [lo, hi] that can hold a row. */
  private def span(lo: Long, hi: Long): Range =
    math.max(lo, 0L).toInt to math.min(hi, status.length - 1L).toInt

  def insertOrders(rows: Iterable[OrderRow]): Unit = rows.foreach(put)
  /** MERGE ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *. */
  def mergeOrders(rows: Iterable[OrderRow]): Unit = insertOrders(rows)
  def updateOrders(lo: Long, hi: Long, add: Double, newStatus: String): Unit =
    span(lo, hi).filter(has).foreach { k => price(k) += add; status(k) = code(newStatus) }
  def deleteOrders(lo: Long, hi: Long): Unit = span(lo, hi).foreach(remove)

  def addLines(order: Long, agg: (Long, Long, Long)): Unit = {
    val k = index(order)
    if (k >= lineN.length) {
      val n = grown(lineN.length, k)
      lineN = java.util.Arrays.copyOf(lineN, n); linePart = java.util.Arrays.copyOf(linePart, n)
      lineQty = java.util.Arrays.copyOf(lineQty, n)
    }
    lineN(k) += agg._1; linePart(k) += agg._2; lineQty(k) += agg._3
  }
  def deleteLines(lo: Long, hi: Long): Unit =
    (math.max(lo, 0L).toInt to math.min(hi, lineN.length - 1L).toInt).foreach { k =>
      lineN(k) = 0; linePart(k) = 0; lineQty(k) = 0 }

  /** Record the current orders state as table version `v`. */
  def commitOrders(v: Long): Unit = {
    while (top >= 0 && !has(top)) top -= 1
    versions(v) = (nOrders, sumCust, math.max(top, 0).toLong)
  }
  def orderVersions: IndexedSeq[Long] = versions.keys.toIndexedSeq

  def point(k: Long): Option[OrderRow] =
    if (k < 0 || k >= status.length || !has(k.toInt)) None
    else Some(OrderRow(k, cust(k.toInt), names(status(k.toInt) - 1), price(k.toInt),
      names(priority(k.toInt) - 1)))

  /** COUNT(*), SUM(o_custkey), SUM(CAST(o_totalprice * 100 AS BIGINT)). */
  def range(lo: Long, hi: Long): (Long, Long, Long) = {
    val ks = span(lo, hi).filter(has)
    (ks.size.toLong, ks.map(cust(_)).sum, ks.map(k => (price(k) * 100).toLong).sum)
  }

  /** COUNT(*), SUM(l_partkey), SUM(CAST(l_quantity AS BIGINT)) for one order. */
  def linesOf(k: Long): (Long, Long, Long) =
    if (k < 0 || k >= lineN.length) (0L, 0L, 0L)
    else (lineN(k.toInt), linePart(k.toInt), lineQty(k.toInt))

  /** COUNT(*), SUM(o_custkey), MAX(o_orderkey) at orders version `v`. */
  def at(v: Long): (Long, Long, Long) =
    versions.getOrElse(v, sys.error(s"no model state for version $v"))

  /** Heap the model holds, in bytes: its arrays exactly, plus about
    * 128 bytes (map entry, tuple, boxed longs) per version. */
  def bytes: Long =
    status.length * (8L + 8 + 1 + 1) + lineN.length * 24L + versions.size * 128L
}
