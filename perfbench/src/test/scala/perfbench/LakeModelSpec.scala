package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LakeModelSpec extends AnyFunSuite {
  private def o(k: Long, cust: Long, price: Double) = OrderRow(k, cust, "O", price, "2-HIGH")

  test("writes change the current state; each version keeps its own") {
    val m = new LakeModel
    m.commitOrders(1)
    m.insertOrders((0L until 10L).map(k => o(k, k * 10, 100.25)))
    m.commitOrders(2)
    m.updateOrders(2, 4, 1.25, "U")
    m.commitOrders(3)
    m.deleteOrders(8, 20)
    m.mergeOrders(Seq(o(0, 7, 1.0), o(50, 5, 2.0)))
    m.commitOrders(4)

    assert(m.at(1) == ((0L, 0L, 0L)))
    assert(m.at(2) == ((10L, 450L, 9L)))
    assert(m.point(3).contains(OrderRow(3, 30, "U", 101.5, "2-HIGH")))
    assert(m.point(9).isEmpty && m.point(50).exists(_.cust == 5))
    // keys 0..7 and 50; key 0 re-priced by the merge
    assert(m.at(4) == ((9L, 7L + (1L to 7L).map(_ * 10).sum + 5L, 50L)))
    assert(m.orderVersions == IndexedSeq(1L, 2L, 3L, 4L))
  }

  test("range sums truncate price * 100 like CAST(... AS BIGINT)") {
    val m = new LakeModel
    m.insertOrders(Seq(o(1, 1, 0.29), o(2, 2, 1.005), o(3, 3, 5.0)))
    val cents = Seq(0.29, 1.005).map(p => (p * 100).toLong).sum
    assert(m.range(1, 2) == ((2L, 3L, cents)))
    assert(m.range(10, 20) == ((0L, 0L, 0L)))
  }

  test("lines add up per order and delete by order-key range") {
    val m = new LakeModel
    m.addLines(1, (2L, 21L, 5L))
    m.addLines(2, (1L, 12L, 4L))
    m.addLines(1, (1L, 13L, 5L))
    assert(m.linesOf(1) == ((3L, 34L, 10L)))
    m.deleteLines(0, 1)
    assert(m.linesOf(1) == ((0L, 0L, 0L)) && m.linesOf(2) == ((1L, 12L, 4L)))
    assert(m.linesOf(99) == ((0L, 0L, 0L)))
  }

  test("the state lives in arrays sized by the highest key") {
    val m = new LakeModel
    m.insertOrders((0L until 1000L).map(k => o(k, 1, 1.0)))
    m.addLines(999, (1L, 1L, 1L))
    m.commitOrders(1)
    // 18 bytes per order key, 24 per line key, one version
    assert(m.bytes >= 1000 * 18L + 1000 * 24L && m.bytes < 4 * (1000 * 42L))
    m.deleteOrders(990, 2000)
    m.commitOrders(2)
    assert(m.at(2) == ((990L, 990L, 989L)))
    assert(m.point(5).contains(OrderRow(5, 1, "O", 1.0, "2-HIGH")))
  }
}
