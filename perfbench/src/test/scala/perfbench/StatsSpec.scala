package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    val t = Stats.tail(xs)
    assert(t.value == 90.0 && t.beyond == 10 && t.n == 100)
    assert(t.percentile == 90.0)
    assert(xs.count(_ > t.value) == 10)
  }

  test("tail of 11 samples is the smallest, with 10 beyond") {
    val t = Stats.tail((1 to 11).map(_.toDouble))
    assert(t.value == 1.0 && t.beyond == 10)
    assert(math.abs(t.percentile - 100.0 / 11) < 1e-9)
  }

  test("too few samples report the maximum with none beyond") {
    val t = Stats.tail(Seq(5.0, 9.0, 7.0))
    assert(t.value == 9.0 && t.beyond == 0 && t.percentile == 100.0 && t.n == 3)
  }

  test("ties count as samples at the tail value, not beyond it") {
    val xs = Seq.fill(20)(1.0) ++ Seq.fill(10)(2.0)
    val t = Stats.tail(xs)
    assert(t.value == 1.0 && t.beyond == 10)
  }
}
