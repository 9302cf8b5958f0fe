package perfbench

/** Order statistics for the latency metrics. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency together with what supports it: `percentile` is the
    * share of samples at or below `value`, `beyond` how many lie above. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, n: Int)

  /** The highest percentile that still has `minBeyond` samples beyond
    * it: the (n - minBeyond)-th smallest sample. With too few samples
    * there is no such percentile, and the maximum is reported with the
    * number of samples beyond it (0), so a reader sees the weak base. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n > minBeyond) Tail(s(n - minBeyond - 1), 100.0 * (n - minBeyond) / n, minBeyond, n)
    else Tail(s.last, 100.0, 0, n)
  }
}
