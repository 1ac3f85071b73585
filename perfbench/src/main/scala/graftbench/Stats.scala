package graftbench

/** Order statistics used by every reported latency. */
object Stats {

  /** Median by linear interpolation between the two middle samples. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail sample: the highest percentile with at least ten samples
    * beyond it. Sorted ascending, that is the sample of rank n - 10
    * (1-based); with fewer than eleven samples no percentile qualifies and
    * the maximum is reported with `beyond` = 0, so the shortfall shows.
    */
  final case class Tail(value: Double, percentile: Double, beyond: Int, n: Int)

  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val rank = if (n >= 11) n - 10 else n
    Tail(s(rank - 1), 100.0 * rank / n, n - rank, n)
  }
}
