package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail sample: the highest order statistic that still has at least
    * `beyond` samples strictly above it in rank, returned with its
    * percentile (share of samples at or below it, in %) and the number of
    * samples beyond it. With fewer than `beyond + 1` samples no such rank
    * exists; the maximum is returned with the count actually beyond it
    * (0), so a reader sees the tail is unsupported rather than a guess. */
  case class Tail(value: Double, percentile: Double, beyond: Int, n: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val i = if (n > beyond) n - 1 - beyond else n - 1
    Tail(s(i), 100.0 * (i + 1) / n, n - 1 - i, n)
  }
}
