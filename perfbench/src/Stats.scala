package perfbench

/** Order statistics of the result lines. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 1), capped at the highest
    * percentile that still has at least ten samples beyond it. Returns
    * the value and the percentile actually reported; with ten samples or
    * fewer no percentile qualifies and the maximum is reported as p = 1.
    */
  def tail(xs: Array[Double], p: Double): (Double, Double) = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= 10) return (s(n - 1), 1.0)
    val want = math.ceil(p * n).toInt - 1
    val idx = math.min(math.max(want, 0), n - 11)
    (s(idx), (idx + 1).toDouble / n)
  }
}
