package perfbench

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest order statistic with at least ten samples above it; the
    * maximum when there are ten samples or fewer. */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; if (s.size > 10) s(s.size - 11) else s.last }

  /** Percentile rank of [[tail]] among `n` samples. */
  def tailRank(n: Int): Double =
    if (n <= 10) 100.0 else 100.0 * (n - 10) / n

  /** Least-squares slope of y on x; 0 when x does not vary. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val mx = mean(pts.map(_._1)); val my = mean(pts.map(_._2))
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (sxx == 0) 0.0
    else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
  }

  /** Length of the union of `ivs` inside [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cl = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    cl.foreach { case (a, b) =>
      if (curE < 0 || a > curE) {
        if (curE >= 0) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE >= 0) total += curE - curS
    total
  }
}
