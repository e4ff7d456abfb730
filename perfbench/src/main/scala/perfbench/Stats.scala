package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Median; NaN for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile (a whole number, below 100) that has at least
    * `beyond` samples strictly above its rank, with its value: the nearest
    * rank `ceil(p/100 * n)` must leave `n - rank >= beyond` samples
    * beyond it. None when the sample is too small for any percentile at
    * or above the median.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    val s = xs.sorted
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (p, rank)
    }.collectFirst { case (p, rank) if n - rank >= beyond => (p, s(rank - 1)) }
  }
}
