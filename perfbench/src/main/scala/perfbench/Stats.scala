package perfbench

/** Order statistics over latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p ≤ 100): the sample at 1-based rank
    * ceil(p/100 · n). A tail percentile only says something when enough
    * samples lie beyond it, so the result is `None` unless at least
    * `minBeyond` samples rank above the returned one (p90 with
    * `minBeyond = 10` needs 100 samples).
    */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 0): Option[Double] = {
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val n = xs.length
    if (n == 0) None
    else {
      val rank = math.max(1, math.ceil(p / 100 * n - 1e-9).toInt)
      if (n - rank < minBeyond) None else Some(xs.sorted.apply(rank - 1))
    }
  }
}
