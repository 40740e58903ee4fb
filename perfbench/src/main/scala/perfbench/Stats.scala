package perfbench

/** Summary statistics the benchmark reports. Every function takes the raw
  * samples of one run; none of them silently turns "no samples" into 0. */
object Stats {

  /** Linear interpolation between the closest ranks of the sorted sample,
    * at fraction `q` in [0, 1] (q = 0.5 is the median). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile fraction $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** (first quartile, median, third quartile). */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) =
    (quantile(xs, 0.25), quantile(xs, 0.5), quantile(xs, 0.75))

  /** The highest whole percentile that leaves at least `minBeyond` of the
    * `n` samples strictly above its nearest-rank position, or None when
    * the sample is too small to support any tail percentile. */
  def highestSupportedPercentile(n: Int, minBeyond: Int = 10): Option[Int] =
    (99 to 1 by -1).find(p => n - nearestRank(n, p) >= minBeyond)

  /** The nearest-rank `p`-th percentile, only when at least `minBeyond`
    * samples lie beyond it. */
  def supportedPercentile(xs: Seq[Double], p: Int,
                          minBeyond: Int = 10): Option[Double] = {
    val n = xs.size
    if (n == 0 || n - nearestRank(n, p) < minBeyond) None
    else Some(xs.sorted.apply(nearestRank(n, p) - 1))
  }

  /** 1-based rank of the nearest-rank percentile `p` in a sample of `n`. */
  private def nearestRank(n: Int, p: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** Failed operations and failed output checks per operation attempted. */
  def errorRate(failed: Long, attempted: Long): Double = {
    require(attempted >= 1, "error rate needs at least one attempted operation")
    require(failed >= 0, s"negative failure count $failed")
    failed.toDouble / attempted
  }
}
