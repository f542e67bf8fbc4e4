package perfbench

/** Order statistics with the benchmark's naming rule. */
object Stats {

  /** Samples that must lie beyond a tail percentile before it may be
    * named (a p90 needs 100 samples, a p99 needs 1000). */
  val MinBeyond = 10

  /** Linear interpolation between order statistics (numpy's default,
    * and Python's `statistics.quantiles(method="inclusive")`). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly in the tail beyond percentile `q`. */
  def beyond(n: Int, q: Double): Int = math.floor(n * (1 - q) + 1e-9).toInt

  /** A tail percentile (q > 0.5) is named only when at least
    * [[MinBeyond]] samples lie beyond it. The median is the centre of
    * the samples, not a tail, and is always reported with its count. */
  def nameable(n: Int, q: Double): Boolean =
    n > 0 && (q <= 0.5 || beyond(n, q) >= MinBeyond)

  /** Percentile `q` if [[nameable]], else None. */
  def percentile(xs: Seq[Double], q: Double): Option[Double] =
    if (nameable(xs.size, q)) Some(quantile(xs, q)) else None
}
