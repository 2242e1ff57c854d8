package perfbench

/** Order statistics for timing samples. */
object Stats {

  /** Linear-interpolated quantile `q` in [0, 1] of `xs` (the "inclusive"
    * method: the minimum is q = 0, the maximum q = 1). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Number of samples strictly above the `q` quantile's rank, i.e. how
    * many samples a `q` percentile is estimated from beyond itself. */
  def samplesBeyond(n: Int, q: Double): Int = math.floor(n * (1 - q) + 1e-9).toInt

  /** The highest of `candidates` (ascending percentiles such as 0.75, 0.9)
    * that has at least `minBeyond` samples beyond it among `n` samples. */
  def supportedPercentile(n: Int, candidates: Seq[Double] = Seq(0.5, 0.75, 0.9, 0.95, 0.99),
                          minBeyond: Int = 10): Option[Double] =
    candidates.filter(q => samplesBeyond(n, q) >= minBeyond).maxOption
}
