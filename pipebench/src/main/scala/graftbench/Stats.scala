package graftbench

/** Summary statistics for timed samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of percentile `p` (0 < p < 1) among n samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Nearest-rank percentile, defined only when at least `tail` samples
    * lie beyond it: a tail estimated from fewer is not reported. */
  def tailPercentile(xs: Seq[Double], p: Double, tail: Int = 10): Double = {
    require(beyond(xs.size, p) >= tail,
      s"p${math.round(p * 100)} of ${xs.size} samples has ${beyond(xs.size, p)} beyond it; need $tail")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }
}
