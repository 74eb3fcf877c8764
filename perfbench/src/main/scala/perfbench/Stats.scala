package perfbench

import org.apache.commons.math3.special.Beta

/** Percentile levels and estimates for the latency metrics. */
object Stats {

  /** Harrell–Davis estimate of the `p`th percentile: a mean of all order
    * statistics weighted by a Beta(p(n+1), (1-p)(n+1)) distribution.
    * A run holds a few dozen samples of a mix of statement or query
    * kinds; one order statistic jumps between kinds from run to run,
    * while this weighted mean moves smoothly. */
  def harrellDavis(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val (n, q) = (s.size, p / 100.0)
    if (n == 1 || q <= 0) s.head
    else if (q >= 1) s.last
    else {
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      val cdf = (0 to n).map(i => Beta.regularizedBeta(i.toDouble / n, a, b))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }
  }

  /** Samples strictly beyond the nearest-rank `p`th percentile of `n`. */
  def beyond(n: Int, p: Int): Int =
    n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The highest whole percentile below 100 that leaves at least
    * `minBeyond` of `n` samples beyond it; None when `n` is too small
    * for any. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Int] =
    (99 to 1 by -1).find(p => beyond(n, p) >= minBeyond)
}
