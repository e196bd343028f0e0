package graftbench

/** Order statistics with the benchmark's tail rule: a percentile is
  * reported only when at least [[MinBeyond]] samples lie beyond it, so
  * p50 needs 20 samples, p75 needs 40 and p90 needs 100. */
object Stats {
  val MinBeyond = 10

  /** Fewest samples for which percentile `p` (0 < p < 1) may be reported. */
  def minSamples(p: Double): Int = math.ceil(MinBeyond / (1.0 - p) - 1e-9).toInt

  /** Linear-interpolated percentile (numpy's default, Python's
    * `statistics.quantiles(..., method="inclusive")`). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** `percentile` when the sample count meets the tail rule, else None. */
  def tail(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.size >= minSamples(p)) Some(percentile(xs, p)) else None

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}
