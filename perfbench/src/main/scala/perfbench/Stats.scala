package perfbench

/** Order statistics for per-op latencies. Quantiles interpolate linearly
  * between closest ranks (the "inclusive" method), so the median of an
  * even sample is the mean of its two middle values. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples needed beyond a quantile before it is reported. */
  val MinTailSamples = 10

  /** The p-quantile, or None unless at least [[MinTailSamples]] samples
    * lie strictly above the rank it sits at: a p90 of 30 samples is the
    * third-largest value and says nothing stable about the tail. */
  def tailQuantile(xs: Seq[Double], q: Double): Option[Double] = {
    val beyond = math.floor(xs.size * (1.0 - q) + 1e-9).toInt
    if (xs.isEmpty || beyond < MinTailSamples) None
    else Some(quantile(xs, q))
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
