package perfbench

/** Order statistics for the benchmark's timing metrics. */
object Stats {

  /** Samples a percentile needs beyond it before it is reported. */
  val TailSamples = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `q` in (0, 1]. The rank is rounded up
    * only past a relative 1e-9, so that (1 - 10/n) * n stays n - 10. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"percentile rank $q outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size * (1 - 1e-9)).toInt - 1))
  }

  /** The highest rank at most `q` that leaves [[TailSamples]] samples
    * above it, or None when `n` samples support no rank at all. */
  def supportedRank(n: Int, q: Double): Option[Double] =
    if (n <= TailSamples) None
    else Some(math.min(q, 1.0 - TailSamples.toDouble / n))

  /** The percentile at the highest supported rank at most `q`, with
    * the rank used; the median when the samples support no higher
    * rank. */
  def highestSupported(xs: Seq[Double], q: Double): (Double, Double) =
    supportedRank(xs.size, q).filter(_ >= 0.5) match {
      case Some(r) => (percentile(xs, r), r)
      case None => (median(xs), 0.5)
    }
}
