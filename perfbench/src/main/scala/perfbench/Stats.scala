package perfbench

/** Percentiles under the benchmark's reporting rule: a percentile is
  * reported only when at least `MinBeyond` samples lie beyond it, and the
  * sample count is always reported next to it.
  */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank index (1-based) of the p-th percentile of n samples. */
  def rank(n: Int, p: Double): Int =
    math.min(math.max(math.ceil(p / 100.0 * n - 1e-9).toInt, 1), n)

  /** Samples strictly beyond the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Smallest sample count at which the p-th percentile is reportable. */
  def samplesFor(p: Double): Int =
    Iterator.from(1).find(n => beyond(n, p) >= MinBeyond).get

  /** Nearest-rank percentile, or None when fewer than `MinBeyond`
    * samples lie beyond it.
    */
  def percentile(samples: Seq[Double], p: Double): Option[Double] =
    if (samples.isEmpty || beyond(samples.size, p) < MinBeyond) None
    else Some(samples.sorted.apply(rank(samples.size, p) - 1))

  /** Median (mean of the two middle samples for an even count). */
  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
