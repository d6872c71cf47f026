package graftbench

/** Order statistics for the benchmark's reported timings.
  *
  * Percentiles are nearest-rank: the p-th percentile of n samples is the
  * ⌈p·n/100⌉-th smallest. A percentile is only reported when at least
  * [[MinBeyond]] samples lie strictly above its rank, so a tail figure is
  * never the reading of one or two outliers. */
object Stats {

  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1-based rank of the nearest-rank p-th percentile. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples ranked above the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Fewest samples for which the p-th percentile has [[MinBeyond]]
    * samples above it. */
  def samplesFor(p: Double): Int =
    Iterator.from(1).find(n => beyond(n, p) >= MinBeyond).get

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  /** The p-th percentile, or an error when the sample cannot support it. */
  def supportedPercentile(xs: Seq[Double], p: Double): Double = {
    require(beyond(xs.length, p) >= MinBeyond,
      s"p$p needs ${samplesFor(p)} samples for $MinBeyond beyond it, got ${xs.length}")
    percentile(xs, p)
  }
}
