package perfbench

/** Percentiles by the nearest-rank rule, with the sample-count rule the
  * benchmark reports under: a percentile is reportable only when at least
  * [[MinBeyond]] samples lie strictly above its rank. */
object Stats {
  val MinBeyond = 10

  /** Index (0-based, into the sorted samples) of the p-quantile. */
  def rank(n: Int, p: Double): Int = math.max(0, math.ceil(p * n - 1e-9).toInt - 1)

  /** Samples that sort after the p-quantile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p) - 1

  /** Smallest sample count for which the p-quantile keeps [[MinBeyond]] beyond it. */
  def minSamples(p: Double): Int = Iterator.from(1).find(n => beyond(n, p) >= MinBeyond).get

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    xs.sorted.apply(rank(xs.size, p))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
