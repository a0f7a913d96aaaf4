package graftbench

/** Summary statistics shared by every workload. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least a
    * share `q` of all samples at or below it.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"percentile rank $q outside (0, 1]")
    xs.sorted.apply(rank(xs.size, q) - 1)
  }

  private def rank(n: Int, q: Double): Int =
    math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** How many of `n` samples lie strictly beyond the `q` percentile's
    * rank.
    */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** A percentile is reported only with at least ten samples beyond
    * it; fewer make it a statement about a handful of outliers.
    */
  val MinBeyond = 10

  def reportable(n: Int, q: Double): Boolean = beyond(n, q) >= MinBeyond

  /** The highest of p99, p95, p90, p75 and p50 that is reportable for
    * `n` samples.
    */
  def tailRank(n: Int): Option[Double] =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(reportable(n, _))

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
