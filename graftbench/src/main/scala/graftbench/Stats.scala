package graftbench

/** Order statistics shared by every leg. */
object Stats {

  /** Nearest-rank percentile (`p` in 0..100): the smallest sample with
    * at least p% of the samples at or below it. A latency percentile
    * is then always a value that was actually observed.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
