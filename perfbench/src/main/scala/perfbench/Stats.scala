package perfbench

/** Order statistics used by every workload. Percentiles interpolate
  * linearly between closest ranks (the "linear" method of numpy and of
  * Python's `statistics.quantiles(..., method="inclusive")`). */
object Stats {
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
