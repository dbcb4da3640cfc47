package graftbench

/** Order statistics for the reported metrics. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of a non-empty
    * sample: rank p/100 * (n - 1) over the sorted values. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
