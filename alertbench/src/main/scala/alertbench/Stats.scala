package alertbench

/** Summary statistics for latency samples. */
object Stats {

  /** Linear-interpolation quantile, `q` in [0, 1]; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Candidate tail percentiles, highest first. */
  val tailPercentiles: Seq[Int] = Seq(99, 95, 90, 75)

  /** The highest tail percentile that still has at least `beyond`
    * samples strictly above its rank, with its value — so the reported
    * tail is never the maximum or a handful of outliers. None when even
    * p75 has fewer than `beyond` samples beyond it.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] =
    tailPercentiles.find(p => xs.length - math.ceil(xs.length * p / 100.0) >= beyond)
      .map(p => (p, quantile(xs, p / 100.0)))
}
