package graftbench

/** Order statistics over latency samples. */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of quantile `q`: a Beta-weighted average of
    * all order statistics. Over a run's few dozen pooled latencies of
    * different kinds it moves far less from run to run than the single
    * middle sample does.
    */
  def harrellDavis(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.size
    if (n == 1) s.head
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        q * (n + 1), (1 - q) * (n + 1))
      s.indices.map { i =>
        (beta.cumulativeProbability((i + 1).toDouble / n) -
          beta.cumulativeProbability(i.toDouble / n)) * s(i)
      }.sum
    }
  }

  def gmean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The latency at the highest percentile that still leaves `above`
    * samples strictly beyond it (nearest rank): `(value, percentile,
    * samples)`. With fewer than `above + 1` samples it degrades to the
    * median, and says so through the returned percentile.
    */
  def tail(xs: Seq[Double], above: Int = 10): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= above) (median(s), 50.0, n)
    else (s(n - above - 1), 100.0 * (n - above) / n, n)
  }
}
