package flightbench

/** Order statistics over latency samples. */
object Stats {

  /** Nearest-rank percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail percentile: the highest that every run's query count
    * supports with at least ten samples beyond it (a run reads 44 to
    * about 100 times). It is fixed rather than chosen from each run's
    * count, so that a run with a few more samples does not report a
    * different percentile. */
  private val TailP = 75.0

  /** p75 with at least ten samples beyond it, or the maximum when the
    * sample is too small (a run's days): (label, value). */
  def tail(xs: Seq[Double]): (String, Double) =
    if (xs.length * (1 - TailP / 100.0) >= 10) (s"p$TailP", percentile(xs, TailP))
    else ("max", xs.max)
}
