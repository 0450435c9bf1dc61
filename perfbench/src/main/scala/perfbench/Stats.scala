package perfbench

/** Order statistics for the reported timings. */
object Stats {

  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it.
    */
  def percentile(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, rank(p, s.size) - 1))
  }

  /** 1-based nearest rank of percentile `p` among `n` samples (the 1e-9
    * keeps 99.9 % of 10,000 at rank 9,990 despite rounding).
    */
  private def rank(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile that leaves at least ten samples
    * above it, with its value; None when there are too few samples for
    * any of them.
    */
  def tail(xs: collection.Seq[Double]): Option[(Double, Double)] =
    TailCandidates.find { p =>
      xs.size - rank(p, xs.size) >= 10
    }.map(p => p -> percentile(xs, p))
}
