package rcmbench

/** Order statistics for the benchmark's timings. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"bad percentile $p of ${xs.size}")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size / 100.0).toInt - 1))
  }

  /** The highest whole percentile (from 50 to 99) with at least ten
    * samples above its nearest rank, or None when there are too few
    * samples for any. */
  def tailPercentile(n: Int): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p * n / 100.0).toInt >= 10)

  /** The tail to report and its label: the [[tailPercentile]], or the
    * maximum when fewer than 20 samples allow no percentile from 50 up. */
  def tail(xs: Seq[Double]): (Double, String) = tailPercentile(xs.size) match {
    case Some(p) => (percentile(xs, p), s"p$p")
    case None    => (xs.max, "max")
  }
}
