package perfbench

/** Order statistics used by every reported metric. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples that lie strictly beyond the nearest-rank `p` percentile. */
  def tailSamples(n: Int, p: Double): Int = n - math.ceil(p * n - 1e-9).toInt

  /** Samples a reported percentile needs beyond it. */
  val MinTail = 10

  /** Nearest-rank percentile, reported only when at least `MinTail`
    * samples lie beyond it — a p90 over 20 samples is set by two
    * readings, which is noise rather than a tail.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile must be in (0, 1), got $p")
    if (xs.isEmpty || tailSamples(xs.length, p) < MinTail) None
    else {
      val s = xs.sorted
      Some(s(math.ceil(p * s.length - 1e-9).toInt - 1))
    }
  }
}
