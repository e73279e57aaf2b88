package e2ebench

/** Order statistics for benchmark samples. Every figure carries the number
  * of samples it was taken from, so a report can say how much it rests on.
  *
  * Quantiles use the "exclusive" method of Python's
  * `statistics.quantiles` (position p·(n+1), linear interpolation), the
  * same method the acceptance check applies to run-to-run spreads.
  */
object Stats {
  final case class Summary(value: Double, n: Int)

  def median(xs: Seq[Double]): Summary = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    val v = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    Summary(v, n)
  }

  /** The value at fraction `p` of the sorted samples, exclusive method.
    * Positions outside [1, n] clamp to the extremes. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(p > 0 && p < 1, s"quantile fraction $p outside (0, 1)")
    val s = xs.sorted
    val n = s.length
    val h = p * (n + 1)
    if (h <= 1) s.head
    else if (h >= n) s.last
    else {
      val j = math.floor(h).toInt
      s(j - 1) + (h - j) * (s(j) - s(j - 1))
    }
  }

  /** First, second and third quartile, as `statistics.quantiles(xs, n=4)`. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    (quantile(xs, 0.25), quantile(xs, 0.5), quantile(xs, 0.75))
  }

  /** Upper-tail percentile that is only reported when it is backed: at
    * least `minBeyond` samples must lie strictly above it. A p90 over 40
    * samples would rest on 4 points and move with every outlier, so it is
    * refused rather than reported. */
  def tail(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Summary] =
    if (xs.isEmpty) None
    else {
      val v = quantile(xs, p)
      if (xs.count(_ > v) >= minBeyond) Some(Summary(v, xs.length)) else None
    }
}
