package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def medianOr(xs: Seq[Double], empty: Double): Double =
    if (xs.isEmpty) empty else median(xs)

  /** A tail figure with the percentile it stands for and the sample
    * count behind it.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest percentile that still has at least `beyond` samples
    * above it: the (n - beyond)-th smallest sample, which is the
    * 100 * (n - beyond) / n percentile. When that percentile would sit
    * below the median (fewer than 2 * `beyond` samples) the median is
    * reported as the 50th percentile instead, so the figure is never a
    * lone maximum and never below the median.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.length
    if (n < 2 * beyond) Tail(median(xs), 50.0, n)
    else {
      val s = xs.sorted
      Tail(s(n - 1 - beyond), 100.0 * (n - beyond) / n, n)
    }
  }
}
