package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile: `value` has exactly `beyond` samples above it in
    * the sorted sample of size `n`; `pct` is its rank as a percentile. */
  final case class Tail(value: Double, pct: Double, n: Int)

  /** The highest percentile that still has at least `beyond` samples
    * beyond it: the sample at sorted index n - 1 - beyond, whose rank is
    * 100 * (n - beyond) / n. None when the sample is too small to have
    * one (n <= beyond). */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n <= beyond) None
    else Some(Tail(xs.sorted.apply(n - 1 - beyond),
      100.0 * (n - beyond) / n, n))
  }
}
