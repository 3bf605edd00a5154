package perfbench

/** Order statistics for the benchmark's reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile the sample supports: the largest order
    * statistic that still has at least ten samples above it, as
    * (percentile, value). With ten samples or fewer no tail percentile
    * is supported and the result is None. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= 10) None
    else {
      val k = n - 11 // 0-based index with exactly ten samples above it
      Some((100.0 * (k + 1) / n, xs.sorted.apply(k)))
    }
  }

  /** "median 1.234 s, p54 1.301 s, n=11" — the timing summary line. */
  def summary(xs: Seq[Double], unit: String): String = {
    val t = tail(xs).fold("no tail percentile (n <= 10)") { case (p, v) =>
      f"p${p.floor.toInt} $v%.6g $unit"
    }
    f"median ${median(xs)}%.6g $unit, $t, n=${xs.length}"
  }
}
