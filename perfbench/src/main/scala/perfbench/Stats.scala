package perfbench

/** Order statistics for the benchmark's reported numbers. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least `beyond` samples above
    * it: the (beyond+1)-th largest sample. Returns the value and the
    * percentile it sits at (its rank in the sorted samples, 0–100). None
    * when there are too few samples for any such percentile. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val i = s.size - 1 - beyond
      val pct = if (s.size == 1) 100.0 else 100.0 * i / (s.size - 1)
      Some((s(i), pct))
    }

  /** Least-squares line through (x, y) points: (intercept, slope). */
  def line(points: Seq[(Double, Double)]): (Double, Double) = {
    val mx = points.map(_._1).sum / points.size
    val my = points.map(_._2).sum / points.size
    val slope = points.map { case (x, y) => (x - mx) * (y - my) }.sum /
      points.map { case (x, _) => (x - mx) * (x - mx) }.sum
    (my - slope * mx, slope)
  }
}
