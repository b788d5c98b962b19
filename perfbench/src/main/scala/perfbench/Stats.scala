package perfbench

/** Summary helpers for the benchmark's samples. */
object Stats {

  /** The `p`-th percentile (0..100) by linear interpolation between order
    * statistics (numpy's default method).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    s(lo) + (h - lo) * (s(math.ceil(h).toInt) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** `num / den`, and 0 when nothing was attempted. */
  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den

  /** Max over median, the task-skew measure (1 = balanced; 0 = no tasks). */
  def skew(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else ratio(xs.max, median(xs))

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }
}
