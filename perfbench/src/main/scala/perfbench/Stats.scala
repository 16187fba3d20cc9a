package perfbench

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** The highest whole percentile that still has at least ten samples
    * beyond it, or None when there are too few samples for one. */
  def tailPercentile(n: Int): Option[Int] = {
    val p = math.floor(100.0 * (n - 10) / n).toInt
    if (p >= 50) Some(math.min(p, 99)) else None
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }
}
