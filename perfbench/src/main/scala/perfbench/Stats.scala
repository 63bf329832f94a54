package perfbench

object Stats {
  /** Linear-interpolated percentile (the reporter's rule); 0 when empty. */
  def percentile(xs: Seq[Double], pct: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val rank = (s.size - 1) * pct / 100.0
      val lo = rank.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
}
