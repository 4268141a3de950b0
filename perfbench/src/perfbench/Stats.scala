package perfbench

object Stats {
  /** Linear-interpolated quantile (numpy's default), 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile of values each carrying a weight (a file's
    * latency counted once per message in it). */
  def weightedQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
    val total = xs.map(_._2).sum
    if (total == 0) 0.0
    else {
      val rank = math.max(1L, math.ceil(q * total).toLong)
      var acc = 0L
      xs.sortBy(_._1).find { case (_, w) => acc += w; acc >= rank }.map(_._1).getOrElse(0.0)
    }
  }
}
