package perfbench

/** Small numeric helpers shared by the workloads. */
object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  private def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._1 < x._2)

  /** Length of [lo, hi) covered by at least one interval. */
  def busy(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clip(iv, lo, hi).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }

  /** Length of [lo, hi) covered by no interval, found by walking the gaps
    * (computed independently of `busy`, so busy + gaps = hi - lo checks
    * both). */
  def gaps(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var free = 0L
    var reach = lo
    clip(iv, lo, hi).sortBy(_._1).foreach { case (s, e) =>
      if (s > reach) free += s - reach
      reach = math.max(reach, e)
    }
    free + math.max(0L, hi - reach)
  }

  /** Most intervals open at one instant. */
  def maxConcurrent(iv: Seq[(Long, Long)]): Int = {
    val ev = iv.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }.sortBy(x => (x._1, x._2))
    ev.scanLeft(0)(_ + _._2).max
  }
}
