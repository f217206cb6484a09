package graft.perfbench

/** Percentiles that refuse to answer from too few samples. */
object Stats {

  /** Samples a percentile must have strictly beyond it (on its far side)
    * before it is reported: p90 needs 100 samples, p50 needs 20. */
  val MinBeyond = 10

  /** The p-th percentile (0 < p < 1) by linear interpolation between the
    * closest ranks, or None when fewer than [[MinBeyond]] samples lie
    * beyond it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile must be in (0,1), got $p")
    val n = xs.size
    val beyond = math.floor(n * math.min(p, 1 - p) + 1e-9).toInt
    if (n == 0 || beyond < MinBeyond) None
    else {
      val s = xs.sorted
      val pos = p * (n - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, n - 1)
      Some(s(lo) + (s(hi) - s(lo)) * (pos - lo))
    }
  }

  /** The median with no sample floor — for small per-run repeat counts
    * (set-up repetitions, per-layer probes), not for latency claims. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
