package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Type-7 (linear interpolation) quantile of `xs` at rank `p` in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = p * (s.length - 1)
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile that still has at least ten samples above it:
    * the 11th-largest sample. With fewer than eleven samples no such
    * percentile exists and the maximum is returned. */
  def tail(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    if (s.length < 11) s.last else s(s.length - 11)
  }
}
