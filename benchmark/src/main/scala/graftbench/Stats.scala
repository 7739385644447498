package graftbench

/** Order statistics for latency samples. */
object Stats {

  /** Linear-interpolated quantile (the "type 7" definition numpy uses). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples that must lie beyond a tail quantile before it is reported:
    * with fewer, the "p90" is one or two unlucky ops, not a tail. */
  val MinBeyondTail = 10

  /** Whether quantile `q` of `n` samples is reportable. The median needs one
    * sample; a tail quantile needs [[MinBeyondTail]] samples past it, so a
    * p90 needs at least 100 samples. */
  def reportable(n: Int, q: Double): Boolean =
    if (q <= 0.5) n >= 1
    else math.floor(n * (1 - q) + 1e-9) >= MinBeyondTail

  /** Quantile `q` if [[reportable]], else None. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (reportable(xs.size, q)) Some(quantile(xs, q)) else None
}
