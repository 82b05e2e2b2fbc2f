package perfbench

/** Order statistics for the benchmark's timings.
  *
  * A timing is reported as its median plus the highest percentile that
  * still has at least [[MinBeyond]] samples beyond it, so a tail figure is
  * never read off a handful of points: p95 needs 200 samples, p75 needs 40,
  * and fewer than 20 samples support no tail at all. */
object Stats {
  val MinBeyond = 10
  /** Percentiles a tail may be named by, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** Nearest-rank index (0-based) of percentile p in n sorted samples. */
  def rank(p: Double, n: Int): Int =
    math.max(0, math.ceil(p / 100.0 * n - 1e-9).toInt - 1)

  /** Samples strictly beyond the nearest-rank position of p. */
  def beyond(p: Double, n: Int): Int = n - rank(p, n) - 1

  /** The highest ladder percentile with at least MinBeyond samples beyond
    * it, or None when even the median lacks them. */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.find(p => beyond(p, n) >= MinBeyond)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(rank(p, s.length))
  }

  /** Median, interpolating between the two middle samples. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Label for a percentile in a metric name: 95 -> "p95", 99.9 -> "p99.9". */
  def label(p: Double): String =
    if (p == p.floor) s"p${p.toInt}" else s"p$p"
}
