package perfbench

/** Order statistics for the benchmark's latency samples. */
object Stats {

  /** Percentile levels a timing may be reported at, lowest first. */
  val Levels: Seq[Double] = Seq(50.0, 75.0, 90.0, 99.0, 99.9)

  /** Nearest-rank position (1-based) of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The highest of [[Levels]] with at least ten samples beyond it, or
    * None when fewer than twenty samples exist. */
  def tailLevel(n: Int): Option[Double] =
    Levels.filter(p => n - rank(n, p) >= 10).lastOption

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
