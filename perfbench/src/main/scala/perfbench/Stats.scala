package perfbench

/** Percentiles as the benchmark reports them. */
object Stats {

  /** Nearest-rank percentile (`p` in (0, 1]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Geometric mean of a non-empty sample of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of an empty sample")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Samples strictly above the nearest-rank `p` percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  /** Percentiles a tail may be reported at, highest first. A fixed grid
   * keeps the reported percentile the same from run to run while the
   * sample count moves a little. */
  val TailGrid: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** Percentile, value and count beyond it of the tail: the highest grid
   * percentile with at least `minBeyond` samples beyond it. A sample too
   * small for any grid percentile reports its median, with the (too small)
   * count beyond it, so the record shows the shortfall. */
  final case class Tail(pct: Double, value: Double, beyond: Int, samples: Int)

  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    val n = xs.length
    val p = TailGrid.find(q => beyond(n, q) >= minBeyond).getOrElse(0.5)
    Tail(p * 100, percentile(xs, p), beyond(n, p), n)
  }
}
