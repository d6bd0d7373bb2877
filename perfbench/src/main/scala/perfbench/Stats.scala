package perfbench

/** Order statistics by the nearest-rank rule. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least a share
    * `p` of all samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  /** Samples strictly beyond the nearest-rank `p` position. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  val TailLadder: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest percentile of [[TailLadder]] with at least `minBeyond`
    * samples beyond it (p95 needs 200 samples), or the maximum (p = 1)
    * when even the median has fewer. Returns (p, value). */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (Double, Double) =
    TailLadder.find(p => beyond(xs.length, p) >= minBeyond) match {
      case Some(p) => (p, percentile(xs, p))
      case None => (1.0, xs.max)
    }
}
