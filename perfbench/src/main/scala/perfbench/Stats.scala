package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail latency: the value at `percentile` over `samples` samples. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** Percentiles a tail may be reported at, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile on [[Ladder]] with at least `beyond` samples
    * above it (nearest-rank: the value at rank ceil(p/100 * n)). With too
    * few samples for any of them, the maximum, labelled 100. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    def rank(p: Double) = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
    Ladder.find(p => n - rank(p) >= beyond) match {
      case Some(p) => Tail(s(rank(p) - 1), p, n)
      case None    => Tail(s.last, 100.0, n)
    }
  }
}
