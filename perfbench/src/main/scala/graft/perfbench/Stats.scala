package graft.perfbench

/** Order statistics for the reported timings. */
object Stats {

  /** Linearly interpolated percentile (`p` in [0, 100]) of a non-empty
    * sample — the same rule as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted.toIndexedSeq
    val pos = p / 100 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles, highest first. */
  private val Ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder percentile with at least ten samples beyond it,
    * or None when the sample is too small for any (fewer than 20). */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.find(p => n * (1 - p / 100) >= 10 - 1e-9)

  /** A timing as reported: median, the supported tail percentile and the
    * sample count. */
  final case class Summary(n: Int, median: Double,
      tail: Option[(Double, Double)]) {
    def render(unit: String): String = {
      val t = tail.fold(s"no tail percentile (n=$n < 20)") {
        case (p, v) => f"p${fmtP(p)}=$v%.4f $unit"
      }
      f"median=$median%.4f $unit, $t, n=$n"
    }
  }

  private def fmtP(p: Double): String =
    if (p == p.floor) p.toInt.toString else p.toString

  def summarize(xs: Seq[Double]): Summary =
    Summary(xs.size, median(xs),
      tailPercentile(xs.size).map(p => (p, percentile(xs, p))))
}
