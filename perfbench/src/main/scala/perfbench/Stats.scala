package perfbench

/** Summary statistics for timing samples. */
object Stats {

  /** Median (mean of the two middle values for even counts); NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Percentiles a summary may report, highest first. */
  val Candidates: Seq[Double] = Seq(0.999, 0.99, 0.9)

  /** Samples a tail percentile needs above it to be reported. */
  val TailSamples = 10

  /** The highest candidate percentile with at least [[TailSamples]]
    * samples above it among `n`; None when even p90 is not supported. */
  def supportedPercentile(n: Int): Option[Double] =
    Candidates.find(p => math.floor(n * (1 - p) + 1e-9) >= TailSamples)

  /** Nearest-rank percentile: the smallest sample with at least
    * `p`·n samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p * s.length - 1e-9).toInt.max(1).min(s.length)
    s(rank - 1)
  }

  final case class Summary(n: Int, median: Double, tail: Option[(Double, Double)]) {
    def describe(unit: String): String = {
      val t = tail.map { case (p, v) => f", p${p * 100}%.1f=$v%.4f $unit" }.getOrElse(
        ", no tail percentile (needs >= 11 samples)")
      f"median=$median%.4f $unit$t, n=$n"
    }
  }

  def summarize(xs: Seq[Double]): Summary =
    Summary(xs.length, median(xs),
      supportedPercentile(xs.length).map(p => p -> percentile(xs, p)))
}
