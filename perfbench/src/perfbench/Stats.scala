package perfbench

/** Order statistics and the serving-capacity rules the benchmark reports. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest value with at least `p`% of the
    * values at or below it (`p` in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no values")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.max(rank, 1) - 1)
  }

  /** A backlog grows when requests late in a step start later than early
    * ones: the median start lag of the last quarter exceeds that of the
    * first quarter by more than `slackMs`. Lags are in issue order. */
  def backlogGrowing(lagsMs: Seq[Double], slackMs: Double = 2.0): Boolean =
    lagsMs.length >= 8 && {
      val q = lagsMs.length / 4
      median(lagsMs.takeRight(q)) - median(lagsMs.take(q)) > slackMs
    }

  /** One step of the rate ladder. */
  final case class Step(rate: Double, p99Ms: Double, backlog: Boolean, failed: Long)

  /** A step passes when it met the p99 limit with no growing backlog and
    * no failed request. */
  def passes(s: Step, p99LimitMs: Double): Boolean =
    s.p99Ms <= p99LimitMs && !s.backlog && s.failed == 0

  /** The highest rate, climbing the ladder in order, whose step and every
    * step below it passed; 0 if the first step already missed. */
  def maxRate(steps: Seq[Step], p99LimitMs: Double): Double =
    steps.takeWhile(passes(_, p99LimitMs))
      .lastOption.map(_.rate).getOrElse(0.0)
}
