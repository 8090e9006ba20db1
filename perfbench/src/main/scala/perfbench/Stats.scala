package perfbench

/** The metric arithmetic of the benchmark, kept free of Spark so the
  * specs can pin it on hand-made inputs. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Candidate tail percentiles, highest first. */
  val tailPercentiles: Seq[Int] = Seq(99, 95, 90)

  /** The highest tail percentile with at least `minBeyond` samples above
    * it, or None: a p90 from 12 samples rests on one value. */
  def highestSupportedPercentile(n: Int, minBeyond: Int = 10): Option[Int] =
    tailPercentiles.find(p => n * (100 - p) >= minBeyond * 100)

  /** Nearest-rank percentile (the smallest value with at least p% of the
    * samples at or below it). */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.length} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  /** Total length of the union of [start, end) intervals, clipped to
    * [lo, hi). Overlapping jobs count once. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Driver gap: the part of a unit's wall time during which no job
    * runs — planning, codegen and driver-side loops. */
  def driverGap(jobIntervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - unionLength(jobIntervals, lo, hi)

  /** Sum over stages of (slowest task − median task). A partitioned
    * operator waits for its most loaded partition; this is that wait. */
  def stragglerTime(taskTimesByStage: Map[Int, Seq[Double]]): Double =
    taskTimesByStage.values.filter(_.nonEmpty)
      .map(ts => ts.max - median(ts)).sum

  /** Self time of each phase from cumulative prefix timings:
    * self(k) = prefix(k) − prefix(k−1), with prefix(0) = 0. */
  def prefixSelf(prefixes: Seq[Double]): Seq[Double] =
    prefixes.zip(0.0 +: prefixes).map { case (p, prev) => p - prev }
}
