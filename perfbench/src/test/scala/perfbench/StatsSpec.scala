package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median: middle value, or the mean of the two middle values") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("tail percentiles need at least ten samples beyond them") {
    assert(Stats.highestSupportedPercentile(9).isEmpty)
    assert(Stats.highestSupportedPercentile(99).isEmpty)
    assert(Stats.highestSupportedPercentile(100).contains(90))
    assert(Stats.highestSupportedPercentile(199).contains(90))
    assert(Stats.highestSupportedPercentile(200).contains(95))
    assert(Stats.highestSupportedPercentile(1000).contains(99))
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(Seq(5.0, 1.0), 50) == 1.0)
  }

  test("interval union counts overlapping jobs once and clips to the unit") {
    // [0,10) and [5,15) overlap; [20,30) is separate; [40,50) is outside
    val jobs = Seq((5L, 15L), (0L, 10L), (20L, 30L), (40L, 50L))
    assert(Stats.unionLength(jobs, 0L, 35L) == 25L)
    assert(Stats.unionLength(jobs, 8L, 25L) == 12L)   // [8,15) + [20,25)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L)), 0L, 10L) == 10L) // nested
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L)), 0L, 20L) == 20L) // touching
    assert(Stats.unionLength(Nil, 0L, 10L) == 0L)
  }

  test("driver gap is wall time with no job running") {
    assert(Stats.driverGap(Seq((2L, 4L), (3L, 6L), (8L, 9L)), 0L, 10L) == 5L)
    assert(Stats.driverGap(Nil, 0L, 10L) == 10L)
  }

  test("straggler time sums max − median over stages") {
    val byStage = Map(
      1 -> Seq(1.0, 1.0, 1.0, 4.0), // median 1.0, max 4.0 → 3.0
      2 -> Seq(2.0, 3.0, 10.0),     // median 3.0, max 10.0 → 7.0
      3 -> Seq(5.0),                // a single task straggles behind nothing
      4 -> Nil)
    assert(Stats.stragglerTime(byStage) == 10.0)
  }

  test("prefix self time is each prefix minus the one before") {
    val self = Stats.prefixSelf(Seq(2.0, 2.5, 4.0, 4.0))
    assert(self.zip(Seq(2.0, 0.5, 1.5, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(Stats.prefixSelf(Nil).isEmpty)
  }
}
