package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile is the highest one with ten samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(10).isEmpty)
    for (n <- Seq(11, 30, 40, 57, 100, 1000)) {
      val p = Stats.tailPercentile(n).get
      assert(Stats.beyond(n, p) == 10, s"n=$n p=$p")
      // anything higher leaves fewer than ten beyond it
      assert(Stats.beyond(n, math.min(100.0, p + 100.0 / n)) < 10, s"n=$n")
    }
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 40).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 75) == 30.0)
    assert(Stats.percentile(xs, 100) == 40.0)
    assert(Stats.percentile((1 to 30).map(_.toDouble), 100.0 * 20 / 30) == 20.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("driver gap counts overlapping jobs once") {
    // jobs 0-10 and 5-15 overlap; 20-25 is separate; the span is 0-30
    val jobs = Seq((0L, 10L), (5L, 15L), (20L, 25L))
    assert(Stats.covered(jobs, 0L, 30L) == 20L)
    assert(Stats.uncovered(jobs, 0L, 30L) == 10L)
    // a job nested in another adds nothing
    assert(Stats.covered(Seq((0L, 30L), (5L, 10L)), 0L, 30L) == 30L)
    // jobs are clipped to the span
    assert(Stats.uncovered(Seq((-5L, 5L), (25L, 40L)), 0L, 30L) == 20L)
    assert(Stats.uncovered(Seq.empty, 0L, 30L) == 30L)
  }
}
