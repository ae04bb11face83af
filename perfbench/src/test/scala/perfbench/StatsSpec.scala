package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile: the highest standard percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- 1 to 3000; p <- Stats.tailPercentile(n)) assert(Stats.beyond(n, p) >= 10)
  }

  test("nearest-rank percentile and the summary built on it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.beyond(100, 90) == 10)
    val s = Stats.summary(xs)
    assert(s.n == 100 && s.p50 == 50.5 && s.tailP.contains(90.0) && s.tail.contains(90.0))
    assert(Stats.summary(Seq(3.0, 1.0, 2.0)).tail.isEmpty)
  }

  test("self time is the span minus the union of its children, clipped to the span") {
    // children overlap each other ([10,30) and [20,40) cover 30) and one runs past the end
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60)
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((-5L, 200L))) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L), (30L, 35L), (5L, 5L))) == 25)
  }
}
