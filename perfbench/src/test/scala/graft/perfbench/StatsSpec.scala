package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile interpolates between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("tail percentile needs ten samples beyond it") {
    assert(Stats.tailPercentile(1).isEmpty)
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("a timing reports its median, tail and sample count") {
    val small = Metric.timing("run_s", "s", Seq(3.0, 1.0, 2.0), "warm runs")
    assert(small.value == 2.0 && small.n == 3)
    assert(small.line.contains("n=3") && small.line.contains("no tail"))
    val big = Metric.timing("run_s", "s", (1 to 40).map(_.toDouble), "w")
    assert(big.n == 40 && big.value == 20.5)
    assert(big.summary.flatMap(_.tail).map(_._1).contains(75.0))
    assert(big.line.contains("p75=") && big.line.contains("n=40"))
  }
}
