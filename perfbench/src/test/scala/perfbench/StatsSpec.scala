package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 5.0)
    assert(Stats.quantile(xs, 0.25) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
  }

  test("a percentile is supported only with ten samples beyond it") {
    assert(Stats.samplesBeyond(100, 0.9) == 10)
    assert(Stats.samplesBeyond(99, 0.9) == 9)
    assert(Stats.samplesBeyond(182, 0.9) == 18)
    assert(Stats.supportedPercentile(182).contains(0.9))
    assert(Stats.supportedPercentile(100).contains(0.9))
    assert(Stats.supportedPercentile(99).contains(0.75))
    assert(Stats.supportedPercentile(40).contains(0.75))
    assert(Stats.supportedPercentile(39).contains(0.5))
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(1000).contains(0.99))
  }

  test("empty samples and out-of-range quantiles are refused") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
  }
}
