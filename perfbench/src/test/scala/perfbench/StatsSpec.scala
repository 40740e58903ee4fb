package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median and quartiles interpolate between the closest ranks") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quartiles(Seq(1.0, 2.0, 3.0, 4.0, 5.0)) == ((2.0, 3.0, 4.0)))
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
  }

  test("a tail percentile needs ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.supportedPercentile(xs, 90) == Some(90.0))
    assert(Stats.supportedPercentile(xs, 91).isEmpty)
    assert(Stats.supportedPercentile(xs.take(99), 90).isEmpty)
    assert(Stats.supportedPercentile(Nil, 50).isEmpty)
    assert(Stats.highestSupportedPercentile(100) == Some(90))
    assert(Stats.highestSupportedPercentile(200) == Some(95))
    assert(Stats.highestSupportedPercentile(20) == Some(50))
    assert(Stats.highestSupportedPercentile(10).isEmpty)
  }

  test("error rate counts failures per attempted operation") {
    assert(Stats.errorRate(0, 40) == 0.0)
    assert(Stats.errorRate(2, 40) == 0.05)
    assertThrows[IllegalArgumentException](Stats.errorRate(0, 0))
    assertThrows[IllegalArgumentException](Stats.errorRate(-1, 4))
  }
}
