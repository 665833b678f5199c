package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("nearest-rank percentiles") {
    assert(Stats.percentile(ramp(100), 90) == 90.0)
    assert(Stats.percentile(ramp(10), 50) == 5.0)
    assert(Stats.percentile(Seq(3.0), 99) == 3.0)
  }

  test("median of an even sample is the midpoint of the middle pair") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(2.0, 9.0, 1.0)) == 2.0)
  }

  test("no tail below 40 samples: p75 needs ten samples beyond its rank") {
    assert(Stats.tail(ramp(20)).isEmpty)
    assert(Stats.tail(ramp(39)).isEmpty)
    val t = Stats.tail(ramp(40)).get
    assert(t.percentile == 75.0 && t.value == 30.0 && t.beyond == 10 && t.n == 40)
  }

  test("the tail climbs the ladder as the sample grows") {
    assert(Stats.tail(ramp(100)).get.percentile == 90.0)
    assert(Stats.tail(ramp(200)).get.percentile == 95.0)
    val t = Stats.tail(ramp(1000)).get
    assert(t.percentile == 99.0 && t.value == 990.0 && t.beyond == 10)
    assert(Stats.tail(ramp(10000)).get.percentile == 99.9)
  }
}
