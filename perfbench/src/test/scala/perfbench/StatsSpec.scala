package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even samples, order-independent") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(0.5, 0.7, 0.6, 0.9, 1.1, 0.4, 0.8, 1.0, 0.65, 0.75)) == 0.725)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("median of an empty sample is refused") {
    intercept[IllegalArgumentException](Stats.median(Nil))
  }
}
