package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {
  test("union merges overlapping and touching intervals and drops empty ones") {
    assert(Intervals.union(Seq((5.0, 7.0), (0.0, 2.0), (1.0, 3.0), (3.0, 4.0), (6.0, 6.0))) ==
      List((0.0, 4.0), (5.0, 7.0)))
  }

  test("covered length is clipped to the window") {
    assert(Intervals.covered(Seq((0.0, 4.0), (6.0, 20.0)), 2.0, 10.0) == 6.0)
    assert(Intervals.covered(Nil, 0.0, 10.0) == 0.0)
  }

  // pass [0, 100] → op [10, 90] → construct [10, 30], plan [30, 35], execute [35, 90]
  private val spans = Seq(
    Span(1, 1, -1, "pass", 0, 100),
    Span(2, 2, 1, "op", 10, 90),
    Span(3, 2, 2, "construct", 10, 30),
    Span(4, 2, 2, "plan", 30, 35),
    Span(5, 2, 2, "execute", 35, 90))

  test("self time is duration minus the time children cover") {
    assert(Intervals.selfTimeMs(spans(0), spans) == 20.0)
    assert(Intervals.selfTimeMs(spans(1), spans) == 0.0)
    assert(Intervals.selfTimeMs(spans(4), spans) == 55.0)
  }

  test("driver gap is wall time minus the union of stage activity inside the span") {
    // two overlapping stages in execute, one in construct, one outside the op
    val stages = Seq((40.0, 60.0), (50.0, 70.0), (15.0, 25.0), (95.0, 99.0))
    assert(Intervals.driverGapMs(spans(1), stages) == 80.0 - 30.0 - 10.0)
    assert(Intervals.driverGapMs(spans(2), stages) == 10.0)
  }
}
