package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MeasureSpec extends AnyFunSuite {

  private def ramp(n: Int) = (1 to n).map(_.toDouble).reverse

  test("tail: highest ladder percentile with at least 10 samples beyond it") {
    val cases = Seq(
      // n -> (percentile, value, beyond)
      20 -> (50.0, 10.0, 10),
      39 -> (50.0, 20.0, 19),
      40 -> (75.0, 30.0, 10),
      100 -> (90.0, 90.0, 10),
      200 -> (95.0, 190.0, 10),
      1000 -> (99.0, 990.0, 10),
      10000 -> (99.9, 9990.0, 10))
    for ((n, (p, v, beyond)) <- cases) {
      val t = Stats.tail(ramp(n))
      assert(t == Stats.Tail(p, v, n, beyond), s"n=$n")
    }
  }

  test("tail: too few samples for any percentile falls back to the p50") {
    val t = Stats.tail(ramp(7))
    assert(t == Stats.Tail(50.0, 4.0, 7, 3))
    assert(Stats.p50(ramp(7)) == 4.0 && Stats.p50(ramp(8)) == 4.0)
    assert(Stats.median(ramp(8)) == 4.5)
  }

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    SpanRec(id, s"s$id", parent, start, end, "r", Map.empty)

  test("self time subtracts the union of child intervals, clipped to the parent") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30),  // overlaps span 2
      span(2, 0, 20, 50),
      span(3, 0, 60, 70),
      span(4, 1, 12, 18),  // grandchild: counts against span 1 only
      span(5, 0, 95, 120), // runs past its parent's end
      span(6, -1, 200, 210))
    val self = SpanMath.selfNs(spans)
    assert(self(0) == 100 - (40 + 10 + 5))
    assert(self(1) == 20 - 6)
    assert(self(2) == 30 && self(3) == 10 && self(4) == 6 && self(5) == 25)
    assert(self(6) == 10)
  }
}
