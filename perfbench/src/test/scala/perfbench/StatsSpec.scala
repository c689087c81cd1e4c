package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates and carries its sample count") {
    val xs = (1 to 101).map(_.toDouble)
    val p50 = Stats.percentile(xs, 50)
    assert(p50.value == 51.0 && p50.n == 101)
    assert(Stats.percentile(Seq(10.0, 20.0), 50).value == 15.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0).value == 1.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 100).value == 3.0)
    assert(Stats.percentile(Nil, 90).value.isNaN)
  }

  test("a tail percentile is supported only with ten samples beyond it") {
    assert(Stats.percentile((1 to 100).map(_.toDouble), 90).supported)
    assert(!Stats.percentile((1 to 99).map(_.toDouble), 90).supported)
    assert(!Stats.percentile((1 to 999).map(_.toDouble), 99).supported)
    assert(Stats.percentile((1 to 1000).map(_.toDouble), 99).supported)
    assert(!Stats.percentile(Nil, 50).supported)
  }

  test("a percentile over parts is the median of the parts' percentiles") {
    // five parts of 100; one part stalled (every value x10) moves nothing
    val part = (1 to 100).map(_.toDouble)
    val values = part ++ part ++ part.map(_ * 10) ++ part ++ part
    assert(Stats.partsPercentile(values, 50, 5) == Stats.percentile(part, 50).value)
    assert(Stats.partsPercentile(values, 90, 5) == Stats.percentile(part, 90).value)
    assert(Stats.partsPercentile(values :+ 1e9, 90, 5) == Stats.percentile(part, 90).value)
    assert(Stats.partsPercentile(Seq(1.0, 2.0), 50, 5).isNaN)
  }

  test("a threshold is due at the creation of the first event that reaches it") {
    // (created ms, event time): an out-of-order event (created 300, time 4)
    // does not move the maximum event time, so it makes nothing due
    val events = Seq(100L -> 3L, 200L -> 5L, 300L -> 4L, 400L -> 9L, 500L -> 12L)
    val due = Stats.dueTimes(events.iterator, Seq(5L, 6L, 9L, 10L, 20L, 4L))
    assert(due == Map(4L -> 200L, 5L -> 200L, 6L -> 400L, 9L -> 400L, 10L -> 500L))
    // 20 was never reached: its results measure the flush, not the stream
    assert(!due.contains(20L))
  }

  test("emit latency counts from the due time and drops never-due results") {
    val due = Map(10L -> 1000L, 15L -> 6000L)
    val lat = Stats.emitLatencies(Seq(10L -> 1800L, 10L -> 1800L, 15L -> 6250L, 99L -> 9000L), due)
    assert(lat == Seq(800.0, 800.0, 250.0))
  }

  test("self time subtracts the union of child intervals") {
    import Tracer.Span
    val spans = Seq(Span(1, 0, "root", 0, 100), Span(2, 1, "a", 10, 40), Span(3, 1, "b", 30, 60),
      Span(4, 1, "c", 90, 120), Span(5, 2, "d", 15, 20))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10) // [10,60) and the clipped [90,100)
    assert(self(2) == 30 - 5)
    assert(self(5) == 5)
  }
}
