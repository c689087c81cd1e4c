package perfbench

/** The benchmark's own arithmetic: percentiles that carry their sample
  * count and latency attribution from the moment a result became due.
  * Pure functions, so the unit specs pin them without a Spark session. */
object Stats {

  /** A percentile together with the evidence behind it. `supported` is
    * false when fewer than ten samples lie above the percentile, i.e.
    * the figure is really the tail of a handful of points. */
  final case class Pct(p: Double, value: Double, n: Int) {
    def beyond: Int = math.floor(n * (1.0 - p / 100.0) + 1e-9).toInt
    def supported: Boolean = n > 0 && beyond >= 10
  }

  /** Linear-interpolation percentile (the "inclusive" definition: p0 is
    * the minimum, p100 the maximum). NaN for an empty sample. */
  def percentile(values: Seq[Double], p: Double): Pct = {
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    if (values.isEmpty) return Pct(p, Double.NaN, 0)
    val s = values.sorted.toArray
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    Pct(p, s(lo) + (s(hi) - s(lo)) * (pos - lo), s.length)
  }

  def median(values: Seq[Double]): Double = percentile(values, 50).value

  /** The median over `parts` consecutive, equal slices of `values` (in
    * time order) of each slice's `p`-th percentile; a trailing remainder
    * shorter than a slice is dropped. NaN with fewer values than parts. */
  def partsPercentile(values: Seq[Double], p: Double, parts: Int): Double = {
    val per = values.size / parts
    if (per == 0) Double.NaN
    else median((0 until parts).map(i => percentile(values.slice(i * per, (i + 1) * per), p).value))
  }

  /** Due times for a set of thresholds. `events` is the generator's log
    * in creation order as (createdMs, eventTime); a threshold `t` becomes
    * due at the creation of the first event whose event time is >= t,
    * because that event is the one that can move the watermark past it.
    * Thresholds no event reached are absent from the result (they were
    * never due during the run). */
  def dueTimes(events: Iterator[(Long, Long)], thresholds: Seq[Long]): Map[Long, Long] = {
    val pending = thresholds.distinct.sorted.toArray
    val out = Map.newBuilder[Long, Long]
    var next = 0
    var maxEvent = Long.MinValue
    while (next < pending.length && events.hasNext) {
      val (created, eventTime) = events.next()
      if (eventTime > maxEvent) {
        maxEvent = eventTime
        while (next < pending.length && pending(next) <= maxEvent) {
          out += pending(next) -> created
          next += 1
        }
      }
    }
    out.result()
  }

  /** Latency of each emitted result: time the sink saw it minus the time
    * it became due. Results whose threshold never became due are
    * dropped (the flush that closes the run forces them; they measure
    * the flush, not the stream). */
  def emitLatencies(emitted: Seq[(Long, Long)], due: Map[Long, Long]): Seq[Double] =
    emitted.flatMap { case (threshold, seenMs) =>
      due.get(threshold).map(d => (seenMs - d).toDouble)
    }
}
