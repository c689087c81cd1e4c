package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** The stream workload's harness: a single-thread generator that feeds a
  * [[MemoryStream]] open loop (rows stamped with the time they were due,
  * never slowed by the system under test) or closed loop (fixed chunks,
  * each added after the previous one is processed), and a
  * [[StreamingQueryListener]] that records every micro-batch. */
final class StreamHarness[T](spark: SparkSession, mem: MemoryStream[T], tracer: Tracer) {
  import StreamHarness._

  // cumulative rows after each addData call; the MemoryStream offset of a
  // call is its index here
  private val blockEnds = mutable.ArrayBuffer.empty[Long]
  private var added = 0L
  private val lagMs = mutable.ArrayBuffer.empty[Double]
  private val sinkMs = mutable.ArrayBuffer.empty[Double]
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  @volatile private var streamSpan = 0L

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val b = Batch.of(p)
      batches.add(b)
      val endNs = System.nanoTime() - (System.currentTimeMillis() - b.endMs) * 1000000L
      tracer.record("mb.batch", endNs - b.durations.getOrElse("triggerExecution", 0L) * 1000000L,
        endNs, streamSpan)
    }
  }
  spark.streams.addListener(listener)

  def attachSpan(id: Long): Unit = streamSpan = id

  def rowsAdded: Long = added

  /** Add one block of rows (one MemoryStream offset). */
  def add(rows: Seq[T]): Unit = {
    mem.addData(rows)
    added += rows.size
    blockEnds.synchronized(blockEnds += added)
  }

  /** Rows added up to and including MemoryStream offset `block`. */
  def rowsThroughBlock(block: Long): Long = blockEnds.synchronized(blockEnds(block.toInt))

  /** The micro-batches that carried data, in order, as row boundaries:
    * batch k processed rows [ends(k-1), ends(k)). */
  def batchRowEnds: Array[Long] =
    batches.asScala.toSeq.filter(_.endBlock >= 0).sortBy(_.id)
      .map(b => rowsThroughBlock(b.endBlock)).distinct.sorted.toArray

  def batchSeq: Seq[Batch] = batches.asScala.toSeq.sortBy(_.id)

  /** Open loop: offer `rowsPerSec` for `seconds`, rows stamped with their
    * due time (`t0 + i / rate`); `make(i, dueMs)` builds row i. Returns
    * the number of rows offered. */
  def openLoop(rowsPerSec: Double, seconds: Double, firstIndex: Long)(
      make: (Long, Long) => T): Long = {
    val total = math.round(rowsPerSec * seconds)
    val t0 = System.currentTimeMillis()
    var i = 0L
    while (i < total) {
      val now = System.currentTimeMillis()
      val due = math.min(total, ((now - t0) * rowsPerSec / 1000.0).toLong + 1)
      if (due > i) {
        val rows = (i until due).map(j => make(firstIndex + j, t0 + (j * 1000.0 / rowsPerSec).toLong))
        add(rows)
        lagMs += (System.currentTimeMillis() - (t0 + (i * 1000.0 / rowsPerSec).toLong)).toDouble
        i = due
      }
      Thread.sleep(5)
    }
    total
  }

  /** Closed loop: add each chunk only after the previous one has been
    * fully processed. Returns the drain time of the whole volume as the
    * chunk count times the median chunk time, which the first chunk's
    * query warm-up and an occasional stall do not move. */
  def closedLoop(q: StreamingQuery, chunks: Int)(chunk: Int => Seq[T]): Double = {
    val data = (0 until chunks).map(chunk) // generated before the clock starts
    val times = data.map { rows =>
      val t0 = System.nanoTime()
      add(rows)
      q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    chunks * Stats.median(times)
  }

  /** The phase sequence of a stream run: the closed-loop drain
    * (`chunk(k)` builds chunk k), then open loop with `make(row, dueMs)`
    * at the reference rate for `seconds`, then everything offered is
    * processed. */
  def runPhases(q: StreamingQuery, seconds: Int, drainChunks: Int, referenceRate: Double)(
      chunk: Int => Seq[T])(make: (Long, Long) => T): Phases = {
    val drainS = tracer.span("phase.drain")(closedLoop(q, drainChunks)(chunk))
    val first = rowsAdded
    val n = tracer.span("phase.reference")(openLoop(referenceRate, seconds, first)(make))
    tracer.span("phase.catch_up")(q.processAllAvailable())
    Phases(drainS, first, first + n)
  }

  def close(): Unit = spark.streams.removeListener(listener)

  /** Time one foreachBatch call: in foreachBatch the sink's action is what
    * runs the batch's plan, so this is the sink's share of a trigger. */
  def timeSink[R](f: => R): R = {
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      sinkMs.synchronized(sinkMs += (t1 - t0) / 1e6)
      tracer.record("sink", t0, t1, streamSpan)
    }
  }

  /** Row latency at the reference rate (due time to the end of the batch
    * that processed the row): the workload's p50/p90, each the median of
    * that percentile over `LatencyParts` consecutive, equal parts of the
    * phase, so a host stall of a few seconds moves one part, not the
    * figure. */
  def reportReference(ph: Phases, dueMs: Long => Long, report: Report): Unit = {
    val rl = rowLatencies(batchSeq, rowsThroughBlock, dueMs, ph.firstRow, ph.endRow)
    report.endToEnd("p50_ms") = Stats.partsPercentile(rl, 50, LatencyParts)
    report.endToEnd("p90_ms") = Stats.partsPercentile(rl, 90, LatencyParts)
    report.details("row_latency_samples") = rl.size
    report.details("row_p50_ms") = Stats.percentile(rl, 50).value
    report.details("row_p90_ms") = Stats.percentile(rl, 90).value
    report.details("row_p99_ms") = Stats.percentile(rl, 99).value
  }

  /** Result latency at the reference rate: from when a result became due
    * to when the sink saw it. Results fall due in a few micro-batches per
    * run, so it is a per-layer figure, not the gated p50/p90. */
  def reportEmits(latMs: Seq[Double], report: Report): Unit = {
    report.layer("sink.emit_p50_ms", Stats.percentile(latMs, 50).value)
    report.layer("sink.emit_p99_ms", Stats.percentile(latMs, 99).value)
    report.details("emit_samples") = latMs.size
  }

  /** Per-layer stream metrics from the recorded micro-batches. */
  def reportBatches(report: Report): Unit = {
    val bs = batches.asScala.toSeq
    def med(f: Batch => Double) = if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
    def d(b: Batch, k: String) = b.durations.getOrElse(k, 0L).toDouble
    report.layer("mb.batches", bs.size.toDouble)
    report.layer("mb.rows_per_batch", med(_.numInputRows.toDouble))
    report.layer("mb.trigger_ms", med(d(_, "triggerExecution")))
    report.layer("mb.planning_ms", med(d(_, "queryPlanning")))
    report.layer("mb.add_batch_ms", med(d(_, "addBatch")))
    report.layer("mb.commit_ms", med(d(_, "commitOffsets")))
    report.layer("mb.offsets_ms", med(b => d(b, "latestOffset") + d(b, "getBatch") + d(b, "walCommit")))
    report.layer("state.rows", bs.map(_.stateRows).maxOption.getOrElse(0L).toDouble)
    report.layer("state.mem_bytes", bs.map(_.stateMemBytes).maxOption.getOrElse(0L).toDouble)
    report.layer("state.commit_ms", med(_.stateCommitMs.toDouble))
    report.layer("state.rows_updated", bs.map(_.stateRowsUpdated).sum.toDouble)
    report.layer("state.rows_dropped_late", bs.map(_.droppedLate).sum.toDouble)
    report.layer("sink.ms", if (sinkMs.isEmpty) 0.0 else Stats.median(sinkMs.synchronized(sinkMs.toSeq)))
    report.layer("gen.lag_ms", if (lagMs.isEmpty) 0.0 else Stats.percentile(lagMs.toSeq, 99).value)
  }
}

object StreamHarness {
  val LatencyParts = 5

  /** What [[StreamHarness.runPhases]] did: the drain seconds, and rows
    * [firstRow, endRow) offered open loop at the reference rate. */
  final case class Phases(drainS: Double, firstRow: Long, endRow: Long)

  /** One micro-batch as its progress event reported it. */
  final case class Batch(id: Long, endMs: Long, endBlock: Long, numInputRows: Long,
                         durations: Map[String, Long], stateRows: Long, stateMemBytes: Long,
                         stateCommitMs: Long, stateRowsUpdated: Long, droppedLate: Long)

  object Batch {
    def of(p: StreamingQueryProgress): Batch = {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val endBlock = p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
      val ops = p.stateOperators.toSeq
      Batch(p.batchId, start + durations.getOrElse("triggerExecution", 0L), endBlock,
        p.numInputRows, durations,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsUpdated).sum,
        ops.map(_.numRowsDroppedByWatermark).sum)
    }
  }

  /** Batch end time (ms) at which row `i` (creation order) had been
    * processed, from the recorded batches and block boundaries. */
  def rowLatencies(batches: Seq[Batch], blockEnds: Long => Long, dueMs: Long => Long,
                   fromRow: Long, toRow: Long): Seq[Double] = {
    val bs = batches.filter(_.endBlock >= 0).sortBy(_.id)
    val out = mutable.ArrayBuffer.empty[Double]
    var prevEnd = 0L
    bs.foreach { b =>
      val end = blockEnds(b.endBlock)
      var r = math.max(prevEnd, fromRow)
      while (r < math.min(end, toRow)) { out += (b.endMs - dueMs(r)).toDouble; r += 1 }
      prevEnd = math.max(prevEnd, end)
    }
    out.toSeq
  }
}
