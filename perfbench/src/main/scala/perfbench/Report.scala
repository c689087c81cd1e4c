package perfbench

import scala.collection.mutable

/** Minimal JSON writing for the result line and the artifact (the
  * values are numbers, strings, booleans and nested maps only). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/** What one run measured: end-to-end metrics (reported with tracing off),
  * per-layer metrics (reported with tracing on), the correctness tally,
  * and free-form details for the artifact. Metric names and units are
  * declared once in [[Metrics]] so every workload reports the same set. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val details = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(what: String): Unit = { failed += 1; failures += what }

  def layer(name: String, v: Double): Unit = perLayer(name) = v
  def addLayer(name: String, v: Double): Unit =
    perLayer(name) = perLayer.getOrElse(name, 0.0) + v
}

/** The metric catalogue. End-to-end metrics are common to every workload
  * (the run prints all of them); per-layer metrics that a workload does
  * not exercise read 0, which is what the layer did on that workload. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "p50_ms" -> "ms",
    "p90_ms" -> "ms",
    "closed_loop_s" -> "s")

  val families: Seq[String] =
    Seq("ann", "dedup", "text", "relational", "curation", "ml", "cdc", "window")

  def perLayer(layerNames: Seq[String]): Seq[(String, String)] =
    Seq("setup.session_s" -> "s", "setup.warm_scan_s" -> "s") ++
      layerNames.sorted.map(n => s"layer.$n.s" -> "s") ++
      Seq("cache.rdds" -> "count", "cache.mem_bytes" -> "bytes", "cache.disk_bytes" -> "bytes",
        "entry.s" -> "s", "catalyst.s" -> "s", "exec.s" -> "s") ++
      families.flatMap(f => Seq(s"family.$f.s" -> "s", s"family.$f.n" -> "count")) ++
      Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_run_s" -> "s", "spark.task_wait_s" -> "s", "spark.busy_ratio" -> "ratio",
        "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
        "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
        "spark.peak_exec_mem_bytes" -> "bytes", "spark.result_bytes" -> "bytes",
        "spark.failed_tasks" -> "count",
        "mb.batches" -> "count", "mb.rows_per_batch" -> "count", "mb.trigger_ms" -> "ms",
        "mb.planning_ms" -> "ms", "mb.add_batch_ms" -> "ms", "mb.commit_ms" -> "ms",
        "mb.offsets_ms" -> "ms", "sink.ms" -> "ms", "sink.emit_p50_ms" -> "ms",
        "sink.emit_p99_ms" -> "ms",
        "state.rows" -> "count", "state.mem_bytes" -> "bytes", "state.commit_ms" -> "ms",
        "state.rows_updated" -> "count", "state.rows_dropped_late" -> "count",
        "ml.models_emitted" -> "count",
        "gen.lag_ms" -> "ms")
}
