package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, HostMeter, SparkEntry, Tables}
import graft.ml.LinUCB

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --cores <nproc> --out <dir>`. Prints the result as the last
  * line of standard output and writes the same data, with provenance and
  * details, to an artifact under `--out`. Run through `perfbench/run.py`,
  * which builds the program and supplies the classpath. */
object Main {
  val Workloads = Seq("battery", "stream-feedback")
  val SetupRepeats = 3
  val Lake = "perfbench/lake"
  val GoldenFile = "perfbench/golden/battery.tsv"

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, out: Path)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    val nproc = kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    // a stream run also needs a CPU for the generator thread and one for
    // the driver-side micro-batch, listener and state-store threads
    val cores = if (w.startsWith("stream-")) math.max(1, nproc - 2) else nproc
    val o = Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", cores,
      Paths.get(kv.getOrElse("out", "perfbench/target/results")))
    require(o.seconds >= 1 && o.cores >= 1, s"bad --seconds/--cores in ${args.mkString(" ")}")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val meterStart = HostMeter.mark()
    val tracer = new Tracer(o.trace)
    val report = new Report
    val work = Paths.get("perfbench/target/work").toAbsolutePath
    Files.createDirectories(work)
    var spark: SparkSession = null
    val wallT0 = System.nanoTime()
    try {
      spark = setup(o, tracer, report, work)
      tracer.attach(spark.sparkContext)
      val runT0 = System.nanoTime()
      tracer.span(s"workload.${o.workload}", spark.sparkContext) {
        o.workload match {
          case "battery" => Battery.run(spark, Lake, o.seed, tracer, report, readGolden())
          case "stream-feedback" => FeedbackWorkload.run(spark, o.seed, o.seconds, tracer, report, work)
        }
      }
      execMetrics(tracer, report, (System.nanoTime() - runT0) / 1e9, o.cores)
    } catch {
      case e: Throwable =>
        report.fail(s"run aborted: $e")
        e.printStackTrace()
    } finally {
      if (spark != null) spark.stop()
    }
    report.details("peak_rss_mb") = peakRssMb()
    val provenance = HostMeter.provenanceJson(meterStart, HostMeter.mark())
    val expected = if (o.trace) Metrics.perLayer(SparkEntry.layers.keys.toSeq) else Metrics.endToEnd
    val measured = if (o.trace) report.perLayer else report.endToEnd
    val missing = expected.map(_._1).filterNot(k => measured.get(k).exists(v => !v.isNaN))
    if (o.trace) missing.foreach(k => report.perLayer(k) = 0.0) // layer not exercised
    else missing.foreach(k => report.fail(s"metric $k was not measured"))
    val metrics = expected.map { case (k, unit) =>
      Json.str(k) + s""":{"value":${Json.num(measured.getOrElse(k, 0.0))},"unit":${Json.str(unit)}}"""
    }.mkString("{", ",", "}")
    val correct = report.failed == 0 && report.attempted > 0
    val line = s"""{"correct":$correct,"attempted":${math.max(1L, report.attempted)},""" +
      s""""failed":${report.failed},"metrics":$metrics}"""
    val stem = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    Files.createDirectories(o.out)
    if (o.trace) tracer.write(o.out.resolve(s"$stem-spans.json"))
    val artifact = s"""{"result":$line,"workload":${Json.str(o.workload)},"seed":${o.seed},""" +
      s""""seconds":${o.seconds},"trace":${o.trace},"cores":${o.cores},""" +
      s""""wall_s":${(System.nanoTime() - wallT0) / 1e9},"provenance":{$provenance},""" +
      s""""end_to_end":${Json.value(report.endToEnd)},"per_layer":${Json.value(report.perLayer)},""" +
      s""""failures":${Json.value(report.failures.take(50))},"details":${Json.value(report.details)}}"""
    Files.writeString(o.out.resolve(s"$stem.json"), artifact + "\n")
    report.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAIL $f"))
    System.out.println(line)
    System.out.flush()
    // the JVM must not linger on non-daemon threads a library left behind
    sys.exit(0)
  }

  /** Build the session `SetupRepeats` times and keep the last; setup_s is
    * the median of (session creation + warm-up), so a change that moves
    * work into set-up shows there rather than vanishing. */
  def setup(o: Opts, tracer: Tracer, report: Report, work: Path): SparkSession = {
    val sessionS, warmS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupRepeats).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = tracer.span("setup.session") {
        GraftSession.builder(s"local[${o.cores}]", o.cores)
          .config("spark.local.dir", work.resolve("spark-local").toString)
          .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
          .getOrCreate()
      }
      spark.sparkContext.setLogLevel("WARN")
      val t1 = System.nanoTime()
      tracer.span("setup.warm_scan", spark.sparkContext)(warm(o.workload, spark))
      val t2 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9
      warmS += (t2 - t1) / 1e9
    }
    val total = sessionS.zip(warmS).map { case (a, b) => a + b }
    report.endToEnd("setup_s") = Stats.median(total.toSeq)
    report.layer("setup.session_s", Stats.median(sessionS.toSeq))
    report.layer("setup.warm_scan_s", Stats.median(warmS.toSeq))
    report.details("setup_runs_s") = total.toSeq
    spark
  }

  /** The workload's warm-up: scan every input table (battery), or run the
    * stream's transform once as a batch over one row. */
  private def warm(workload: String, spark: SparkSession): Unit = {
    import spark.implicits._
    workload match {
      case "battery" =>
        Tables.names.foreach(n => Tables.read(spark, Lake, n).foreach(_ => ()))
      case "stream-feedback" =>
        val d = FeedbackWorkload.Dim
        LinUCB.seed(Seq(LinUCB.Feedback("w", Array.fill(d)(0.5), 1.0)).toDS(), d).collect()
    }
  }

  private def readGolden(): Map[String, String] = {
    val p = Paths.get(GoldenFile)
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(q, fp) => q -> fp }.toMap
  }

  private def execMetrics(tracer: Tracer, report: Report, wallS: Double, cores: Int): Unit = {
    val e = tracer.exec
    report.layer("spark.jobs", e.jobs.get.toDouble)
    report.layer("spark.stages", e.stages.get.toDouble)
    report.layer("spark.tasks", e.tasks.get.toDouble)
    report.layer("spark.task_run_s", e.taskRunMs.get / 1e3)
    report.layer("spark.task_wait_s", e.taskWaitMs.get / 1e3)
    report.layer("spark.busy_ratio", if (wallS > 0) e.taskRunMs.get / 1e3 / (wallS * cores) else 0.0)
    report.layer("spark.gc_s", e.gcMs.get / 1e3)
    report.layer("spark.shuffle_read_bytes", e.shuffleRead.get.toDouble)
    report.layer("spark.shuffle_write_bytes", e.shuffleWrite.get.toDouble)
    report.layer("spark.spill_bytes", e.spill.get.toDouble)
    report.layer("spark.peak_exec_mem_bytes", e.peakExecMem.get.toDouble)
    report.layer("spark.result_bytes", e.resultBytes.get.toDouble)
    report.layer("spark.failed_tasks", e.failedTasks.get.toDouble)
  }

  /** Peak resident set of this process (Linux `VmHWM`), in MB. */
  private def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Double.NaN }
}
