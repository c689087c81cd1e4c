package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded from the benchmark's own code around each call into a
  * layer of the engine, plus Spark job/stage/task counters gathered by a
  * public [[SparkListener]]. Everything stays in memory until [[write]].
  *
  * A disabled tracer records nothing and registers no listener, so the
  * timed runs pay only a branch per call site. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  // job group id (set by the benchmark) -> span that owns the job
  private val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val exec = new ExecCounters

  private def now(): Long = System.nanoTime()

  /** Record a span around `f`, parented to the innermost open span on
    * this thread. Spark jobs started inside are parented to it through
    * the job group the tracer sets. */
  def span[T](name: String, sc: SparkContext = null)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val group = s"perfbench-$id"
      if (sc != null) {
        groupSpan.put(group, id)
        sc.setJobGroup(group, name, interruptOnCancel = false)
      }
      val t0 = now()
      try f
      finally {
        val t1 = now()
        stack.set(stack.get().tail)
        if (sc != null) {
          val outer = stack.get().headOption
          outer match {
            case Some(o) => sc.setJobGroup(s"perfbench-$o", "", interruptOnCancel = false)
            case None => sc.clearJobGroup()
          }
        }
        add(Span(id, parent, name, t0, t1))
      }
    }

  /** A span whose interval was measured elsewhere (a micro-batch from its
    * progress event, a sink call timed inside foreachBatch). */
  def record(name: String, startNs: Long, endNs: Long, parent: Long = 0L): Unit =
    if (enabled) add(Span(nextId.getAndIncrement(), parent, name, startNs, endNs))

  def currentSpan: Long = stack.get().headOption.getOrElse(0L)

  /** Parent jobs of a job group the engine sets itself (a streaming
    * query's run id) to the innermost open span on this thread. */
  def adoptJobGroup(group: String): Unit =
    if (enabled) groupSpan.put(group, currentSpan)

  private def add(s: Span): Unit = spans.synchronized { spans += s }

  /** Register the job/stage/task listener (traced runs only). */
  def attach(sc: SparkContext): Unit =
    if (enabled) sc.addSparkListener(new Listener)

  private final class Listener extends SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      exec.jobs.incrementAndGet()
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val parent = Option(group).flatMap(g => Option(groupSpan.get(g))).map(_.longValue).getOrElse(0L)
      jobStart.put(e.jobId, (now(), parent))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
        record("spark.job", t0, now(), parent)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      exec.stages.incrementAndGet()
      stageSubmit.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      exec.tasks.incrementAndGet()
      val info = e.taskInfo
      if (info != null) {
        if (info.failed || info.killed) exec.failedTasks.incrementAndGet()
        val submitted = stageSubmit.getOrDefault(e.stageId, info.launchTime)
        exec.taskWaitMs.addAndGet(math.max(0L, info.launchTime - submitted))
      }
      val m = e.taskMetrics
      if (m != null) {
        exec.taskRunMs.addAndGet(m.executorRunTime)
        exec.gcMs.addAndGet(m.jvmGCTime)
        exec.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        exec.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        exec.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        exec.resultBytes.addAndGet(m.resultSize)
        exec.peakExecMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
      }
    }
  }

  /** Spans with their self time (duration minus the part of it that
    * child spans cover), as one JSON document. */
  def write(path: java.nio.file.Path): Unit = {
    val all = spans.synchronized(spans.toList)
    val self = selfTimes(all)
    val body = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, body)
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  final class ExecCounters {
    val jobs, stages, tasks, failedTasks = new AtomicLong
    val taskRunMs, taskWaitMs, gcMs = new AtomicLong
    val shuffleRead, shuffleWrite, spill, resultBytes, peakExecMem = new AtomicLong
  }

  /** Self time per span id: its duration minus the union of its
    * children's intervals clipped to it. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
