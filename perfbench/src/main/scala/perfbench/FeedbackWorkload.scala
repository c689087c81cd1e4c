package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ml.LinUCB
import graft.ml.LinUCB.{Feedback, Model}
import graft.streaming.LinUCBStream
import graft.streaming.LinUCBStream.TimedFeedback

/** `stream-feedback`: `TimedFeedback` into `LinUCBStream.trainEventTime`
  * on the RocksDB state store. Few keys with large `Array[Double]` state
  * rewritten every batch, O(d²) work per row and one d×d inversion per
  * emission.
  *
  * Phases as in [[StreamHarness.runPhases]]. An arm's result is due when the
  * watermark passes its deadline (first pending event time + 5 s), i.e.
  * at the creation of the first event with time > deadline + 5 s. Output
  * check: each arm's final model equals `LinUCB.seed` over the generated
  * rows within 1e-9. */
object FeedbackWorkload {
  val Arms = 2000
  val Dim = 16
  val DelayMs = 5000L
  val ReferenceRate = 1000.0          // rows/s
  val DrainChunks = 12
  val ChunkRows = 4000
  val OutOfOrderShare = 0.10          // 0.5-3 s behind, inside the watermark
  val Tolerance = 1e-9
  private val FlushArm = "~flush"

  final class Gen(seed: Long) {
    private val rng = new java.util.Random(seed)
    private val armNames = Array.tabulate(Arms)(k => f"P$k%04d")
    // creation log, creation order
    val dueMs = mutable.ArrayBuffer.empty[Long]
    val tsMs = mutable.ArrayBuffer.empty[Long]
    val rows = mutable.ArrayBuffer.empty[TimedFeedback]

    def row(due: Long): TimedFeedback = {
      val ts = if (rng.nextDouble() < OutOfOrderShare) due - 500 - rng.nextInt(2500) else due
      val a = rng.nextInt(Arms)
      val x = Array.tabulate(Dim)(j => if (j == 0) 1.0 else rng.nextDouble())
      val reward = if (rng.nextDouble() < 0.2 + 0.6 * x(1)) 1.0 else 0.0
      val f = TimedFeedback(armNames(a), x, reward, new java.sql.Timestamp(ts))
      dueMs += due; tsMs += ts; rows += f
      f
    }

    def flush(ts: Long): TimedFeedback =
      TimedFeedback(FlushArm, Array.tabulate(Dim)(j => if (j == 0) 1.0 else 0.0), 0.0,
        new java.sql.Timestamp(ts))
  }

  /** For each emission (arm, n, seen ms) the threshold event time whose
    * arrival made it due. The arm's first pending event is its
    * (nPrev+1)-th; the engine arms the deadline at the minimum event time
    * among that arm's events in the batch that carried it. */
  def dueThresholds(emissions: Seq[(String, Long, Long)], gen: Gen,
                    batchRowEnds: Array[Long]): Seq[(Long, Long)] = {
    val byArm = gen.rows.indices.groupBy(i => gen.rows(i).productId)
    val batchOf = (row: Long) => {
      val i = java.util.Arrays.binarySearch(batchRowEnds, row + 1)
      if (i >= 0) i else -i - 1
    }
    emissions.groupBy(_._1).toSeq.flatMap { case (arm, es) =>
      val rowsOfArm = byArm.getOrElse(arm, IndexedSeq.empty)
      var nPrev = 0L
      es.sortBy(_._2).flatMap { case (_, n, seen) =>
        val out =
          if (n <= nPrev || nPrev >= rowsOfArm.size) None
          else {
            val first = rowsOfArm(nPrev.toInt)
            val b = batchOf(first.toLong)
            val deadline = rowsOfArm.drop(nPrev.toInt).takeWhile(r => batchOf(r.toLong) == b)
              .map(r => gen.tsMs(r)).min + DelayMs
            Some((deadline + DelayMs + 1, seen))
          }
        nPrev = math.max(nPrev, n)
        out
      }
    }
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, tracer: Tracer, report: Report,
          workDir: java.nio.file.Path): Unit = {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val cores = spark.sparkContext.defaultParallelism
    val mem = MemoryStream[TimedFeedback](spark, cores)
    val h = new StreamHarness[TimedFeedback](spark, mem, tracer)
    val gen = new Gen(seed)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Model, Long)]()
    val ckpt = workDir.resolve(s"ckpt-feedback-${java.util.UUID.randomUUID()}")
    val query = LinUCBStream.trainEventTime(mem.toDS(), Dim, DelayMs)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (ds: Dataset[Model], _: Long) =>
        h.timeSink {
          val models = ds.collect()
          val at = System.currentTimeMillis()
          models.foreach(m => seen.add(m -> at))
        }
      }
      .start()
    h.attachSpan(tracer.currentSpan)
    tracer.adoptJobGroup(query.runId.toString)
    try {
      val ph = h.runPhases(query, seconds, DrainChunks, ReferenceRate) { _ =>
        val now = System.currentTimeMillis()
        (0 until ChunkRows).map(_ => gen.row(now))
      } { (_, due) => gen.row(due) }
      report.endToEnd("closed_loop_s") = ph.drainS
      report.details("drain_rows_per_s") = DrainChunks * ChunkRows / ph.drainS
      // flush: far-future events fire every pending arm deadline
      tracer.span("phase.flush") {
        val far = System.currentTimeMillis() + 3600000L
        Seq(far, far + 3600000L).foreach { ts =>
          h.add(Seq(gen.flush(ts)))
          query.processAllAvailable()
        }
      }
      query.stop()

      val models = seen.toArray(Array.empty[(Model, Long)]).toSeq.filter(_._1.productId != FlushArm)
      report.layer("ml.models_emitted", seen.size.toDouble)
      val thresholds = dueThresholds(models.map { case (m, at) => (m.productId, m.n, at) },
        gen, h.batchRowEnds)
      val due = Stats.dueTimes(gen.dueMs.iterator.zip(gen.tsMs.iterator), thresholds.map(_._1))
      val (refStart, refEnd) = (gen.dueMs(ph.firstRow.toInt), gen.dueMs((ph.endRow - 1).toInt))
      val inRef = thresholds.filter { case (t, _) =>
        due.get(t).exists(d => d >= refStart && d <= refEnd)
      }
      h.reportEmits(Stats.emitLatencies(inRef, due), report)
      h.reportReference(ph, r => gen.dueMs(r.toInt), report)

      // output check: final model per arm against the batch seed
      val expected = tracer.span("check") {
        LinUCB.seed(gen.rows.toSeq.map(f => Feedback(f.productId, f.x, f.reward)).toDS(), Dim)
          .collect().map(m => m.productId -> m).toMap
      }
      val finals = models.map(_._1).groupBy(_.productId).map { case (p, ms) => p -> ms.maxBy(_.n) }
      report.attempted = expected.size.toLong
      def close(x: Array[Double], y: Array[Double]) = x.length == y.length &&
        x.indices.forall(i => math.abs(x(i) - y(i)) <= Tolerance * math.max(1.0, math.abs(y(i))))
      expected.toSeq.sortBy(_._1).foreach { case (p, want) =>
        finals.get(p) match {
          case None => report.fail(s"arm $p: no model emitted")
          case Some(got) if got.n != want.n => report.fail(s"arm $p: n=${got.n}, seed has ${want.n}")
          case Some(got) if !close(got.aInv, want.aInv) || !close(got.b, want.b) =>
            report.fail(s"arm $p: model differs from the batch seed by more than $Tolerance")
          case _ => ()
        }
      }
      finals.keySet.diff(expected.keySet).foreach(p => report.fail(s"arm $p: emitted but never fed"))
      h.reportBatches(report)
      report.details("rows_offered") = h.rowsAdded
    } finally {
      if (query.isActive) query.stop()
      h.close()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }
  }
}
