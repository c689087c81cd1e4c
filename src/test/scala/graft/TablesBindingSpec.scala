package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[Tables.read]] binds a lake table from its Parquet footer on the
  * driver instead of letting `spark.read.parquet` infer the schema with
  * a job. The bound schema must be exactly the one Spark infers, for
  * the one-file tables of every bundled scale factor and for a
  * Spark-written multi-file directory (with its `_SUCCESS` and `.crc`
  * side files), and neither binding nor [[Tables.countOf]] may submit
  * a job. */
class TablesBindingSpec extends SparkSpec {

  private lazy val multiFileDir: String = {
    val base = Files.createTempDirectory("tables-binding").toString
    Tables.read(spark, sf(), "orders").repartition(3)
      .write.parquet(s"$base/orders.parquet")
    base
  }

  private def lakes: Seq[(String, Seq[String])] =
    Seq("0.001", "0.01", "0.1").map(s => sf(s) -> Tables.names) :+
      (multiFileDir -> Seq("orders"))

  /** Jobs submitted while `body` runs. Listener delivery is
    * asynchronous, so a marked job is run afterwards and the count is
    * read once the listener has seen it: events reach one listener in
    * submission order. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new AtomicInteger(0)
    val marker = "tables-binding-marker"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen = true
        else if (!markerSeen) seen.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "the listener never saw the marker job")
      seen.get()
    } finally sc.removeSparkListener(listener)
  }

  test("the bound schema equals the one spark.read.parquet infers") {
    for ((dir, names) <- lakes; n <- names) {
      val inferred = spark.read.parquet(s"$dir/$n.parquet").schema
      assert(Tables.read(spark, dir, n).schema === inferred, s"$dir/$n")
    }
  }

  test("read and countOf submit no Spark job") {
    assert(new java.io.File(multiFileDir, "orders.parquet/_SUCCESS").exists())
    val jobs = jobsDuring {
      for ((dir, names) <- lakes; n <- names) {
        Tables.read(spark, dir, n)
        Tables.countOf(spark, dir, n)
      }
      Tables.events(spark, sf())
    }
    assert(jobs === 0)
  }

  test("countOf equals the row count of the bound table") {
    for ((dir, names) <- lakes; n <- names)
      assert(Tables.countOf(spark, dir, n) === Tables.read(spark, dir, n).count(), s"$dir/$n")
  }
}
