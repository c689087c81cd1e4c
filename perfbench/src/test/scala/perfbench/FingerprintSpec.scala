package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private lazy val spark = graft.GraftSession.builder("local[2]", 2).getOrCreate()

  test("the fingerprint ignores row order and partitioning") {
    val s = spark
    import s.implicits._
    val rows = (1 to 200).map(i => (i, s"v${i % 7}", if (i % 5 == 0) None else Some(i * 0.5),
      Map("k" -> i)))
    val a = Fingerprint.of(rows.toDF("i", "s", "d", "m"))._1
    val b = Fingerprint.of(rows.reverse.toDF("i", "s", "d", "m").repartition(5))._1
    val c = Fingerprint.of(rows.toDF("i", "s", "d", "m").orderBy($"s", $"i".desc).coalesce(1))._1
    assert(a == b && b == c)
    assert(a.rows == 200)
  }

  test("the fingerprint changes when a value, a null or a row changes") {
    val s = spark
    import s.implicits._
    val base = Seq((1, Option("a")), (2, Option("b")), (3, None))
    val fp = (xs: Seq[(Int, Option[String])]) => Fingerprint.of(xs.toDF("i", "s"))._1
    val ref = fp(base)
    assert(fp(base.updated(1, (2, Some("c")))) != ref)
    assert(fp(base.updated(2, (3, Some("")))) != ref)
    assert(fp(base :+ ((4, None))) != ref)
    assert(fp(base :+ base.head) != ref) // a duplicated row is a different multiset
  }

  test("the returned QueryExecution is the one that ran: every Catalyst phase is recorded") {
    val s = spark
    import s.implicits._
    val df = (1 to 50).map(i => (i % 4, i.toLong)).toDF("k", "v").groupBy("k").sum("v")
    val (fp, qe) = Fingerprint.of(df)
    assert(fp.rows == 4)
    assert(Fingerprint.CatalystPhases.forall(qe.tracker.phases.contains),
      s"phases recorded: ${qe.tracker.phases.keySet}")
    assert(Fingerprint.catalystMs(qe) ==
      Fingerprint.CatalystPhases.map(qe.tracker.phases(_).durationMs).sum)
  }
}
