package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions.{col, to_json, xxhash64}
import org.apache.spark.sql.types.MapType

/** An order-independent fingerprint of a query's output: the row count
  * and two wrapping sums of a per-row hash over every column (plus each
  * column's null flag, which the hash alone would skip). Computing it is
  * the query's action: every output column is evaluated, partition-local
  * sums travel back through accumulators, and no shuffle stage is added
  * to the query's own plan. */
final case class Fingerprint(rows: Long, sum: Long, mix: Long) {
  def render: String = s"$rows:${java.lang.Long.toHexString(sum)}:${java.lang.Long.toHexString(mix)}"
}

object Fingerprint {
  /** The QueryPlanningTracker phases that make up Catalyst's share of an
    * action. */
  val CatalystPhases: Seq[String] = Seq("analysis", "optimization", "planning")

  def catalystMs(qe: QueryExecution): Long =
    CatalystPhases.flatMap(qe.tracker.phases.get).map(_.durationMs).sum

  /** Fingerprint `df` and return the QueryExecution that ran (its tracker
    * holds the Catalyst phase timings). The action runs that
    * QueryExecution's own RDD as one SQL execution: a Dataset action such
    * as `foreachPartition` would plan a second, deserializing
    * QueryExecution and leave this one unoptimized. */
  def of(df: DataFrame): (Fingerprint, QueryExecution) = {
    val sc = df.sparkSession.sparkContext
    val cols: Seq[Column] = df.schema.fields.toSeq.flatMap { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      // map keys have no order Spark can hash; their JSON form is stable
      val v = f.dataType match { case _: MapType => to_json(c); case _ => c }
      Seq(v, c.isNull)
    }
    val hashed = df.select(xxhash64(cols: _*).as("h"))
    val n = sc.longAccumulator("fingerprint.rows")
    val s = sc.longAccumulator("fingerprint.sum")
    val m = sc.longAccumulator("fingerprint.mix")
    val qe = hashed.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("fingerprint"))(qe.toRdd.foreachPartition { it =>
      var rows, sum, mix = 0L
      it.foreach { (r: InternalRow) =>
        val h = r.getLong(0)
        rows += 1
        sum += h
        mix += mixOf(h)
      }
      n.add(rows); s.add(sum); m.add(mix)
    })
    (Fingerprint(n.value, s.value, m.value), qe)
  }

  private def mixOf(h: Long): Long = java.lang.Long.rotateLeft(h * 0x9E3779B97F4A7C15L, 31)
}
