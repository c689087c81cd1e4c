package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CDC envelope semantics beyond the oracle round-trips (q16/q46):
  * wire-level robustness and delete-rewrite invariants. */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  test("malformed envelope bytes surface as null payloads, never crash the unwrap") {
    val wire = Seq(
      """{"order_id":1,"order_status":"O","total_price":10.5,"order_date":"1995-01-01 00:00:00","op":"c","db":"demo","table":"orders","lsn":1}""",
      """not json at all""",
      """{"order_id":"wrong-type"}""",
      """{"order_id":2,"op":"u","lsn":2}""").toDF("value")
    val out = wire
      .select(from_json($"value", Cdc.ordersEnvelopeSchema).as("payload"))
      .select($"payload.order_id", $"payload.op")
      .collect()
    assert(out.length == 4, "row count preserved")
    assert(out.count(_.isNullAt(0)) == 2, "two undecodable order_ids")
    // partial envelopes keep the fields they carry
    assert(out.exists(r => !r.isNullAt(0) && r.getLong(0) == 2L && r.getString(1) == "u"))
  }

  test("delete rewrite nulls the payload but keeps key and lsn") {
    val env = Cdc.lineitemEnvelope(spark, sf())
      .select(from_json($"value", Cdc.lineitemEnvelopeSchema).as("p"))
      .select($"p.*").cache()
    val deletes = env.filter($"op" === "d")
    assert(deletes.count() > 0)
    assert(deletes.filter($"part_id".isNotNull || $"quantity".isNotNull ||
      $"price".isNotNull).count() == 0, "delete payload must be nulled")
    assert(deletes.filter($"order_id".isNull || $"lsn".isNull ||
      $"__deleted" =!= "true").count() == 0, "delete keeps key, lsn, marker")
    // non-deletes carry full payload
    assert(env.filter($"op" =!= "d" && $"part_id".isNull).count() == 0)
  }

  test("snapshot diff over a planted changelog: added, removed, changed, filtered") {
    // (order_id, line_no, part_id, quantity, price, op, lsn)
    val log = Seq[(Long, Int, Option[Long], Option[Double], Option[Double], String, Long)](
      (1, 1, Some(7), Some(5.0), Some(9.0), "c", 10),  // untouched: unchanged
      (1, 2, Some(7), Some(5.0), Some(9.0), "c", 20),  // quantity updated: changed
      (1, 2, Some(7), Some(6.0), Some(9.0), "u", 21),
      (1, 3, Some(7), Some(5.0), Some(9.0), "c", 30),  // inserted, updated, deleted: removed
      (1, 3, Some(7), Some(7.0), Some(9.0), "u", 31),
      (1, 3, None, None, None, "d", 32),
      (1, 4, Some(7), Some(5.0), Some(9.0), "c", 40),  // rewritten to equal values: unchanged
      (1, 4, Some(7), Some(5.0), Some(9.0), "u", 41),
      (2, 1, Some(8), Some(3.0), Some(4.0), "u", 51),  // no insert, survives: added
      (2, 2, Some(8), Some(3.0), Some(4.0), "u", 60),  // created by upsert, then deleted: filtered
      (2, 2, None, None, None, "d", 61),
      (3, 1, Some(9), Some(2.0), Some(1.0), "c", 74),  // base is the EARLIEST insert: changed
      (3, 1, Some(9), Some(1.0), Some(1.0), "c", 70),
      (3, 2, Some(9), Some(4.0), Some(1.0), "c", 80),  // only part_id moves: changed
      (3, 2, Some(6), Some(4.0), Some(1.0), "u", 81))
      .toDF("order_id", "line_no", "part_id", "quantity", "price", "op", "lsn")
    val got = Cdc.snapshotDiffOf(log).collect().map(r => (
      r.getLong(0), r.getInt(1), r.getString(2),
      Option(r.get(3)).map(_.asInstanceOf[Double]),
      Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
    assert(got === Set(
      (1L, 2, "changed", Some(5.0), Some(6.0)),
      (1L, 3, "removed", Some(5.0), None),
      (2L, 1, "added", None, Some(3.0)),
      (3L, 1, "changed", Some(1.0), Some(2.0)),
      (3L, 2, "changed", Some(4.0), Some(4.0))))
  }
}
