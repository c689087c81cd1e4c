package graft

import org.apache.spark.sql.DataFrame

class SessionCacheSpec extends SparkSpec {
  import spark.implicits._

  /** RDD id behind a localCheckpointed frame (−1 if none). */
  private def ckptId(df: DataFrame): Int = {
    var id = -1
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => id = l.rdd.id
      case _ => ()
    }
    id
  }

  private def pinned(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  private def rows(i: Int): DataFrame = Seq((i.toLong, s"v$i")).toDF("k", "v")

  test("LRU bound: a second layer variant evicts the first and releases its checkpoint blocks") {
    val name = "spec_frame_variants"
    // frame() checkpoints the lazily planned frame itself
    val first = SessionCache.frame(spark, name, 0)(rows(0))
    val firstId = ckptId(first)
    assert(firstId >= 0 && pinned(firstId), "first layer not pinned after build")
    // one variant past the bound evicts the least-recently-used one AND
    // releases its executor blocks — more (sfDir, threshold) variants
    // must not grow pinned storage without limit
    val rest = (1 to SessionCache.MaxVariants).map(i =>
      SessionCache.frame(spark, name, i)(rows(i)))
    assert(!pinned(firstId), "evicted layer still pins its checkpoint blocks")
    assert(rest.forall(df => pinned(ckptId(df))), "a resident layer lost its blocks")
    // the resident entry is served from the store, not rebuilt
    val last = SessionCache.frame(spark, name, SessionCache.MaxVariants)(
      fail("the newest variant should be resident"))
    assert(last.as[(Long, String)].collect().toSeq ==
      Seq((SessionCache.MaxVariants.toLong, s"v${SessionCache.MaxVariants}")))
  }

  test("hits keep an entry resident and never rebuild it") {
    val name = "spec_value_variants"
    var builds = 0
    assert(SessionCache.value(spark, name, "a") { builds += 1; 10 } == 10)
    assert(SessionCache.value(spark, name, "a") { builds += 1; 99 } == 10)
    assert(builds == 1)
    // access order: touching "a" makes "b" the LRU victim
    SessionCache.value(spark, name, "b")(20): Unit
    SessionCache.value(spark, name, "a") { builds += 1; 99 }: Unit
    (1 until SessionCache.MaxVariants).foreach(i =>
      SessionCache.value(spark, name, s"c$i")(i): Unit) // evicts "b", not "a"
    assert(SessionCache.value(spark, name, "a") { builds += 1; 99 } == 10)
    assert(builds == 1, "LRU evicted the most-recently-used entry")
    assert(SessionCache.value(spark, name, "b")(21) == 21, "\"b\" was not the victim")
    assert(SessionCache.builds(spark)(name) == 1 + SessionCache.MaxVariants + 1)
  }

  test("evicting a value that holds two checkpointed frames releases both") {
    val name = "spec_model_variants"
    def model(i: Int) = SessionCacheSpec.TwoFrames(
      rows(i).localCheckpoint(), rows(-i).localCheckpoint(), i.toLong)
    val m0 = SessionCache.value(spark, name, 0)(model(0))
    val ids = Seq(ckptId(m0.seen), ckptId(m0.back))
    assert(ids.forall(id => id >= 0 && pinned(id)), "model frames not pinned after build")
    (1 to SessionCache.MaxVariants).foreach(i =>
      SessionCache.value(spark, name, i)(model(i)): Unit)
    assert(!ids.exists(pinned), "evicted model still pins a frame's checkpoint blocks")
  }
}

object SessionCacheSpec {
  /** The `TextOps.LmModel` shape: a driver value with two frame fields. */
  final case class TwoFrames(seen: DataFrame, back: DataFrame, n: Long)
}
