package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The session layer store — the one build-once memo behind every
  * materialized layer (dedup labels, LinUCB models, IVF centroids,
  * quality-model weights, checkpointed postings) and every plan-keyed
  * memo (SRP band index, AUC projection, bloom bitmap).
  *
  * An entry is addressed by (session, name, key). `name` is the entry's
  * role — for an entry that backs a layer, its [[SparkEntry.layers]]
  * key — and `key` the variant (sfDir plus parameters, or a
  * canonicalized plan). [[frame]] checkpoints the built frame exactly
  * once and memoizes it, so builders return a lazy plan; [[value]]
  * memoizes driver-side values (centroids, codebooks, counts, weights,
  * bloom bytes, arm models) and frames whose builder manages its own
  * checkpoints.
  *
  * BOUNDED: each name keeps at most [[MaxVariants]] keys per session in
  * least-recently-used order, so a long-lived context touching many
  * (sfDir, param) variants (test suites, notebook drivers, multi-lake
  * jobs) evicts cold variants instead of pinning all of them. Eviction
  * follows from the value: a DataFrame, and every DataFrame field of a
  * case-class value such as `TextOps.LmModel`, releases its checkpoint
  * blocks at once ([[unpersistCheckpoint]]); any other value is just
  * dropped. One listener per session drops all its entries when the
  * SparkContext stops.
  *
  * CONTRACT: an entry is valid while RESIDENT. Consumers re-enter
  * through the layer getter (e.g. `Dedup.materializedClusters`) — an
  * evicted entry rebuilds transparently on next GETTER access. A
  * DataFrame held privately across [[MaxVariants]] later builds of the
  * same name may lose its blocks to eviction, and a checkpoint-backed
  * frame FAILS if acted on after that (truncated lineage cannot
  * recompute) — hold the getter, not the frame. Keys assume the data
  * under a given key (sfDir, plan) is immutable for the session — an
  * in-place lake refresh mid-session invalidates every memoized layer,
  * the standard warehouse snapshot assumption.
  *
  * Concurrency: hits never block on an in-flight build; builds for the
  * SAME entry are serialized on a per-entry latch (a displaced-latch
  * race can rarely build twice — the loser's value is released, the
  * winner's is what every caller sees); builds for different entries
  * run concurrently. */
object SessionCache {

  /** LRU variants kept per name per session. */
  val MaxVariants = 16

  /** One session's entries: per name an access-ordered (LRU) key map,
    * and how many times the name was built. */
  private final class Store {
    val entries = new ConcurrentHashMap[String, java.util.LinkedHashMap[Any, Any]]()
    val builds = new ConcurrentHashMap[String, AtomicLong]()
    def lru(name: String): java.util.LinkedHashMap[Any, Any] =
      entries.computeIfAbsent(name, _ => new java.util.LinkedHashMap[Any, Any](8, 0.75f, true))
  }

  private val sessions = new ConcurrentHashMap[SparkSession, Store]()
  private val building = new ConcurrentHashMap[(SparkSession, String, Any), Object]()

  private def storeFor(spark: SparkSession): Store =
    sessions.computeIfAbsent(spark, s => {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          sessions.remove(s): Unit // context gone — blocks already freed
        }
      })
      new Store
    })

  /** The frame `build` plans, checkpointed once and memoized under
    * (session, name, key). */
  def frame(spark: SparkSession, name: String, key: Any)(build: => DataFrame): DataFrame =
    value(spark, name, key)(build.localCheckpoint())

  /** `build`'s value, memoized under (session, name, key). */
  def value[V](spark: SparkSession, name: String, key: Any)(build: => V): V = {
    val store = storeFor(spark)
    val m = store.lru(name)
    // get refreshes LRU order, so even hits take the map lock (briefly)
    val hit = m.synchronized(m.get(key))
    val v =
      if (hit != null) hit
      else {
        // build OUTSIDE the map lock so hits and other-entry builds
        // never wait; same-entry racers serialize on the latch and the
        // loser reuses the winner's value
        val latch = building.computeIfAbsent((spark, name, key), _ => new Object)
        try latch.synchronized {
          val again = m.synchronized(m.get(key))
          if (again != null) again
          else {
            store.builds.computeIfAbsent(name, _ => new AtomicLong).incrementAndGet()
            val computed: Any = build
            m.synchronized {
              // displaced-latch race (the builder finished and removed
              // the latch while we were acquiring it, then a newcomer
              // re-created it): keep the resident value and RELEASE
              // ours — a silent put would displace it unreleased
              val existing = m.get(key)
              if (existing != null) {
                releaseQuietly(spark, computed)
                existing
              } else {
                m.put(key, computed)
                while (m.size > MaxVariants) {
                  val it = m.entrySet().iterator()
                  val eldest = it.next()
                  it.remove()
                  releaseQuietly(spark, eldest.getValue)
                }
                computed
              }
            }
          }
        } finally building.remove((spark, name, key)): Unit
      }
    // if the session stopped while building (or before, so the listener
    // will never fire), the entry just inserted would be pinned forever —
    // drop the whole session; the caller still gets its value
    if (spark.sparkContext.isStopped) sessions.remove(spark)
    v.asInstanceOf[V]
  }

  /** Builds per name in this session so far — how a spec tells a
    * memo hit from a rebuild. */
  def builds(spark: SparkSession): Map[String, Long] =
    Option(sessions.get(spark)).fold(Map.empty[String, Long])(
      _.builds.asScala.map { case (n, c) => n -> c.get }.toMap)

  /** Release what an evicted value pins: its checkpoint blocks if it is
    * a frame, those of each frame field if it is a case class. */
  private def release(v: Any): Unit = v match {
    case df: Dataset[_] => unpersistCheckpoint(df)
    case p: Product => p.productIterator.foreach {
      case df: Dataset[_] => unpersistCheckpoint(df)
      case _ => ()
    }
    case _ => ()
  }

  private def releaseQuietly(spark: SparkSession, v: Any): Unit =
    try if (!spark.sparkContext.isStopped) release(v)
    catch {
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        System.err.println(s"[SessionCache] release interrupted: $e")
      case NonFatal(e) =>
        System.err.println(s"[SessionCache] release failed (blocks may stay pinned): $e")
    }

  /** Eagerly release the executor blocks behind a `localCheckpoint`ed
    * frame. A checkpointed Dataset's plan is a
    * [[org.apache.spark.sql.execution.LogicalRDD]] leaf over the
    * persisted RDD; unpersisting it frees the blocks now rather than at
    * context end (dropping the reference alone leaves them pinned until
    * the ContextCleaner notices, which for a long-lived session is
    * never). Non-blocking; a no-op on plans with no checkpoint. */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }
}
