package graft

import java.nio.file.{Files, Path, Paths}

/** [[SparkEntry.layers]] must build every store entry the queries
  * probe: a query that needs a variant no layer builds pays that build
  * inside its own timing, and the per-layer numbers stop covering the
  * work they name.
  *
  * Every layer is built under a fresh sfDir — a private copy of the
  * sf0.001 lake, so entries other suites left in the shared session do
  * not count — and then every query frame is constructed, which probes
  * the store (no action needed). No store name the layer builds
  * populated may get a new build. */
class LayerCoverageSpec extends SparkSpec {

  /** (query, store name) builds the layers legitimately leave to the
    * query, each with its reason. Empty: today every probed variant of
    * a layer-built name is a layer's own. */
  private val allowed = Map.empty[(String, String), String]

  private lazy val lake: Path = {
    val dir = Files.createTempDirectory("layer-coverage-")
    Files.list(Paths.get(sf("0.001"))).forEach(f =>
      Files.copy(f, dir.resolve(f.getFileName)): Unit)
    dir
  }

  override def afterAll(): Unit = {
    if (Files.exists(lake)) {
      Files.list(lake).forEach(f => Files.delete(f))
      Files.delete(lake)
    }
    super.afterAll()
  }

  test("the layers build every store entry the queries probe") {
    val sfDir = lake.toString
    val before = SessionCache.builds(spark)
    SparkEntry.layers.toSeq.sortBy(_._1).foreach { case (_, build) => build(spark, sfDir) }
    val afterLayers = SessionCache.builds(spark)
    val layerBuilt = afterLayers.keySet.filter(n =>
      afterLayers(n) > before.getOrElse(n, 0L))
    assert(layerBuilt.nonEmpty, "the layer builds populated no store name")

    val rebuilt = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (q, construct) =>
      val pre = SessionCache.builds(spark)
      construct(spark, sfDir): Unit
      val post = SessionCache.builds(spark)
      layerBuilt.toSeq.filter(n => post(n) > pre.getOrElse(n, 0L)).map(q -> _)
    }.toSet
    val unexpected = rebuilt -- allowed.keySet
    assert(unexpected.isEmpty,
      s"queries build variants no layer builds: ${unexpected.toSeq.sorted.mkString(", ")}")
    val stale = allowed.keySet -- rebuilt
    assert(stale.isEmpty, s"allow-list entries no longer needed: ${stale.toSeq.sorted.mkString(", ")}")
    assert(allowed.values.forall(_.trim.nonEmpty), "every allowed build gives its reason")
  }
}
