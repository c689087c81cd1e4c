package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `battery`: cold session on the bundled lake; build every
  * `SparkEntry.layers` entry in sorted order, then run a fixed
  * per-family sample of `SparkEntry.queries` in a seed-permuted order.
  * Each query's action is its [[Fingerprint]], which forces every output
  * column, and is checked against the golden file. */
object Battery {
  /** Queries per operator family in the sample: evenly spaced in sorted
    * name order, so every family is measured and one run fits the time
    * budget (the full 175-query battery does not). */
  val PerFamily = 2

  def sample: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.groupBy(family).toSeq.sortBy(_._1).flatMap { case (_, qs) =>
      (0 until PerFamily).map(i => qs(i * (qs.size - 1) / (PerFamily - 1))).distinct
    }

  // first matching keyword wins; anything unmatched is relational
  private val familyKeywords: Seq[(String, Seq[String])] = Seq(
    "cdc" -> Seq("cdc", "scd2", "snapshot_diff", "hybrid_latest", "reconciliation"),
    "window" -> Seq("supplier_stats", "late_tag", "branch_counts", "sliding", "session",
      "gap_fill", "moving", "event_sequence", "recent_events", "ingest_monitor", "hourly"),
    "curation" -> Seq("curat", "decontam", "contamination", "datasheet", "dataset_card", "gopher",
      "mixture", "quality_ensemble", "pii", "dsir", "ppl_buckets", "token_budget", "split_",
      "sequence_packing", "chunked", "dup_flow"),
    "dedup" -> Seq("dedup", "jaccard", "minhash", "simhash", "embedding_pairs", "fingerprint",
      "dup_span", "containment", "cluster_keep", "corpus_filter", "key_overlap"),
    "ann" -> Seq("ann", "knn", "ivf", "pq", "sq8", "hamming", "recall", "mmr", "cluster_profile",
      "semantic_keep", "cell_", "hard_negatives", "int8", "embedding"),
    "ml" -> Seq("linucb", "policy", "quality_model", "quality_score", "feature", "time_context",
      "context_vectors", "synthetic", "label_stats"),
    "text" -> Seq("token", "text", "lang_id", "tfidf", "bigram", "trigram", "bpe", "bm25", "lm_score",
      "surprisal", "entropy", "phrase", "more_like_this", "rrf", "repetition", "fuzzy",
      "top_terms", "media", "frame", "resize"))

  def family(query: String): String =
    familyKeywords.collectFirst { case (f, ks) if ks.exists(query.contains) => f }
      .getOrElse("relational")

  def run(spark: SparkSession, lake: String, seed: Long, tracer: Tracer, report: Report,
          golden: Map[String, String]): Unit = {
    val sc = spark.sparkContext
    val layersT0 = System.nanoTime()
    SparkEntry.layers.toSeq.sortBy(_._1).foreach { case (name, build) =>
      val t0 = System.nanoTime()
      report.attempted += 1
      try tracer.span(s"layer.$name", sc)(build(spark, lake))
      catch { case NonFatal(e) => report.fail(s"layer $name: ${e.getMessage}") }
      report.layer(s"layer.$name.s", (System.nanoTime() - t0) / 1e9)
    }
    val layersS = (System.nanoTime() - layersT0) / 1e9
    val storage = sc.getRDDStorageInfo
    report.layer("cache.rdds", sc.getPersistentRDDs.size.toDouble)
    report.layer("cache.mem_bytes", storage.map(_.memSize).sum.toDouble)
    report.layer("cache.disk_bytes", storage.map(_.diskSize).sum.toDouble)

    val order = new scala.util.Random(seed).shuffle(sample)
    val latMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val prints = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val queriesT0 = System.nanoTime()
    order.foreach { q =>
      report.attempted += 1
      val fam = family(q)
      val t0 = System.nanoTime()
      try {
        val df = tracer.span(s"query.$q.entry", sc)(SparkEntry.queries(q)(spark, lake))
        val t1 = System.nanoTime()
        val (fp, qe) = tracer.span(s"query.$q.action", sc)(Fingerprint.of(df))
        val t2 = System.nanoTime()
        val catalystMs = Fingerprint.catalystMs(qe)
        latMs += (t2 - t0) / 1e6
        report.addLayer("entry.s", (t1 - t0) / 1e9)
        report.addLayer("catalyst.s", catalystMs / 1e3)
        report.addLayer("exec.s", math.max(0.0, (t2 - t1) / 1e9 - catalystMs / 1e3))
        report.addLayer(s"family.$fam.s", (t2 - t0) / 1e9)
        report.addLayer(s"family.$fam.n", 1)
        prints(q) = fp.render
        golden.get(q) match {
          case Some(want) if want == fp.render => ()
          case Some(want) => report.fail(s"$q fingerprint ${fp.render}, golden $want")
          case None => report.fail(s"$q has no golden fingerprint (got ${fp.render})")
        }
      } catch { case NonFatal(e) => report.fail(s"$q: ${e.getMessage}") }
    }
    val queriesS = (System.nanoTime() - queriesT0) / 1e9
    report.endToEnd("closed_loop_s") = layersS + queriesS
    val p90 = Stats.percentile(latMs.toSeq, 90)
    report.endToEnd("p50_ms") = Stats.percentile(latMs.toSeq, 50).value
    report.endToEnd("p90_ms") = p90.value
    report.details("p90_supported") = p90.supported
    report.details("layers_s") = layersS
    report.details("queries_s") = queriesS
    report.details("query_samples") = latMs.size
    report.details("query_order") = order
    report.details("fingerprints") = prints
  }
}
