package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** SQ8 scalar quantization — the third published vector-compression
  * family next to PQ (q135-q137/q141) and binary sign codes (q159):
  * each dimension quantizes independently to an 8-bit level between
  * the corpus-wide per-dimension min and max (the FAISS
  * `ScalarQuantizer QT_8bit` shape). 4 bytes/dim becomes 1 byte/dim
  * with far better fidelity than 1-bit signs; search is asymmetric
  * (exact query against reconstructed corpus values), the same ADC
  * idea as PQ but with a trivial per-dimension codebook.
  *
  * Scale shape: the fit is ONE aggregation producing d (min, max)
  * pairs — a d-bounded collect (64 doubles here, config-bounded at
  * any corpus size) broadcast back as literals; encode and
  * reconstruct are map-side `transform` expressions; the scan is the
  * q24 brute shape (bounded query side broadcast, corpus side
  * streaming) over 1-byte codes instead of floats. Everything
  * hash-checks: quantization is round-half-up integer arithmetic and
  * the score folds in index order, so DuckDB replays it exactly.
  *
  * The quantization arithmetic exists ONCE: [[encodeCodes]] (fit →
  * codes) and [[scoreReconstructedDot]] (codes → reconstructed dot)
  * are the only definitions, shared by the flat scan (q169), the
  * IVF-pruned scan (q173), and the encoded layer — the
  * "pruned ≡ flat arithmetic" invariant the spec pins holds by
  * construction, not by keeping two SQL strings in sync.
  */
object Sq {

  val Levels = 255

  /** Per-dimension (min, max) over the corpus — the whole SQ8 "model".
    * One shuffle of d-keyed partials, a d-row collect, cached per
    * (session, sfDir). */
  def fittedBounds(spark: SparkSession,
                   sfDir: String): (Seq[Double], Seq[Double]) =
    graft.SessionCache.value(spark, "sq8_bounds", sfDir) {
      val dims = Tables.embeddings(spark, sfDir)
        .select(posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy(col("i"))
        .agg(min(col("v").cast("double")).as("mn"),
          max(col("v").cast("double")).as("mx"))
        .orderBy(col("i")).collect()
      (dims.map(_.getDouble(1)).toSeq, dims.map(_.getDouble(2)).toSeq)
    }

  /** THE encode definition:
    * `round((v - min_j) / (max_j - min_j) * 255)` (half-up on
    * non-negative values: engine-portable) per dimension of `vecCol`;
    * constant dimensions encode as 0. Expects `mns`/`mxs` bounds
    * array columns in scope. */
  private def encodeCodes(vecCol: String): Column = expr(
    s"transform($vecCol, (v, j) -> CASE " +
      "WHEN element_at(mxs, j + 1) > element_at(mns, j + 1) " +
      "THEN CAST(round((CAST(v AS DOUBLE) - element_at(mns, j + 1)) " +
      "/ (element_at(mxs, j + 1) - element_at(mns, j + 1)) * 255, 0) AS INT) " +
      "ELSE 0 END)")

  /** THE asymmetric-distance definition: reconstruct each candidate's
    * codes map-side (`mn_j + c * (mx_j - mn_j) / 255`; constant
    * dimensions reconstruct to their min), then fold the inner product
    * against the exact query IN INDEX ORDER (the oracle's list_sum
    * over an i-ordered list is the same fold), 4dp-rounded into
    * `sq_ip`. Candidates need (vec_id, qid, qemb, codes); bounds
    * splice in as literals here so callers never carry them. */
  private def scoreReconstructedDot(cand: DataFrame, mn: Seq[Double],
                                    mx: Seq[Double]): DataFrame =
    cand.select(col("vec_id"), col("qid"), col("qemb"), col("codes"),
        typedLit(mn).as("mns"), typedLit(mx).as("mxs"))
      .withColumn("rv", expr(
        "transform(codes, (c, j) -> CASE " +
          "WHEN element_at(mxs, j + 1) > element_at(mns, j + 1) " +
          "THEN element_at(mns, j + 1) + CAST(c AS DOUBLE) " +
          "* (element_at(mxs, j + 1) - element_at(mns, j + 1)) / 255 " +
          "ELSE element_at(mns, j + 1) END)"))
      .withColumn("sq_ip", round(expr(
        "aggregate(zip_with(rv, qemb, (r, qv) -> r * CAST(qv AS DOUBLE)), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"), 4))

  /** Shared serving tail: per-query dense rank on (score desc, vec_id
    * asc), top k, the (qid, nbr_id, rank, sq_ip) surface. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("sq_ip"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("nbr_id"), col("rank"),
        col("sq_ip"))
  }

  /** (vec_id, codes) — the encoded corpus, via [[encodeCodes]].
    *
    * Materialized once per (session, sfDir) — a localCheckpoint in the
    * LRU-bounded layer cache, evicted eagerly like the other
    * DataFrame-valued layers. This is what makes the online serving
    * stream ([[graft.streaming.AnnServeStream]]) pay only the scan per
    * micro-batch: without it every batch re-ran the encode projection
    * over a full corpus pass (that index-build-vs-serve split is the
    * whole point of an encoded index — FAISS builds QT_8bit codes once
    * too). The checkpoint holds 1 int/dim/row — the compressed
    * footprint the format exists to have. */
  def encoded(spark: SparkSession, sfDir: String): DataFrame =
    graft.SessionCache.frame(spark, "sq8_encoded", sfDir) {
      val (mn, mx) = fittedBounds(spark, sfDir)
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"),
          typedLit(mn).as("mns"), typedLit(mx).as("mxs"))
        .withColumn("codes", encodeCodes("embedding"))
        .select(col("vec_id"), col("codes"))
    }

  /** (vec_id, cluster, codes) — the IVF-SQ8 index: the encoded corpus
    * plus its coarse-quantizer cell, the FAISS `IVF…,SQ8` on-disk
    * shape. One corpus pass assigns cell and codes together (cheaper
    * at build than joining [[encoded]] to an assignment frame — that
    * join would shuffle the corpus where this is one map-side
    * projection), checkpointed per (session, sfDir, kClusters) so the
    * warm serving path (q173, repeated probes) pays ONLY the probed
    * cells' scan — the index-build/serve split the flat scan lacks. */
  def ivfEncoded(spark: SparkSession, sfDir: String,
                 kClusters: Int = 16): DataFrame =
    graft.SessionCache.frame(spark, "sq8_ivf_encoded", (sfDir, kClusters)) {
      val centroids = Ivf.fittedCentroids(spark, sfDir, kClusters, 2)
      val (mn, mx) = fittedBounds(spark, sfDir)
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"),
          typedLit(mn).as("mns"), typedLit(mx).as("mxs"))
        .withColumn("cluster", Ivf.assignExpr(centroids)(col("embedding")))
        .withColumn("codes", encodeCodes("embedding"))
        .select(col("vec_id"), col("cluster"), col("codes"))
    }

  /** q169: asymmetric SQ8 top-k — exact query vectors against the
    * reconstructed corpus, ranked by the 4dp-rounded inner product
    * with a vec_id tie-break (the q24/q135 serving shape). */
  def sqTopK(spark: SparkSession, sfDir: String, nQueries: Int = 10,
             k: Int = 5): DataFrame =
    sqTopKFor(spark, sfDir,
      Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb")),
      k)

  /** [[sqTopK]] over an ARBITRARY `(qid, qemb)` query frame — the one
    * scoring definition both the q169 batch surface and the online
    * serving stream ([[graft.streaming.AnnServeStream]]) execute, so
    * the two cannot drift. The query side must stay bounded (it
    * broadcasts); the corpus side streams through once per call. */
  def sqTopKFor(spark: SparkSession, sfDir: String, q: DataFrame,
                k: Int = 5): DataFrame = {
    val (mn, mx) = fittedBounds(spark, sfDir)
    val cand = encoded(spark, sfDir)
      .join(broadcast(q), col("vec_id") =!= col("qid"))
    rankTopK(scoreReconstructedDot(cand, mn, mx), k)
  }

  /** q170: recall\@k of the SQ8 scan against exact brute force — the
    * measured-not-assumed gate every quantization family in the engine
    * carries (q136/q143/q144/q159's discipline). */
  def sqRecallVsBrute(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                      topk: Int = 5): DataFrame =
    Pq.recallAgainst(sqTopK(spark, sfDir, nQueries, topk),
      Similarity.materializedBruteTopK(spark, sfDir, nQueries, topk))

  /** q173: IVF-SQ8 — the FAISS `IVF…,SQ8` index shape: the coarse IVF
    * quantizer prunes candidates to the query's `nProbe` cells while
    * SQ8 codes compress what those candidates cost to hold and read.
    * This is the MEASURED scale path for the SQ8 family: the flat q169
    * scan is linear per corpus row by design and read 56.8× wall at
    * 100× data (BENCH_sf10, r15) — exactly the curve the IVF
    * deployment shape exists to cut to |corpus|·nProbe/k. The corpus
    * side is the [[ivfEncoded]] layer (cell + codes assigned in one
    * pass, checkpointed — repeated serving pays probes only); the
    * probe side stays a bounded broadcast (nQueries × nProbe rows)
    * with NO driver collect — probes explode distributively since SQ8
    * needs no per-query LUT. Scoring is [[scoreReconstructedDot]] —
    * the same definition the flat scan executes — so the pruned scan
    * hash-agrees with the flat scan wherever their candidate sets
    * overlap. `nProbe` defaults to the grid-measured
    * [[Pq.DeployedNProbe]]. */
  def ivfSqTopK(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                k: Int = 5, kClusters: Int = 16,
                nProbe: Int = Pq.DeployedNProbe): DataFrame = {
    val centroids = Ivf.fittedCentroids(spark, sfDir, kClusters, 2)
    val (mn, mx) = fittedBounds(spark, sfDir)
    // bounded probe frame: nQueries × nProbe rows, broadcast — a corpus
    // row lives in exactly one cell, so it matches ≤ 1 probe row per
    // query and no (qid, vec_id) dedup is needed
    val q = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < nQueries)
      .withColumn("probes",
        Ivf.nearestClusters(centroids, nProbe)(col("embedding")))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        explode(col("probes")).as("probe"))
    val cand = ivfEncoded(spark, sfDir, kClusters)
      .join(broadcast(q), col("cluster") === col("probe") &&
        col("vec_id") =!= col("qid"))
    rankTopK(scoreReconstructedDot(cand, mn, mx), k)
  }

  /** q174: recall\@k of the IVF-SQ8 scan against exact brute force —
    * the gate that prices what the cell pruning costs in recall, the
    * same discipline as q143/q144 price IVF-PQ's. */
  def ivfSqRecallVsBrute(spark: SparkSession, sfDir: String,
                         nQueries: Int = 10, topk: Int = 5,
                         kClusters: Int = 16,
                         nProbe: Int = Pq.DeployedNProbe): DataFrame =
    Pq.recallAgainst(
      ivfSqTopK(spark, sfDir, nQueries, topk, kClusters, nProbe),
      Similarity.materializedBruteTopK(spark, sfDir, nQueries, topk))
}
