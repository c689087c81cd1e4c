package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Product quantization (Jégou, Douze, Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search") — the third scale path in
  * the similarity family next to [[Similarity.lshTopK]] (recall via
  * hashing) and [[Ivf.topK]] (recall via coarse partitioning). PQ
  * attacks MEMORY: the d-dim float corpus compresses to m code bytes
  * per vector (here 64 floats = 256 B → 8 codes), so a 100 TB embedding
  * store scores from a ~3 TB code table that fits cluster RAM, and the
  * scan reads ONLY the code column (column pruning does the rest).
  *
  * Fit discipline mirrors [[Ivf.fitCentroids]]: per-subspace Lloyd
  * iterations whose (code, dim) means aggregate as DECIMAL(28,12) sums
  * over the float values (lossless for ≤9-significant-digit floats) —
  * the fitted codebooks are IDENTICAL under any partitioning, which is
  * what lets the q135 oracle replay the whole fit in SQL (the q44
  * unroll, applied per subspace) and lets every refit reproduce
  * bit-for-bit across cluster sizes. All m subspaces fit in ONE
  * distributed pass per iteration: assignment is m codegen'd
  * [[graft.functions.NearestCentroids]] calls over sliced subvectors
  * (no UDF, no shuffle), and the update is a single
  * (subspace, code, dim)-keyed aggregation — m·k·(d/m) = k·d cells,
  * catalog-bounded, exactly the IVF update's shuffle shape.
  *
  * Query side is asymmetric distance computation (ADC): the query stays
  * EXACT (never quantized); its inner product against any corpus vector
  * approximates as Σₛ ⟨q_s, codebook_s[code_s]⟩ — m lookups into a
  * per-query m·k table built once from the (config-bounded, nQueries)
  * query batch and broadcast as a literal column. Per corpus row the
  * work is m array lookups + an ascending-s fold; no join fan-out, no
  * extra shuffle, one pass over the code table.
  */
object Pq {

  /** 64-dim fixture → 8 subvectors of 8 dims: each code table is
    * k·(d/m) = 128 doubles, and the corpus row cost (m lookups) stays
    * byte-sized. At other d, pick m | d with d/m in the 4–16 range per
    * the paper's §5 ablation. */
  val DefaultSubspaces = 8

  /** 16 codes/subspace (4-bit codes; the paper runs 256): small enough
    * that the q135 oracle's per-subspace Lloyd unroll stays tractable,
    * large enough that planted-dup corpora quantize exactly. Effective
    * codebook size is kᵐ = 16⁸ ≈ 4.3e9 distinct representable vectors. */
  val DefaultCodes = 16

  /** Same 2-iteration budget as the IVF layer: TF-IDF-ish fixture
    * spectra converge fast, and every added iteration doubles the
    * oracle's unrolled CTE chain. */
  val DefaultIters = 2

  /** The deployment-facing probe budget, set by MEASUREMENT — the q167
    * recall grid ([[recallGrid]], PLANS.md r14) swept both variants over
    * nProbe ∈ {1,2,4,8} at sf0.1 and the 10× lake: recall is
    * nProbe-FLAT across 1–4 at this geometry (the nearest cell already
    * holds every reachable true neighbor) and RAW even dips at 8 (extra
    * cells admit quantization-noise rivals that displace true
    * neighbors). 4 is the top of the measured-safe range — headroom for
    * corpora whose cells are less separated than this one's, while
    * staying off the measured regression at 8. Re-run the grid before
    * changing this on a new corpus; it is one hash-checked query. */
  val DeployedNProbe = 4

  /** The deployed codes variant, set by the same grid: RAW-vector
    * codebooks ([[ivfAdcTopK]]), NOT the paper's residual coding
    * ([[ivfAdcResidualTopK]]). Residual wins on the 500-vector fixture
    * (0.34 vs 0.28) but LOSES at every probe budget beyond it (sf0.1:
    * 0.18 vs 0.30; 10× lake: 0.94 vs 1.00 — the float-cast residual
    * round-trip costs neighbors once cells are truly populated). The
    * residual family stays implemented as the published form with its
    * own recall gates (q141/q144); [[deployedAnnTopK]] is what a
    * serving tier should bind to. */
  def deployedAnnTopK(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                      topk: Int = 5, kClusters: Int = 16): DataFrame =
    ivfAdcTopK(spark, sfDir, nQueries, topk, kClusters, DeployedNProbe)

  /** Lloyd fit over an arbitrary `(vec_id, embedding)` frame —
    * spec-visible so determinism and planted-corpus convergence are
    * testable off the fixture lake. Returns `books(s)(code)(dim)` with
    * `books.length == m`; a corpus smaller than k yields one code per
    * vector (callers size off the FITTED length, the [[Ivf]] rule). */
  private[graft] def fitCodebooksFrom(vecs: DataFrame, m: Int, k: Int,
                                      iters: Int): Array[Array[Array[Double]]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val e = vecs.select(col("vec_id"), col("embedding")).cache()
    // deterministic init: the k lowest vec_ids donate their subvectors
    // to every subspace (the IVF init rule applied per block)
    val init = e.orderBy("vec_id").limit(k)
      .select("embedding").as[Array[Float]].collect()
    require(init.nonEmpty,
      "cannot fit PQ codebooks on an empty embeddings frame")
    val d = init.head.length
    require(d % m == 0, s"subspace count $m must divide dimension $d")
    val sub = d / m
    var books: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      init.map(v => v.slice(s * sub, (s + 1) * sub).map(_.toDouble))
    }
    var it = 0
    while (it < iters) {
      // one distributed update for ALL subspaces: global dim → (s, code)
      // via the assignment array, decimal-exact per-cell means
      val cells = withCodes(e, books, sub)
        .select(col("codes"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("s", (col("dim") / sub).cast("int"))
        .withColumn("code", element_at(col("codes"), col("s") + 1))
        .groupBy("s", "code", "dim")
        .agg((sum(col("v").cast(DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("m"))
        .as[(Int, Int, Int, Double)].collect()
      val next = books.map(_.map(_.clone()))
      // a code no vector chose keeps its previous centroid (clone above)
      cells.foreach { case (s, code, dim, mean) =>
        next(s)(code)(dim - s * sub) = mean
      }
      books = next
      it += 1
    }
    e.unpersist()
    books
  }

  /** Per-row code assignment: m sliced argmin expressions (squared-L2,
    * ties → lowest code — NearestCentroids semantics, identical to the
    * oracle's `min(struct_pack(d, cl))`) collected into one
    * `array<int>` column `codes`. Codegen'd end to end; the scan stays
    * a single pass. */
  private[graft] def withCodes(df: DataFrame, books: Array[Array[Array[Double]]],
                               sub: Int): DataFrame = {
    val codeCols = books.zipWithIndex.map { case (cb, s) =>
      graft.functions.nearestCentroids(
        slice(col("embedding"), s * sub + 1, sub), cb.flatten, cb.length, 1)
        .getItem(0)
    }
    df.withColumn("codes", array(codeCols.toIndexedSeq: _*))
  }

  /** The materialized codebook layer — fitted once per
    * (session, sfDir, m, k, iters), the [[Ivf.fittedCentroids]]
    * discipline; every ADC consumer probes the same m·k·(d/m) matrix. */
  def fittedCodebooks(spark: SparkSession, sfDir: String,
                      m: Int = DefaultSubspaces, k: Int = DefaultCodes,
                      iters: Int = DefaultIters): Array[Array[Array[Double]]] =
    graft.SessionCache.value(spark, "pq_codebooks", (sfDir, m, k, iters)) {
      fitCodebooksFrom(
        Similarity.spread(Tables.embeddings(spark, sfDir))
          .select(col("vec_id"), col("embedding")), m, k, iters)
    }

  /** (vec_id, codes) — the PQ-ENCODED corpus at the session codebook
    * geometry, materialized once per (session, sfDir, m, k, iters) and
    * re-entered as a checkpointed frame (the [[graft.operators.Sq.encoded]]
    * discipline applied to PQ): FAISS builds its code table once too —
    * before this layer every ADC consumer (q135, q136's ANN side)
    * re-ran the m-argmin encode projection over a full corpus pass in
    * the same session. The checkpoint holds m ints/row — the
    * compressed footprint the format exists to have. */
  def encodedCodes(spark: SparkSession, sfDir: String,
                   m: Int = DefaultSubspaces, k: Int = DefaultCodes,
                   iters: Int = DefaultIters): DataFrame =
    graft.SessionCache.frame(spark, "pq_encoded", (sfDir, m, k, iters)) {
      val books = fittedCodebooks(spark, sfDir, m, k, iters)
      withCodes(Similarity.spread(Tables.embeddings(spark, sfDir))
          .select(col("vec_id"), col("embedding")), books,
          books.head.head.length)
        .select(col("vec_id"), col("codes"))
    }

  /** (vec_id, cluster, codes) — the IVF-PQ index over RAW-vector codes
    * (the q137/q143 deployment shape and the q167 grid's `raw`
    * variant): coarse cell + fine codes assigned in ONE corpus pass,
    * checkpointed per (session, sfDir, kClusters, m, k, iters) so the
    * warm serving path pays probes only. Before this layer the encode
    * pass re-ran per consumer — q167 alone re-encoded the corpus once
    * per grid point (4 probe budgets × the recall gates' own passes). */
  def ivfEncodedRaw(spark: SparkSession, sfDir: String, kClusters: Int = 16,
                    m: Int = DefaultSubspaces, k: Int = DefaultCodes,
                    iters: Int = DefaultIters): DataFrame =
    graft.SessionCache.frame(spark, "pq_ivf_encoded", (sfDir, kClusters, m, k, iters)) {
      val centroids = Ivf.fittedCentroids(spark, sfDir, kClusters, iters)
      val books = fittedCodebooks(spark, sfDir, m, k, iters)
      withCodes(Similarity.spread(Tables.embeddings(spark, sfDir))
          .select(col("vec_id"), col("embedding"))
          .withColumn("cluster", Ivf.assignExpr(centroids)(col("embedding"))),
          books, books.head.head.length)
        .select(col("vec_id"), col("cluster"), col("codes"))
    }

  /** (vec_id, cluster, codes) — the FULL-IVFADC index over CELL-RESIDUAL
    * codes (q141/q144 and the grid's `residual` variant), same
    * build-once discipline as [[ivfEncodedRaw]]. */
  def ivfEncodedResidual(spark: SparkSession, sfDir: String,
                         kClusters: Int = 16, m: Int = DefaultSubspaces,
                         k: Int = DefaultCodes,
                         iters: Int = DefaultIters): DataFrame =
    graft.SessionCache.frame(spark, "pq_ivf_encoded_residual", (sfDir, kClusters, m, k, iters)) {
      val centroids = Ivf.fittedCentroids(spark, sfDir, kClusters, iters)
      val books = fittedResidualCodebooks(spark, sfDir, kClusters, m, k, iters)
      withCodes(
          residualFrame(Similarity.spread(Tables.embeddings(spark, sfDir))
            .select(col("vec_id"), col("embedding")), centroids),
          books, books.head.head.length)
        .select(col("vec_id"), col("cluster"), col("codes"))
    }

  /** One query's ADC lookup table — flat m·k doubles, s-major, each
    * entry the subvector/centroid inner product in ascending-dim
    * double accumulation (the dot_f32 order, so the oracle's list_sum
    * replay is bit-equal). */
  private def lutFor(qv: Array[Float],
                     books: Array[Array[Array[Double]]]): Array[Double] = {
    val m = books.length
    val k = books.head.length
    val sub = books.head.head.length
    val lut = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        var acc = 0.0
        var i = 0
        while (i < sub) { acc += qv(s * sub + i).toDouble * books(s)(c)(i); i += 1 }
        lut(s * k + c) = acc
        c += 1
      }
      s += 1
    }
    lut
  }

  /** The shared ADC score column: m `element_at` lookups into the
    * broadcast `lut` by this row's codes, folded in ascending-s order,
    * rounded to 4dp (the family's ranking discipline). */
  private def adcScore(k: Int) = round(
    aggregate(
      transform(col("codes"), (c, s) => element_at(col("lut"), s * k + c + 1)),
      lit(0.0), (acc, x) => acc + x), 4)

  /** ADC top-k over an encoded frame with a caller-supplied query batch
    * — the spec entry point. `queries` are (qid, exact float vector);
    * the per-query lookup table is built driver-side in ascending-dim
    * double accumulation (the dot_f32 order, so the oracle's list_sum
    * replay is bit-equal) and ships as one broadcast m·k-double column. */
  private[graft] def adcTopKFrom(encoded: DataFrame,
                                 queries: Seq[(Long, Array[Float])],
                                 books: Array[Array[Array[Double]]],
                                 topk: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val k = books.head.length
    val qdf = queries.map { case (qid, qv) => (qid, lutFor(qv, books)) }
      .toDF("qid", "lut")
    // score = ascending-s fold of the m table lookups; 4dp rounding +
    // vec_id tie-break make the selected row set unique (the q24/q44
    // ranking discipline)
    val scored = encoded.join(broadcast(qdf), col("vec_id") =!= col("qid"))
      .withColumn("adc_ip", adcScore(k))
    val w = Window.partitionBy(col("qid")).orderBy(desc("adc_ip"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topk)
      .select(col("qid"), col("vec_id").as("nbr_id"), col("rank"), col("adc_ip"))
  }

  /** q135: PQ-compressed ANN top-k on the embeddings lake. The corpus
    * is scanned once, encoded to m codes/row on the fly (a persisted
    * code table would replace the scan at real scale — the layer holds
    * the CODEBOOKS, which every writer and reader shares), and ranked
    * by ADC inner product against the `nQueries` lowest vec_ids. The
    * query batch is the small side by construction (ANN serving), so
    * collecting it to build lookup tables is config-bounded — the MMR
    * pool / IVF centroid discipline, documented at the collect site. */
  def adcTopK(spark: SparkSession, sfDir: String, nQueries: Int = 10,
              topk: Int = 5, m: Int = DefaultSubspaces, k: Int = DefaultCodes,
              iters: Int = DefaultIters): DataFrame = {
    import spark.implicits._
    val books = fittedCodebooks(spark, sfDir, m, k, iters)
    val enc = encodedCodes(spark, sfDir, m, k, iters)
    // nQueries rows, config-bounded (default 10): the serving batch
    // (collected from the raw table — values are partitioning-free, so
    // the spread shuffle would buy nothing on a bounded filter)
    val queries = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    adcTopKFrom(enc, queries, books, topk)
  }

  /** q137: IVF-ADC — the paper's §IV deployment shape and the one a
    * 100 TB serving tier actually runs: the coarse IVF quantizer
    * prunes candidates to the query's `nProbe` cells (compute:
    * |corpus|·nProbe/k rows scored instead of |corpus|) while PQ codes
    * compress what those candidates cost to hold and read (memory:
    * 8 B/row instead of 256 B).
    *
    * Variant note: codes quantize the RAW vectors (the paper's "IVFADC
    * without residual" / IVF-flat-PQ configuration), not the
    * cell-residuals of §IV-A's full IVFADC — deliberately, so the cell
    * layer and the codebook layer stay independent (one `pq_codebooks`
    * fit serves q135/q136/q137 and survives a re-clustered cell layer
    * unchanged). Residual encoding buys recall at the cost of coupling
    * the codebooks to the coarse quantizer; q136 measures the recall
    * this configuration actually delivers, which is the honest gate
    * either way. Both index layers are the session
    * caches the standalone operators already share
    * ([[Ivf.fittedCentroids]], [[fittedCodebooks]]); the corpus scan
    * assigns cell + codes in the same pass, and the probe filter is
    * the broadcast equi-condition `cluster === probe` — no shuffle, no
    * join fan-out beyond the pruned candidates. */
  def ivfAdcTopK(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                 topk: Int = 5, kClusters: Int = 16, nProbe: Int = DeployedNProbe,
                 m: Int = DefaultSubspaces, k: Int = DefaultCodes,
                 iters: Int = DefaultIters): DataFrame = {
    val centroids = Ivf.fittedCentroids(spark, sfDir, kClusters, iters)
    val books = fittedCodebooks(spark, sfDir, m, k, iters)
    // corpus side: the build-once (vec_id, cluster, codes) index layer
    val enc = ivfEncodedRaw(spark, sfDir, kClusters, m, k, iters)
    // query batch (config-bounded): probes via the same NearestCentroids
    // partial-selection arithmetic the corpus assignment uses, LUT from
    // the exact (unquantized) query vector
    val queries = probedQueries(spark, sfDir, centroids, nQueries, nProbe)
    ivfAdcTail(enc, rawQdf(spark, queries, books, nProbe), k, topk)
  }

  /** The collected `(qid, qvec, probes)` query batch at `nProbe` —
    * nQueries rows, config-bounded (the serving-batch collect every
    * ADC operator shares). Probe lists have the PREFIX property:
    * [[graft.functions.NearestCentroids]] selects greedily with a
    * deterministic tie-break, so the nProbe = p list is the first p
    * entries of any nProbe ≥ p list — which is what lets the q167 grid
    * collect ONCE at its largest probe budget and slice per grid point
    * instead of re-running the collect per point. */
  private def probedQueries(spark: SparkSession, sfDir: String,
                            centroids: Array[Array[Double]], nQueries: Int,
                            nProbe: Int): Array[(Long, Array[Float], Array[Int])] = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < nQueries)
      .withColumn("probes", Ivf.nearestClusters(centroids, nProbe)(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("probes"))
      .as[(Long, Array[Float], Array[Int])].collect().sortBy(_._1)
  }

  /** Per-probe rows for RAW-codes scoring — `(n_probe, qid, probe,
    * lut)` for every budget in `budgets`, each query's probe list
    * sliced to the budget (prefix property above). Each query's LUT is
    * computed once and shared by every budget. ONE builder shared by
    * the single-point frame ([[rawQdf]]) and the q167 grid, so the
    * grid's rows are the single-point operator's rows by construction,
    * not by copy. */
  private def rawQRows(queries: Array[(Long, Array[Float], Array[Int])],
                       books: Array[Array[Array[Double]]],
                       budgets: Seq[Int]): Seq[(Int, Long, Int, Array[Double])] = {
    val luts = queries.toSeq.map { case (_, qv, _) => lutFor(qv, books) }
    for (np <- budgets; ((qid, _, probes), lut) <- queries.toSeq.zip(luts);
         p <- probes.take(np).toSeq)
      yield (np, qid, p, lut)
  }

  /** The broadcast (qid, probe, lut) frame for RAW-codes scoring. */
  private def rawQdf(spark: SparkSession,
                     queries: Array[(Long, Array[Float], Array[Int])],
                     books: Array[Array[Array[Double]]],
                     nProbe: Int): DataFrame = {
    import spark.implicits._
    rawQRows(queries, books, Seq(nProbe)).map { case (_, qid, p, lut) => (qid, p, lut) }
      .toDF("qid", "probe", "lut")
  }

  /** Per-probe rows for RESIDUAL scoring, per budget as in
    * [[rawQRows]]: per (query, probe) the exact ⟨q, c_probe⟩ term
    * (ascending-dim double fold, the ivfDot order) + the query's
    * residual LUT, computed once per query — the one definition of the
    * celldot arithmetic, shared by [[resQdf]] and the q167 grid. */
  private def resQRows(queries: Array[(Long, Array[Float], Array[Int])],
                       books: Array[Array[Array[Double]]],
                       centroids: Array[Array[Double]],
                       budgets: Seq[Int]): Seq[(Int, Long, Int, Double, Array[Double])] = {
    val luts = queries.toSeq.map { case (_, qv, _) => lutFor(qv, books) }
    for (np <- budgets; ((qid, qv, probes), lut) <- queries.toSeq.zip(luts);
         p <- probes.take(np).toSeq) yield {
      var cd = 0.0
      var i = 0
      while (i < qv.length) { cd += qv(i).toDouble * centroids(p)(i); i += 1 }
      (np, qid, p, cd, lut)
    }
  }

  /** The broadcast (qid, probe, celldot, lut) frame for RESIDUAL
    * scoring. */
  private def resQdf(spark: SparkSession,
                     queries: Array[(Long, Array[Float], Array[Int])],
                     books: Array[Array[Array[Double]]],
                     centroids: Array[Array[Double]],
                     nProbe: Int): DataFrame = {
    import spark.implicits._
    resQRows(queries, books, centroids, Seq(nProbe))
      .map { case (_, qid, p, cd, lut) => (qid, p, cd, lut) }
      .toDF("qid", "probe", "celldot", "lut")
  }

  /** The residual ADC score `⟨q,x⟩ ≈ celldot + Σ lut[code]` — ONE
    * column definition consumed by [[ivfAdcResidualTail]] and the q167
    * grid's residual variant (formerly duplicated in both; a drift
    * would have silently broken the grid's "arithmetically the
    * single-point operator's output" claim). */
  private def residualAdcScore(k: Int): Column =
    round(col("celldot") +
      aggregate(
        transform(col("codes"), (c, s) => element_at(col("lut"), s * k + c + 1)),
        lit(0.0), (acc, x) => acc + x), 4)

  /** RAW-codes scoring tail: cell-pruned broadcast join + ADC fold +
    * per-query top-k — ONE definition shared by q137 and every `raw`
    * grid point. A corpus row lands in exactly one cell, so it matches
    * at most one probe row per query — no (qid, vec_id) dedup. */
  private def ivfAdcTail(enc: DataFrame, qdf: DataFrame, k: Int,
                         topk: Int): DataFrame = {
    val scored = enc.join(broadcast(qdf),
        col("cluster") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("adc_ip", adcScore(k))
    val w = Window.partitionBy(col("qid")).orderBy(desc("adc_ip"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topk)
      .select(col("qid"), col("vec_id").as("nbr_id"), col("rank"), col("adc_ip"))
  }

  /** q141: FULL IVFADC (Jégou et al. §IV-A) — PQ over the CELL
    * RESIDUALS r = x − c_cell(x) instead of the raw vectors. Residuals
    * concentrate near zero, so the same 4-bit codebooks spend their
    * resolution on the part of the vector the coarse quantizer hasn't
    * already explained — the recall-per-byte argument that makes this
    * the paper's deployed configuration. MEASURED CAVEAT: on this
    * engine's corpora the q167 grid inverts that preference beyond the
    * 500-vector fixture (see [[DeployedNProbe]]/[[deployedAnnTopK]]) —
    * this operator is kept as the published form with its own recall
    * gate (q144), not as the serving default. The inner product decomposes as
    * ⟨q,x⟩ = ⟨q,c_cell⟩ + ⟨q,r⟩: the first term is exact per
    * (query, probed cell) — k values per query, computed with the
    * query batch — and the second is the standard ADC fold over the
    * residual codebooks (global, cell-independent, so ONE m·k LUT per
    * query serves every probe).
    *
    * Residuals cast to FLOAT elementwise (IEEE nearest, identical in
    * both engines) before the fit — that is what keeps the
    * DECIMAL(28,12) Lloyd machinery lossless on computed values and
    * the whole fit replayable in SQL; a raw double residual would not
    * survive the 12dp cast unchanged. */
  def ivfAdcResidualTopK(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                         topk: Int = 5, kClusters: Int = 16, nProbe: Int = DeployedNProbe,
                         m: Int = DefaultSubspaces, k: Int = DefaultCodes,
                         iters: Int = DefaultIters): DataFrame = {
    val centroids = Ivf.fittedCentroids(spark, sfDir, kClusters, iters)
    val books = fittedResidualCodebooks(spark, sfDir, kClusters, m, k, iters)
    val enc = ivfEncodedResidual(spark, sfDir, kClusters, m, k, iters)
    val queries = probedQueries(spark, sfDir, centroids, nQueries, nProbe)
    ivfAdcResidualTail(enc,
      resQdf(spark, queries, books, centroids, nProbe), k, topk)
  }

  /** RESIDUAL scoring tail: ⟨q,x⟩ ≈ celldot + residual ADC fold — ONE
    * definition shared by q141 and every `residual` grid point. */
  private def ivfAdcResidualTail(enc: DataFrame, qdf: DataFrame, k: Int,
                                 topk: Int): DataFrame = {
    val scored = enc.join(broadcast(qdf),
        col("cluster") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("adc_ip", residualAdcScore(k))
    val w = Window.partitionBy(col("qid")).orderBy(desc("adc_ip"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topk)
      .select(col("qid"), col("vec_id").as("nbr_id"), col("rank"), col("adc_ip"))
  }

  /** Cell assignment + float-cast residual: `embedding` is REPLACED by
    * r = float32(x − c_cell(x)) elementwise, `cluster` rides along.
    * The float cast is deliberate — see [[ivfAdcResidualTopK]]. */
  private[graft] def residualFrame(vecs: DataFrame,
                                   centroids: Array[Array[Double]]): DataFrame = {
    val cents = typedlit(centroids.map(_.toSeq).toSeq)
    vecs
      .withColumn("cluster", Ivf.assignExpr(centroids)(col("embedding")))
      .withColumn("embedding",
        transform(col("embedding"), (v, i) =>
          (v.cast("double") -
            element_at(element_at(cents, col("cluster") + 1), i + 1))
            .cast("float")))
  }

  /** The residual-codebook layer: fitted once per
    * (session, sfDir, kClusters, m, k, iters) over the residuals of
    * the SAME session IVF fit q44/q137 probe. */
  def fittedResidualCodebooks(spark: SparkSession, sfDir: String,
                              kClusters: Int = 16, m: Int = DefaultSubspaces,
                              k: Int = DefaultCodes, iters: Int = DefaultIters)
      : Array[Array[Array[Double]]] =
    graft.SessionCache.value(spark, "pq_codebooks_residual", (sfDir, kClusters, m, k, iters)) {
      val centroids = Ivf.fittedCentroids(spark, sfDir, kClusters, iters)
      fitCodebooksFrom(
        residualFrame(Similarity.spread(Tables.embeddings(spark, sfDir))
          .select(col("vec_id"), col("embedding")), centroids)
          .select(col("vec_id"), col("embedding")), m, k, iters)
    }

  /** q136: recall\@k of the PQ index against the exact brute-force
    * baseline — the eval harness every compressed-index deployment
    * runs before flipping traffic. One row per query:
    * |PQ∩brute| / |brute| — the denominator is the per-query brute
    * list's ACTUAL size, not the `topk` parameter: on a corpus with
    * fewer than topk+1 vectors both lists shorten, and dividing by
    * topk would under-report a perfect match as < 1 (equal on every
    * corpus with ≥ topk non-query vectors, the fixture case). Both
    * sides reuse their query operators unchanged, so this measures
    * exactly what q135 serves. */
  def recallVsBrute(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                    topk: Int = 5): DataFrame =
    recallAgainst(adcTopK(spark, sfDir, nQueries, topk),
      Similarity.materializedBruteTopK(spark, sfDir, nQueries, topk))

  /** q143: recall\@k of the RAW-codes IVF-ADC deployment shape (q137 —
    * coarse pruning + codebooks over raw vectors) against exact brute
    * force. Together with [[residualRecallVsBrute]] this makes the
    * raw-vs-residual recall comparison — the empirical claim behind
    * q141's codebook-to-quantizer coupling — a pair of hash-checked
    * queries rather than a fixture assertion. */
  def ivfAdcRecallVsBrute(spark: SparkSession, sfDir: String,
                          nQueries: Int = 10, topk: Int = 5,
                          kClusters: Int = 16, nProbe: Int = DeployedNProbe): DataFrame =
    recallAgainst(ivfAdcTopK(spark, sfDir, nQueries, topk, kClusters, nProbe),
      Similarity.materializedBruteTopK(spark, sfDir, nQueries, topk))

  /** q144: recall\@k of the FULL residual IVFADC pipeline (q141 —
    * coarse pruning + codebooks over cell residuals) against exact
    * brute force — the residual twin of the q136/q143 gates. */
  def residualRecallVsBrute(spark: SparkSession, sfDir: String,
                            nQueries: Int = 10, topk: Int = 5,
                            kClusters: Int = 16, nProbe: Int = DeployedNProbe): DataFrame =
    recallAgainst(
      ivfAdcResidualTopK(spark, sfDir, nQueries, topk, kClusters, nProbe),
      Similarity.materializedBruteTopK(spark, sfDir, nQueries, topk))

  /** q167: the raw-vs-residual recall comparison swept over the nProbe
    * operating range — one row per (variant, n_probe, query). q143/q144
    * pin the deployment point (nProbe = 4); this grid is the evidence
    * that the residual-coupling decision holds ACROSS the operating
    * range, not just at one point (residual >= raw at every probe
    * budget is the claim; where they converge shows how much of the
    * gap coarse pruning itself closes).
    *
    * Scale shape: the whole sweep is TWO cell-pruned candidate joins —
    * one per variant — over the build-once encoded index layers
    * ([[ivfEncodedRaw]]/[[ivfEncodedResidual]]): the broadcast probe
    * frame carries `n_probe` as a grid column (the budget-`p` probe
    * list is the prefix of the budget-`p'` ≥ `p` list — [[probedQueries]]'
    * prefix property — so one frame holds every point), the per-point
    * ranking window partitions by (n_probe, qid), and the recall
    * arithmetic is [[recallAgainst]]'s unchanged per (variant,
    * n_probe, qid) group against the shared materialized brute
    * baseline ([[Similarity.materializedBruteTopK]]). The scoring
    * expressions are the q137/q141 tails' (`adcScore`, celldot +
    * residual fold), so every grid cell is arithmetically the
    * single-point operator's output. Before this the grid re-encoded
    * the corpus once per point (8 full encode passes), re-collected
    * the batch 8 times, and planned 8 separate join+window+recall
    * subtrees. */
  def recallGrid(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                 topk: Int = 5, kClusters: Int = 16,
                 probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import spark.implicits._
    val brute = Similarity.materializedBruteTopK(spark, sfDir, nQueries, topk)
    val centroids = Ivf.fittedCentroids(spark, sfDir, kClusters, DefaultIters)
    val books = fittedCodebooks(spark, sfDir)
    val resBooks = fittedResidualCodebooks(spark, sfDir, kClusters)
    val k = DefaultCodes
    val queries = probedQueries(spark, sfDir, centroids, nQueries, probes.max)
    // one broadcast frame per variant holding EVERY grid point: a
    // (n_probe, qid, probe) row per budget × prefix-sliced probe — a
    // corpus row matches at most one probe row per (n_probe, qid)
    val rawQ = rawQRows(queries, books, probes).toDF("n_probe", "qid", "probe", "lut")
    val resQ = resQRows(queries, resBooks, centroids, probes)
      .toDF("n_probe", "qid", "probe", "celldot", "lut")
    // per-variant: candidate join + (n_probe, qid)-windowed top-k —
    // the q137/q141 score expressions verbatim
    val w = Window.partitionBy(col("n_probe"), col("qid"))
      .orderBy(desc("adc_ip"), asc("vec_id"))
    def topkOf(scored: DataFrame): DataFrame =
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= topk)
        .select(col("n_probe"), col("qid"), col("vec_id").as("nbr_id"))
    val annRaw = topkOf(ivfEncodedRaw(spark, sfDir, kClusters)
      .join(broadcast(rawQ), col("cluster") === col("probe") &&
        col("vec_id") =!= col("qid"))
      .withColumn("adc_ip", adcScore(k)))
    val annRes = topkOf(ivfEncodedResidual(spark, sfDir, kClusters)
      .join(broadcast(resQ), col("cluster") === col("probe") &&
        col("vec_id") =!= col("qid"))
      .withColumn("adc_ip", residualAdcScore(k)))
    // recallAgainst's arithmetic per (variant, n_probe, qid) group
    def recallOf(ann: DataFrame, variant: String): DataFrame = {
      val b = brute.select(col("qid"), col("nbr_id"), lit(1L).as("hit"))
      val bruteK = b.groupBy(col("qid")).agg(count(lit(1)).as("brute_k"))
      ann.join(b, Seq("qid", "nbr_id"), "left")
        .groupBy(col("n_probe"), col("qid"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .join(broadcast(bruteK), Seq("qid"))
        .select(lit(variant).as("variant"), col("n_probe"), col("qid"),
          round(col("hits").cast("double") / col("brute_k"), 4).as("recall"))
    }
    recallOf(annRaw, "raw").unionByName(recallOf(annRes, "residual"))
  }

  /** Shared recall arithmetic: one row per query, |ann ∩ brute| divided
    * by the per-query brute list's ACTUAL size — never the `topk`
    * parameter: on a corpus with fewer than topk+1 vectors both lists
    * shorten, and a topk denominator would under-report a perfect
    * match as < 1 (equal whenever the corpus has ≥ topk non-query
    * vectors, the fixture case). Both sides arrive from their serving
    * operators unchanged, so the gate measures exactly what serves. */
  private[operators] def recallAgainst(ann: DataFrame, bruteTopK: DataFrame): DataFrame = {
    val brute = bruteTopK.select(col("qid"), col("nbr_id"), lit(1L).as("hit"))
    // ≤ nQueries rows — a broadcast-sized denominator frame
    val bruteK = brute.groupBy(col("qid")).agg(count(lit(1)).as("brute_k"))
    // left join so a query whose ANN list misses the brute set entirely
    // still reports recall 0 instead of vanishing from the output
    ann.select(col("qid"), col("nbr_id"))
      .join(brute, Seq("qid", "nbr_id"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .join(broadcast(bruteK), Seq("qid"))
      .select(col("qid"),
        round(col("hits").cast("double") / col("brute_k"), 4).as("recall"))
  }
}
