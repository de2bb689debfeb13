package graft.operators

import graft.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2.3):
  * brute-force cosine top-k as the exact baseline, plus two
  * candidate-pruned variants for scale — spark.ml
  * BucketedRandomProjectionLSH and a deterministic IVF-style
  * coarse-quantizer partition.
  *
  * Scale notes: brute force against ONE query vector is a single narrow
  * scan (broadcast the query, codegen'd CosineSimilarity, TakeOrdered) —
  * that already scales linearly and is the right plan even at 100 TB
  * when queries are few. The LSH/IVF paths exist for the many-queries /
  * all-pairs regime where candidate pruning beats the linear scan.
  */
object Similarity {

  /** Exact top-k by cosine against the vector with id `queryId`. The
    * query row is a 1-row dimension — broadcast, never a shuffle.
    * Uses the higher-order-function cosine so the arithmetic is
    * reproducible in the DuckDB oracle; the codegen'd
    * `VectorFunctions.cosineSim` is the faster equivalent (used in the
    * LSH/IVF paths below and benchmarked in BenchSpec). */
  def bruteForceTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val query = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q"))
    emb.filter(col("vec_id") =!= queryId)
      .join(broadcast(query))
      .select(
        col("vec_id"),
        col("label"),
        round(cosineHof(col("embedding"), col("q")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** ANN via random-hyperplane LSH (spark.ml BucketedRandomProjectionLSH
    * on Euclidean distance — equivalent ordering to cosine for
    * normalized vectors). Returns approximate top-k for `queryId`. */
  def annLshTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        array_to_vector(col("embedding").cast("array<double>")).as("features"))
      .cache()
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(2.0).setNumHashTables(4).setSeed(823)
    val model = lsh.fit(emb)
    val queryVec = emb.filter(col("vec_id") === queryId)
      .select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0)
    val res = model.approxNearestNeighbors(
        emb.filter(col("vec_id") =!= queryId), queryVec, k)
      .select(col("vec_id"), col("label"), round(col("distCol"), 4).as("l2_dist"))
      .orderBy(col("l2_dist"), col("vec_id"))
    res
  }

  /** IVF-style ANN with a REAL coarse quantizer: seeded spark.ml KMeans
    * learns the `nLists` centroids (the earlier placeholder used the
    * first `nLists` vectors, which is not a quantizer), every vector is
    * assigned to its nearest centroid by the fitted model (a broadcast
    * of the centers + one narrow pass — no shuffle), and a query is
    * MULTI-PROBE: it searches the `nProbe` lists whose centroids are
    * nearest the query vector, touching ~nProbe/nLists of the data.
    * Single-probe recall collapses when true neighbors quantize into an
    * adjacent cell (with weakly-clustered embeddings each neighbor lands
    * in the query's own list with probability ≈ 1/nLists); nProbe = 2 is
    * the standard recall/latency knob, same role as FAISS's `nprobe`.
    * Probe-list selection ranks the nLists fitted centroids against the
    * query — a driver-side O(nLists·dim) step on already-driver-resident
    * model state, not a data collect — by EUCLIDEAN distance, the same
    * metric the KMeans quantizer assigns with: ranking by cosine here
    * would not guarantee the query's own assigned list is among the
    * probes for unnormalized vectors (its nearest-by-L2 centroid can
    * rank below an angularly-closer one), silently losing the one list
    * certain to hold near neighbors. Nearest-by-L2 centroid == the
    * assigned centroid by definition, so the own list is always probed.
    * `assigned` is cached because both the query-lookup side and the
    * probe side consume it — uncached, the full assignment pass would
    * run twice. */
  def ivfTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10, nLists: Int = 4,
      nProbe: Int = 2): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nLists).setSeed(823).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cent_id")
    val model = km.fit(emb)
    val assigned = model.transform(emb)
      .select(col("vec_id"), col("label"), col("embedding"), col("cent_id"))
      .cache()
    // rank the fitted centroids (nLists rows of driver-resident model
    // state) by the quantizer's own metric — squared L2 — against the
    // query vector; the query row itself is a bounded 1-row probe
    val qVec = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    def sqDist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val probeLists = model.clusterCenters.zipWithIndex
      .map { case (c, i) => i -> sqDist(qVec, c.toArray) }
      .sortBy { case (i, d) => (d, i) }
      .take(nProbe).map(_._1.toLong)
    val query = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q"))
    assigned
      .filter(col("vec_id") =!= queryId && col("cent_id").isin(probeLists.toIndexedSeq: _*))
      .join(broadcast(query))
      .select(col("vec_id"), col("label"),
        round(cosineSim(col("embedding"), col("q")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** q6n: IVF RECALL-vs-PROBES TUNING CURVE — the recall/latency
    * tradeoff table that decides FAISS's `nprobe` in production, the
    * q8a sweep pattern applied to ANN: ONE fitted quantizer + ONE
    * cached assignment + ONE cached exact top-k, then each probe count
    * is only a different `isin` filter over the same assignment — the
    * sweep never refits or rescans. Per row: the replayable exact-side
    * stats, `recall_ok` against a per-probe floor (q63's folded
    * contract), and two theorem columns the oracle pins as literal
    * true — `monotone_ok` (probe sets are nested, so overlap cannot
    * decrease) and, for nProbe = nLists, the floor 0.999 forces the
    * exhaustive-probe row to be EXACT (candidate set = whole corpus) —
    * the anchor that certifies the probe machinery loses nothing when
    * it searches everything. */
  def ivfProbeCurve(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10, nLists: Int = 4,
      probes: Seq[Int] = Seq(1, 2, 4),
      floors: Map[Int, Double] = Map(1 -> 0.1, 2 -> 0.3, 4 -> 0.999))
      : DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nLists).setSeed(823).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cent_id")
    val model = km.fit(emb)
    val assigned = model.transform(emb)
      .select(col("vec_id"), col("embedding"), col("cent_id"))
      .cache()
    val qVec = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    def sqDist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val ranked = model.clusterCenters.zipWithIndex
      .map { case (c, i) => i -> sqDist(qVec, c.toArray) }
      .sortBy { case (i, d) => (d, i) }.map(_._1.toLong).toIndexedSeq
    val query = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q"))
    val exactCached = bruteForceTopK(spark, dir, queryId, k).cache()
    val bf = exactCached.agg(
      count(lit(1)).as("n_exact"), min(col("cosine")).as("bf_min_cosine"))
    val rows = probes.map { p =>
      val probeLists = ranked.take(p)
      val topk = assigned
        .filter(col("vec_id") =!= queryId
          && col("cent_id").isin(probeLists: _*))
        .join(broadcast(query))
        .select(col("vec_id"),
          round(cosineSim(col("embedding"), col("q")), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(k)
      val hits = topk.select(col("vec_id"))
        .join(exactCached.select(col("vec_id")), Seq("vec_id"))
        .agg(count(lit(1)).as("n_overlap"))
      bf.join(broadcast(hits))
        .select(lit(p.toLong).as("n_probe"), lit(k.toLong).as("k"),
          col("n_exact"), round(col("bf_min_cosine"), 4).as("bf_min_cosine"),
          col("n_overlap"),
          (col("n_overlap") >= math.ceil(k * floors(p)).toLong).as("recall_ok"))
    }
    val curve = rows.reduce(_ unionByName _)
    curve
      // 3-row frame: the unpartitioned window is post-aggregate (q1e rule);
      // first row has no predecessor → vacuously monotone
      .withColumn("monotone_ok",
        coalesce(col("n_overlap") >= lag(col("n_overlap"), 1)
          .over(Window.orderBy("n_probe")), lit(true)))
      .select(col("n_probe"), col("k"), col("n_exact"), col("bf_min_cosine"),
        col("recall_ok"), col("monotone_ok"))
      .orderBy("n_probe")
  }

  /** Exact side replayed with the identical q61/q63 cosine CTE; the
    * contract/theorem booleans are literal true. */
  def ivfProbeCurveOracle: String = """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id,
             list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS cos
      FROM embeddings e, q
      WHERE e.vec_id <> 0),
    topk AS (
      SELECT vec_id, round(cos, 4) AS cosine
      FROM sims ORDER BY cosine DESC, vec_id LIMIT 10),
    bf AS (
      SELECT CAST(count(1) AS BIGINT) AS n_exact,
             round(min(cosine), 4) AS bf_min_cosine
      FROM topk)
    SELECT CAST(p AS BIGINT) AS n_probe, CAST(10 AS BIGINT) AS k,
           bf.n_exact, bf.bf_min_cosine,
           true AS recall_ok, true AS monotone_ok
    FROM (SELECT unnest([1, 2, 4]) AS p) probes CROSS JOIN bf
    ORDER BY n_probe"""

  /** q62 graded form: the ANN-vs-exact recall contract folded INTO the
    * query so it is hash-checkable (the q25/q54 pattern — the LSH
    * candidate set itself is seeded-stochastic and engine-specific, so
    * emitting ids/ranks would be oracle-fragile; the deterministic
    * invariant columns are what an external engine can replay). One row:
    * the exact top-k's size and min cosine (pure arithmetic, DuckDB
    * replays it) plus `recall_ok` — ANN∩exact ≥ ceil(k·minRecall), the
    * same ≥0.5 contract DedupSimilaritySpec asserts. A false here means
    * the ANN index degraded, and the oracle hash flags it. */
  def annLshRecall(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10, minRecall: Double = 0.5): DataFrame =
    recallContract(annLshTopK(spark, dir, queryId, k),
      bruteForceTopK(spark, dir, queryId, k), k, minRecall)

  /** q63 graded form: same folded contract for the IVF path. A 1-of-4
    * probe can miss true neighbors whose vectors quantized into another
    * list, so the floor is the weaker ≥0.3 — still far above chance
    * (random k of n would overlap ~k²/n ≈ 0.2 vectors at sf0.01) and
    * tight enough that a broken quantizer or probe join fails it. */
  def ivfRecall(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10, minRecall: Double = 0.3): DataFrame =
    recallContract(ivfTopK(spark, dir, queryId, k),
      bruteForceTopK(spark, dir, queryId, k), k, minRecall)

  /** Shared recall-contract shape: one row of deterministic columns.
    * Distributed end-to-end — the overlap is a join + count, never a
    * driver-side set intersection. */
  private def recallContract(approx: DataFrame, exact: DataFrame,
      k: Int, minRecall: Double): DataFrame = {
    // the exact side is a full brute-force scan consumed by BOTH the
    // overlap join and the stats aggregate — cache the k-row result so
    // the scan runs once, not twice
    val exactCached = exact.cache()
    val hits = approx.select(col("vec_id"))
      .join(exactCached.select(col("vec_id")), Seq("vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
    val bf = exactCached.agg(
      count(lit(1)).as("n_exact"),
      min(col("cosine")).as("bf_min_cosine"))
    bf.join(broadcast(hits))
      .select(
        lit(k.toLong).as("k"),
        col("n_exact"),
        round(col("bf_min_cosine"), 4).as("bf_min_cosine"),
        (col("n_overlap") >= math.ceil(k * minRecall).toLong).as("recall_ok"))
  }

  /** Per-vector L2 norms + dimensionality — the sanity/oracle query for
    * the embedding column plumbing. */
  def norms(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        col("label"),
        size(col("embedding")).cast("long").as("dim"),
        round(normHof(col("embedding")), 4).as("l2_norm"))
      .orderBy("vec_id")

  /** q66: int8 scalar quantization audit — the storage-compression step
    * a 100 TB embedding store runs before ANN (4× smaller than float32).
    * PER-VECTOR min-max quantization: each vector carries its own
    * (vmin, scale) and codes round((x−vmin)/scale) ∈ [0,255] — stateless
    * per row, so the whole operator is a narrow projection with NO
    * shuffle and no fitted state to ship (a per-dimension scheme would
    * need a corpus-wide reduce; per-vector is what FAISS SQ8-style
    * stores use when vectors are row-normalized anyway). The query emits
    * the corpus-level round-trip error audit: dequantization error is
    * bounded by scale/2 per element, and `bound_ok` folds that contract
    * into the graded row. Pure arithmetic — the oracle replays it
    * element-for-element. */
  def quantizationStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val vmin = array_min(col("embedding")).cast("double")
    val vmax = array_max(col("embedding")).cast("double")
    val scale = (vmax - vmin) / 255.0
    // max over elements of |dequant(quant(x)) − x|; a constant vector
    // (scale 0) quantizes losslessly to code 0
    val err = when(scale === 0.0, lit(0.0)).otherwise(
      aggregate(col("embedding"), lit(0.0), (acc, x) =>
        greatest(acc, abs(
          round((x.cast("double") - vmin) / scale) * scale + vmin - x.cast("double")))))
    emb.select(col("vec_id"), scale.as("scale"), err.as("err"))
      .agg(
        count(lit(1)).as("n_vectors"),
        round(avg("err"), 4).as("avg_max_err"),
        round(max("err"), 4).as("worst_err"),
        (sum(when(col("err") > col("scale") / 2 + 1e-9, 1L).otherwise(0L)) === 0)
          .as("bound_ok"))
  }

  /** q6g: TWO-STAGE RERANK — the production retrieval topology every
    * vector store converges on: a cheap coarse pass over COMPRESSED
    * vectors (q66's per-vector SQ8, 4× smaller ⇒ 4× the scan
    * throughput at 100 TB) keeps the top `coarseR` candidates, then the
    * exact cosine re-ranks only those `coarseR` rows. Both stages are
    * TakeOrdered (no global sort); the full-precision fact scan of the
    * truth arm exists only to grade the contract — a deployment runs
    * solely the compressed scan + tiny re-rank.
    *
    * Everything is deterministic (SQ8 has no seed): both engines replay
    * dequantization element-for-element (q66's green arithmetic),
    * order by ROUNDED cosines with vec_id tie-break (q61's green
    * regime), and the folded contract counts the overlap between the
    * re-ranked top-k and the exact top-k — `recall_k` and `recall_ok`
    * fail the hash if compression ever degrades retrieval below
    * `minRecall`/k (observed: 10/10 at sf0.01 and sf0.1). */
  def rerankTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, coarseR: Int = 50, k: Int = 10,
      minRecall: Int = 8): DataFrame = {
    // the coarse SQ8 pass and the truth arm each cosine the whole
    // corpus; spread a narrow fixture scan so they run at session
    // parallelism (both are TakeOrdered on rounded cosine + vec_id —
    // a total order, partition-independent). No-op at real scale.
    val emb = Tables.spreadIfNarrow(Tables.embeddings(spark, dir))
    val query = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q"))
    val vmin = array_min(col("embedding")).cast("double")
    val scale = (array_max(col("embedding")).cast("double") - vmin) / 255.0
    val dq = when(scale === 0.0, col("embedding").cast("array<double>"))
      .otherwise(transform(col("embedding"),
        x => round((x.cast("double") - vmin) / scale) * scale + vmin))
    // codegen cosineSim ≡ cosineHof bit-for-bit (same left-to-right
    // double accumulation per term — see CosineSimilarity.nullSafeEval),
    // but ~10× cheaper per row: the corpus-wide passes pay one cosine
    // each instead of two HOF ones (observed 5.2 s → sub-second at
    // sf0.1); the exact cosine is evaluated corpus-wide only in the
    // truth arm that exists to grade the contract
    val base = emb.filter(col("vec_id") =!= queryId)
      .join(broadcast(query))
    val reranked = base
      .withColumn("cos_sq8", round(cosineSim(dq, col("q")), 4))
      .orderBy(col("cos_sq8").desc, col("vec_id")).limit(coarseR)
      .withColumn("cos_exact", round(cosineSim(col("embedding"), col("q")), 4))
      .orderBy(col("cos_exact").desc, col("vec_id")).limit(k)
      .select("vec_id", "label", "cos_sq8", "cos_exact")
    val truth = base
      .withColumn("cos_exact", round(cosineSim(col("embedding"), col("q")), 4))
      .orderBy(col("cos_exact").desc, col("vec_id")).limit(k)
      .select(col("vec_id").as("t_id"))
    val recall = reranked
      .join(broadcast(truth), col("vec_id") === col("t_id"), "left_semi")
      .groupBy().agg(count(lit(1)).as("recall_k"))
    reranked.crossJoin(broadcast(recall))
      .withColumn("recall_ok", col("recall_k") >= minRecall)
      .orderBy(col("cos_exact").desc, col("vec_id"))
  }

  def rerankTopKOracle: String = """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    p AS (
      SELECT vec_id, CAST(list_min(embedding) AS DOUBLE) AS vmin,
             (CAST(list_max(embedding) AS DOUBLE)
               - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
      FROM embeddings),
    dq AS (
      SELECT e.vec_id, e.label, e.embedding,
             CASE WHEN p.scale = 0
               THEN list_transform(e.embedding, x -> CAST(x AS DOUBLE))
               ELSE list_transform(e.embedding,
                 x -> round((CAST(x AS DOUBLE) - p.vmin) / p.scale)
                      * p.scale + p.vmin)
             END AS dqe
      FROM embeddings e JOIN p ON e.vec_id = p.vec_id
      WHERE e.vec_id <> 0),
    cos AS (
      SELECT d.vec_id, d.label,
             round(
               list_sum(list_transform(range(1, len(d.dqe) + 1),
                 i -> d.dqe[i] * CAST(q.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(d.dqe, x -> x * x)))
                  * sqrt(list_sum(list_transform(q.qe,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
               AS cos_sq8,
             round(
               list_sum(list_transform(range(1, len(d.embedding) + 1),
                 i -> CAST(d.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(d.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qe,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
               AS cos_exact
      FROM dq d, q),
    coarse AS (
      SELECT vec_id, label, cos_sq8, cos_exact FROM cos
      ORDER BY cos_sq8 DESC, vec_id LIMIT 50),
    rer AS (
      SELECT vec_id, label, cos_sq8, cos_exact FROM coarse
      ORDER BY cos_exact DESC, vec_id LIMIT 10),
    truth AS (
      SELECT vec_id FROM cos ORDER BY cos_exact DESC, vec_id LIMIT 10),
    rc AS (
      SELECT count(1) AS recall_k FROM rer
      WHERE rer.vec_id IN (SELECT vec_id FROM truth))
    SELECT rer.vec_id, rer.label, rer.cos_sq8, rer.cos_exact,
           CAST(rc.recall_k AS BIGINT) AS recall_k,
           rc.recall_k >= 8 AS recall_ok
    FROM rer CROSS JOIN rc
    ORDER BY cos_exact DESC, vec_id"""

  /** q68: PRODUCT QUANTIZATION audit — the other half of a production
    * ANN store next to q66's scalar quantization: split each vector
    * into `m` subspaces, code each subvector as its nearest of `k`
    * codebook entries, store m small codes per vector (here m·1 byte
    * vs dim·4 for float32 — a 16× shrink at dim=16). Like q64's fixed
    * IVF quantizer, the codebook is DELIBERATELY deterministic (the
    * first `k` vectors' subvectors) so the nearest-code argmin is pure
    * arithmetic the DuckDB oracle replays — the seeded-KMeans-trained
    * flavor belongs to q63's rows-only regime. The plan is
    * broadcast-codebook × narrow per-row work + two partial-agg
    * shuffles of (vec, subspace) keys: candidate work is k·m per
    * vector, never corpus². Emits the corpus reconstruction-error
    * audit (PQ's figure of merit — ADC distance error is bounded by
    * reconstruction error) plus the storage arithmetic. */
  def pqAudit(spark: SparkSession, dir: String,
      m: Int = 4, k: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    pqErrors(emb, dim, m, k)
      .agg(
        count(lit(1)).as("n_vectors"),
        round(avg("err"), 4).as("avg_err"),
        round(max("err"), 4).as("worst_err"))
      .withColumn("orig_bytes", lit(dim * 4L))
      .withColumn("code_bytes", lit(m.toLong))
  }

  /** q6j: TRAINED product quantization — q68 uses a deterministic
    * first-k codebook so its arithmetic is oracle-replayable; a real PQ
    * index TRAINS one codebook per subspace (m independent seeded
    * KMeans fits over the subvectors — exactly Jégou et al.'s
    * construction, and each fit's `trainingCost` IS the subspace's
    * total squared reconstruction error, so no second scoring pass is
    * needed). Trained centroids are seeded-stochastic, so the graded
    * row keeps the q68 fixed-codebook statistics (replayable
    * arithmetic) and folds the training CLAIM as a contract boolean:
    * total trained error ≤ total fixed-codebook error — k-means
    * optimizes precisely this objective, so a regression here means
    * the training pipeline broke. m fits of k=8 centroids are
    * driver-cheap at any corpus size (centroids are k·(d/m) floats);
    * the corpus-side work stays one pass per fit. */
  def trainedPqAudit(spark: SparkSession, dir: String,
      m: Int = 4, k: Int = 8): DataFrame = {
    // materialize the cache BEFORE the parallel fits (racing futures
    // duplicate the un-materialized relation under storage locks), then
    // fit the m independent subspace quantizers concurrently — each fit
    // is ~a dozen tiny jobs, so wall time is job-launch overhead, not
    // compute, and the fan-out collapses it to ~one fit's worth
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .cache()
    emb.count()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      m, (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val trainedTotal =
      try {
        val futs = (0 until m).map { j => scala.concurrent.Future {
          val sv = emb.select(array_to_vector(
            slice(col("embedding"), j * sub + 1, sub).cast("array<double>"))
            .as("features"))
          new org.apache.spark.ml.clustering.KMeans()
            .setK(k).setSeed(823 + j).setMaxIter(10)
            .setFeaturesCol("features").setPredictionCol("c")
            .fit(sv).summary.trainingCost
        }}
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf).sum
      } finally pool.shutdown()
    val errs = pqErrors(emb, dim, m, k).cache() // fixed-side probe + graded agg
    val fixedTotal = errs.agg(sum("err")).head().getDouble(0)
    errs.agg(
        count(lit(1)).as("n_vectors"),
        round(avg("err"), 4).as("avg_err_fixed"))
      .withColumn("m", lit(m.toLong))
      .withColumn("k", lit(k.toLong))
      .withColumn("trained_le_fixed", lit(trainedTotal <= fixedTotal))
  }

  /** q6a: PQ ASYMMETRIC-DISTANCE top-k — the search half of product
    * quantization (q68 is the storage half): the corpus is represented
    * only by its per-subspace nearest-code assignment, and a query
    * scores each vector as the sum over subspaces of the EXACT distance
    * from the query's subvector to the vector's ASSIGNED CODEWORD
    * (asymmetric distance computation — the query stays full-precision,
    * the corpus is 4 bytes/vector). At scale the per-query work is a
    * k·m lookup-table build plus a narrow scan of the code columns —
    * no full-precision corpus read at all, which is the point of PQ.
    * With the deterministic first-k codebook the assignment AND the ADC
    * ranking are pure arithmetic, so unlike the stochastic ANN paths
    * (q62/q63) the returned ids themselves are oracle-replayable. Ties
    * broken by vec_id. */
  def pqAdcTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, topK: Int = 10, m: Int = 4, k: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    adcTopK(emb, emb.filter(col("vec_id") =!= queryId), queryId, topK, m, k)
  }

  /** The ADC scoring core shared by [[pqAdcTopK]] (full-corpus
    * candidates) and [[ivfPqTopK]] (IVF-probed candidates): per
    * (candidate, subspace) the assigned codeword is the argmin of the
    * assignment distance, and the query-to-codeword distance for that
    * codeword is the ADC term — one broadcast of the k-row codebook +
    * 1-row query, k·m work per candidate. `candidates` must carry
    * (vec_id, embedding); the codebook always comes from the FULL
    * corpus (first k vectors) so probing never changes the code
    * assignments. */
  private def adcTopK(emb: DataFrame, candidates: DataFrame,
      queryId: Long, topK: Int, m: Int, k: Int): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val cb = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val query = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qvec"))
    def subSqDist(a: Column, b: Column): Column =
      aggregate(sequence(lit(1), lit(sub)), lit(0.0), (acc, t) => {
        val idx = (col("j") * sub + t).cast("int")
        val d = element_at(a, idx).cast("double") - element_at(b, idx).cast("double")
        acc + d * d
      })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id", "j").orderBy(col("assign_dist"), col("cid"))
    candidates
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("j"))
      .join(broadcast(cb))
      .join(broadcast(query))
      .withColumn("assign_dist", subSqDist(col("embedding"), col("cvec")))
      .withColumn("adc_dist", subSqDist(col("qvec"), col("cvec")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1) // the assigned codeword per subspace
      .groupBy("vec_id")
      .agg(round(sum("adc_dist"), 4).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(topK)
  }

  /** q6i: IVF-PQ — the two index structures composed the way FAISS's
    * IVFPQ (Jégou et al., TPAMI 2011) deploys them at billion-vector
    * scale: the IVF coarse quantizer (q63's seeded KMeans, nProbe
    * lists) bounds WHICH candidates are touched, and PQ-ADC scoring
    * (q6a's codebook) bounds the WORK PER CANDIDATE — k·m codeword
    * lookups instead of a d-dim float scan. (PQ here codes raw vectors,
    * not residuals — the residual refinement is a per-list codebook
    * away and changes no plan shape.) Both index structures broadcast
    * (centroids: nLists rows of fitted model state; codebook: k rows);
    * the corpus side is one filtered scan. Graded via the q62/q63
    * folded recall contract against the exact cosine top-k — the floor
    * compounds BOTH approximation stages, so it sits at the IVF tier
    * (probing dominates the loss; ADC only reorders within the probed
    * candidates). */
  def ivfPqTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, topK: Int = 10, nLists: Int = 4, nProbe: Int = 2,
      m: Int = 4, k: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nLists).setSeed(823).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cent_id")
    val model = km.fit(emb)
    val assigned = model.transform(emb)
      .select(col("vec_id"), col("embedding"), col("cent_id"))
      .cache()
    val qVec = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    def sqDist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val probeLists = model.clusterCenters.zipWithIndex
      .map { case (c, i) => i -> sqDist(qVec, c.toArray) }
      .sortBy { case (i, d) => (d, i) }
      .take(nProbe).map(_._1.toLong)
    val candidates = assigned
      .filter(col("vec_id") =!= queryId
        && col("cent_id").isin(probeLists.toIndexedSeq: _*))
      .select(col("vec_id"), col("embedding"))
    // ADC is a SHORTLIST builder, not the final ranking (8 codewords ×
    // 4 subspaces is deliberately coarse — alone it ranks ~1 true
    // neighbor into the top-10 on this corpus): take 3k by ADC, then
    // exact-rerank the shortlist — the full FAISS search pipeline
    // (coarse probe → ADC scan → refine), with the expensive exact
    // metric touching only 3k rows
    val raw = Tables.embeddings(spark, dir)
    val shortlist = adcTopK(raw, candidates, queryId, 3 * topK, m, k)
    val query = raw.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q"))
    shortlist.select(col("vec_id"))
      .join(raw.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(query))
      .select(col("vec_id"),
        round(cosineSim(col("embedding"), col("q")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(topK)
  }

  /** q6i graded form: ADC distances don't map onto cosine, so the
    * contract joins the IVF-PQ id set against the exact cosine top-k
    * (the overlap is metric-free). Floor 0.2: IVF probing alone is
    * contracted at 0.3 (q63) and ADC reordering within the probed set
    * can push at most a few true neighbors out of the top-k. */
  def ivfPqRecall(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10, minRecall: Double = 0.2): DataFrame =
    recallContract(ivfPqTopK(spark, dir, queryId, k),
      bruteForceTopK(spark, dir, queryId, k), k, minRecall)

  /** Per-vector PQ reconstruction error (the body of [[pqAudit]],
    * exposed so specs can assert pointwise invariants — e.g. a
    * codebook member reconstructs itself losslessly). */
  private[graft] def pqErrors(emb: DataFrame, dim: Int,
      m: Int, k: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val cb = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    // squared L2 between subvector j of the row and of the candidate:
    // a sequential fold over the subspace's elements (deterministic
    // summation order — the oracle's list_sum folds the same way)
    val dist = aggregate(sequence(lit(1), lit(sub)), lit(0.0), (acc, t) => {
      val idx = (col("j") * sub + t).cast("int")
      val d = element_at(col("embedding"), idx).cast("double") -
        element_at(col("cvec"), idx).cast("double")
      acc + d * d
    })
    emb.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("j"))
      .join(broadcast(cb))
      .withColumn("dist", dist)
      .groupBy("vec_id", "j")
      .agg(min("dist").as("min_dist"))
      .groupBy("vec_id")
      .agg(round(sum("min_dist"), 4).as("err"))
  }

  /** q6b: MATRYOSHKA truncation audit — MRL-style (Kusupati et al.
    * 2022, arXiv:2205.13147) embedding stores keep only a PREFIX of
    * each vector for the cheap first-pass search tier; the operational
    * question is how much of the corpus' energy the prefix retains.
    * Per vector: retained = Σ first-k squares / Σ all squares (1.0 for
    * a zero vector — nothing to lose). A narrow zero-shuffle projection
    * + one scalar aggregate; the fold is element-ordered, so the
    * DuckDB replay sums the same way. Emits corpus retention stats next
    * to the storage arithmetic (dim·4 → k·4 bytes). */
  def truncationAudit(spark: SparkSession, dir: String,
      keepDims: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val sq = (x: Column) => x.cast("double") * x.cast("double")
    val total = aggregate(col("embedding"), lit(0.0), (acc, x) => acc + sq(x))
    val kept = aggregate(slice(col("embedding"), 1, keepDims), lit(0.0),
      (acc, x) => acc + sq(x))
    emb.select(col("vec_id"), size(col("embedding")).as("dim"),
        when(total === 0.0, lit(1.0)).otherwise(kept / total).as("retained"))
      .agg(
        count(lit(1)).as("n_vectors"),
        first(col("dim")).cast("long").as("orig_dim"),
        lit(keepDims.toLong).as("kept_dim"),
        round(avg("retained"), 4).as("avg_retained"),
        round(min("retained"), 4).as("min_retained"),
        sum(when(col("retained") >= 0.25, 1L).otherwise(0L)).as("n_above_quarter"))
  }

  /** IVF bucket histogram (deterministic; oracle-checkable): nearest of
    * the first 4 vectors by cosine, counted per bucket. Unlike
    * `ivfTopK` (which fits a real KMeans quantizer), this keeps the
    * fixed first-N quantizer ON PURPOSE: the assignment is then pure
    * arithmetic DuckDB can replay, making the bucket histogram
    * hash-checkable by the oracle. */
  def ivfBucketCounts(spark: SparkSession, dir: String, nLists: Int = 4): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = emb.filter(col("vec_id") < nLists)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))
    emb.join(broadcast(cents))
      .withColumn("cos_c", round(cosineHof(col("embedding"), col("cent")), 8))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("cos_c").desc, col("cent_id"))))
      .filter(col("rk") === 1)
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("cent_id")
  }

  /** q6e: PCA EXPLAINED-VARIANCE AUDIT — fits spark.ml PCA (k=8) over
    * the embedding corpus and grades the spectrum through mathematical
    * invariants, the q6b/q25 contract pattern: explained-variance
    * ratios must be non-increasing (eigenvalues sorted), each in
    * [0, 1], their total ≤ 1 + ulp slack, and — the pigeonhole fact
    * that holds for ANY spectrum — the top-k of d components retain at
    * least k/d of the variance. PCA itself is seedless, deterministic
    * dense linear algebra (covariance + eigendecomposition), but its
    * raw loadings are BLAS/sign dependent across builds, so only the
    * invariant booleans and exact corpus facts are graded; the oracle
    * replays the exact side plus literal `true`s.
    *
    * Scale: `PCA.fit` is one treeAggregate building the d×d Gramian
    * (d=64 → 32 KB per partition) + an O(d³) driver eigensolve — the
    * textbook distributed-PCA shape; n never materializes anywhere. */
  def pcaAudit(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val dimProbe = Tables.embeddings(spark, dir)
      .select(size(col("embedding"))).head().getInt(0) // bounded 1-row probe
    val model = new org.apache.spark.ml.feature.PCA()
      .setInputCol("features").setOutputCol("pc").setK(k)
      .fit(emb)
    val evr = model.explainedVariance.toArray
    val nVec = emb.count()
    Seq((
        nVec, dimProbe.toLong, k.toLong,
        evr.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-12),
        evr.forall(v => v >= 0.0 && v <= 1.0 + 1e-12),
        evr.sum <= 1.0 + 1e-9,
        evr.sum >= k.toDouble / dimProbe - 1e-9))
      .toDF("n_vectors", "dim", "k", "evr_monotone", "evr_in_unit",
        "evr_sum_le_1", "evr_sum_ge_uniform")
  }

  def pcaAuditOracle: String = """
    SELECT CAST(count(1) AS BIGINT) AS n_vectors,
           CAST(max(len(embedding)) AS BIGINT) AS dim,
           CAST(8 AS BIGINT) AS k,
           true AS evr_monotone,
           true AS evr_in_unit,
           true AS evr_sum_le_1,
           true AS evr_sum_ge_uniform
    FROM embeddings"""

  /** q6f: CENTROID COHERENCE per label — how tightly does each label's
    * embedding cluster point one way? The statistic is
    * `n·‖mean‖² / Σ‖v‖²  =  (Σᵢⱼ⟨vᵢ,vⱼ⟩) / (n·Σ‖v‖²)` ∈ [0, 1]
    * (1 ⇔ all vectors identical; ≈1/n for isotropic noise) — the
    * number that tells a SemDeDup-style pipeline (q5a) whether a
    * cluster is worth deduplicating within. Unlike a naive float
    * implementation, every aggregate here is EXACT: elements are
    * quantized to milli integers per row (`floor(x·1000+0.5)` on the
    * identical parquet float — bit-identical in both engines), so
    * per-position sums S and squares Q are order-independent integer
    * sums, `centroid_norm2 = Σ S²` and `sum_norm2 = Σ Q` are exact,
    * and the one float op is the final ppm division. One explode + two
    * hash aggregates; no vector ever materializes on the driver. */
  def centroidCoherence(spark: SparkSession, dir: String): DataFrame = {
    val perPos = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .withColumn("em", floor(col("e").cast("double") * 1000 + 0.5))
      .groupBy("label", "pos")
      .agg(sum(col("em")).as("s"), sum(col("em") * col("em")).as("q"),
        count(lit(1)).as("n"))
      .cache() // consumed by the rectangularity probe and the aggregate
    // "every position counts every vector" is load-bearing (it is the
    // statistic's denominator) — fail LOUDLY on ragged/null-holding
    // embeddings instead of silently mis-grading. Bounded 1-row probe.
    require(perPos.groupBy("label")
        .agg(min("n").as("mn"), max("n").as("mx"))
        .filter(col("mn") =!= col("mx")).head(1).isEmpty,
      "ragged or null-holding embeddings: per-position counts diverge")
    // s ~ n_l·em can reach 1e12 at cluster scale, so s² (1e24) must be
    // accumulated in DECIMAL(38) — int64 would wrap SILENTLY in Spark
    // while DuckDB raises, diverging the engines below the documented
    // 38-digit budget. The output contract stays BIGINT: the final cast
    // back to long throws under ANSI if the value truly outgrew int64 —
    // the same loud failure DuckDB gives, never a wrapped number.
    perPos.groupBy("label")
      .agg(
        max("n").as("n_vectors"),
        count(lit(1)).as("dim"),
        sum("q").as("sum_norm2"),
        sum(col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
          .as("cn2_dec"))
      .withColumn("centroid_norm2", col("cn2_dec").cast("long"))
      .withColumn("coherence_ppm",
        floor(col("centroid_norm2").cast("double")
          / (col("n_vectors").cast("double") * col("sum_norm2").cast("double"))
          * 1e6 + 0.5))
      .drop("cn2_dec")
      .select(col("label"), col("n_vectors"), col("dim"), col("sum_norm2"),
        col("centroid_norm2"), col("coherence_ppm"))
      .orderBy("label")
  }

  /** q6o: FISHER CLASS-SEPARATION — the LDA criterion per label:
    * between-class scatter of the label's centroid against the global
    * mean over its within-class scatter, the "are these labels even
    * separable in this embedding space" number that decides whether a
    * linear probe (or q6m's prototype-distance pruning) can work at
    * all. q6f's exact-integer doctrine extended one level: milli
    * quantization, per-(label, dim) integer sums, then
    * within_scaled = n_l·Q_l − ‖S_l‖²  and
    * B_l = Σ_d (N·S_{l,d} − n_l·S_d)²  — both exact in DECIMAL(38)
    * (the cross term N·s is ~4e10, squared ~1.6e21, summed ~1e23:
    * past int64, inside the 38-digit budget; DuckDB replays in
    * HUGEINT) — and separation_e6 = B_l·n_l / (N²·within_scaled) · 1e6
    * forms ONE double at the end from identical integer operands.
    * Cost: one posexplode scan + |labels|·dim aggregate; the global
    * per-dim sums are a broadcast-sized second aggregate of that. */
  def fisherSeparation(spark: SparkSession, dir: String): DataFrame = {
    val perPos = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .withColumn("em", floor(col("e").cast("double") * 1000 + 0.5))
      .groupBy("label", "pos")
      .agg(sum(col("em")).as("s"), sum(col("em") * col("em")).as("q"),
        count(lit(1)).as("n"))
      .cache()
    val nTotal = Tables.embeddings(spark, dir).count() // bounded scalar probe
    val globalPos = perPos.groupBy("pos").agg(sum(col("s")).as("sg"))
    val bl = perPos.join(broadcast(globalPos), "pos")
      .select(col("label"),
        ((col("s") * nTotal - col("n") * col("sg")).cast("decimal(38,0)")
          * (col("s") * nTotal - col("n") * col("sg")).cast("decimal(38,0)"))
          .as("t2"))
      .groupBy("label").agg(sum(col("t2")).as("b_num"))
    // within_scaled's operands get the same DECIMAL(38) treatment as
    // b_num (round-6 advice): s² ~ 1e24 and n_l·Q_l ~ 1e9·1e15 both
    // clear int64 at cluster scale, and Spark would wrap silently where
    // DuckDB raises. The graded within_scaled column stays BIGINT via
    // the final cast — ANSI throws loudly if the true value outgrows it.
    val labelAgg = perPos.groupBy("label").agg(
      max("n").as("n_vectors"),
      sum("q").as("sum_norm2"),
      sum(col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
        .as("centroid_norm2"))
    labelAgg.join(bl, "label")
      .select(col("label"), col("n_vectors"), lit(nTotal).as("n_total"),
        (col("n_vectors").cast("decimal(38,0)")
            * col("sum_norm2").cast("decimal(38,0)") - col("centroid_norm2"))
          .cast("long").as("within_scaled"),
        col("b_num").cast("decimal(38,0)").as("b_raw"))
      .withColumn("separation_e6",
        floor(col("b_raw").cast("double") * col("n_vectors").cast("double")
          / (col("n_total").cast("double") * col("n_total").cast("double")
             * col("within_scaled").cast("double")) * 1e6 + 0.5).cast("long"))
      // int128-class value: emitted as a digit string so both engines
      // stringify identically (parquet decimal vs HUGEINT renderings
      // would otherwise be comparison-fragile)
      .withColumn("b_num", col("b_raw").cast("string"))
      .drop("b_raw")
      .select(col("label"), col("n_vectors"), col("n_total"),
        col("within_scaled"), col("b_num"), col("separation_e6"))
      .orderBy("label")
  }

  def fisherSeparationOracle: String = """
    WITH x AS (
      SELECT label, generate_subscripts(embedding, 1) AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
               AS BIGINT) AS em
      FROM embeddings),
    p AS (
      SELECT label, i, sum(em) AS s, sum(em * em) AS q, count(1) AS n
      FROM x GROUP BY label, i),
    nt AS (SELECT CAST(count(1) AS BIGINT) AS n_total FROM embeddings),
    g AS (SELECT i, sum(s) AS sg FROM p GROUP BY i),
    b AS (
      SELECT p.label,
             sum(CAST(p.s * nt.n_total - p.n * g.sg AS HUGEINT)
               * CAST(p.s * nt.n_total - p.n * g.sg AS HUGEINT)) AS b_num
      FROM p JOIN g ON p.i = g.i CROSS JOIN nt
      GROUP BY p.label),
    a AS (
      SELECT label, max(n) AS n_vectors, sum(q) AS sum_norm2,
             sum(s * s) AS centroid_norm2
      FROM p GROUP BY label)
    SELECT a.label,
           CAST(a.n_vectors AS BIGINT) AS n_vectors,
           nt.n_total,
           CAST(a.n_vectors * a.sum_norm2 - a.centroid_norm2 AS BIGINT)
             AS within_scaled,
           CAST(b.b_num AS VARCHAR) AS b_num,
           CAST(floor(CAST(b.b_num AS DOUBLE) * a.n_vectors
             / (CAST(nt.n_total AS DOUBLE) * nt.n_total
                * (a.n_vectors * a.sum_norm2 - a.centroid_norm2))
             * 1e6 + 0.5) AS BIGINT) AS separation_e6
    FROM a JOIN b ON a.label = b.label CROSS JOIN nt
    ORDER BY a.label"""

  def centroidCoherenceOracle: String = """
    WITH x AS (
      -- unnest + generate_subscripts expand in lockstep (range() cannot
      -- take lateral column parameters in DuckDB)
      SELECT label, generate_subscripts(embedding, 1) AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
               AS BIGINT) AS em
      FROM embeddings),
    p AS (
      SELECT label, i, sum(em) AS s, sum(em * em) AS q, count(1) AS n
      FROM x GROUP BY label, i),
    a AS (
      SELECT label, max(n) AS n_vectors, count(1) AS dim,
             sum(q) AS sum_norm2, sum(s * s) AS centroid_norm2
      FROM p GROUP BY label)
    SELECT label,
           CAST(n_vectors AS BIGINT) AS n_vectors,
           CAST(dim AS BIGINT) AS dim,
           CAST(sum_norm2 AS BIGINT) AS sum_norm2,
           CAST(centroid_norm2 AS BIGINT) AS centroid_norm2,
           CAST(floor(CAST(centroid_norm2 AS DOUBLE)
             / (n_vectors * sum_norm2) * 1e6 + 0.5) AS BIGINT) AS coherence_ppm
    FROM a ORDER BY label"""

  /** q6h: SIMPLIFIED SILHOUETTE — the cluster-validity score in its
    * O(n·k) centroid form (Rousseeuw's full silhouette is O(n²)
    * pairwise and structurally untenable at scale; the simplified
    * variant — a = d(x, own centroid), b = min over other centroids,
    * s = (b−a)/max(a,b) — is what spark.ml's evaluator computes too).
    * Exactness is engineered: per-dim sums are exact integers (q6f's
    * milli quantization), and the centroid is QUANTIZED by floor(S/n) —
    * an exact-integer-in, correctly-rounded-double-division operation
    * both engines replay bit-identically — so every distance is an
    * exact integer sum of squared integer gaps and a/b comparisons
    * never touch a float. s is scored on SQUARED distances (monotone in
    * the classic score, sign-identical) as floored ppm; per-label means
    * sum those exact integers. Plan: the centroid table is |labels|·dim
    * rows built by one hash aggregate, broadcast back joined on
    * position; per-(vector, candidate-label) distances are one more
    * hash aggregate — n·k work, no pairwise anything. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "e")))
      .withColumn("em", floor(col("e").cast("double") * 1000 + 0.5))
    val centroids = x.groupBy(col("label").as("c_label"), col("pos"))
      .agg(floor(sum("em").cast("double") / count(lit(1))).as("c"))
    val d2 = x.join(broadcast(centroids), Seq("pos"))
      .groupBy("vec_id", "label", "c_label")
      .agg(sum((col("em") - col("c")) * (col("em") - col("c"))).as("d2"))
    val scored = d2.groupBy("vec_id", "label")
      .agg(
        sum(when(col("c_label") === col("label"), col("d2"))).as("a2"),
        min(when(col("c_label") =!= col("label"), col("d2"))).as("b2"))
      .select(col("vec_id"), col("label"),
        floor((col("b2") - col("a2")).cast("double")
          / greatest(col("a2"), col("b2")) * 1e6 + 0.5).as("s_ppm"))
    scored.groupBy("label")
      .agg(
        count(lit(1)).as("n_vectors"),
        sum("s_ppm").as("sum_s_ppm"),
        sum(when(col("s_ppm") < 0L, 1L).otherwise(0L)).as("n_negative"))
      .withColumn("mean_s_ppm",
        floor(col("sum_s_ppm").cast("double") / col("n_vectors") + 0.5))
      .orderBy("label")
  }

  def silhouetteOracle: String = """
    WITH x AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
               AS BIGINT) AS em
      FROM embeddings),
    c AS (
      SELECT label AS c_label, pos,
             CAST(floor(CAST(sum(em) AS DOUBLE) / count(1)) AS BIGINT) AS c
      FROM x GROUP BY label, pos),
    d2 AS (
      SELECT x.vec_id, x.label, c.c_label,
             sum((x.em - c.c) * (x.em - c.c)) AS d2
      FROM x JOIN c ON x.pos = c.pos
      GROUP BY x.vec_id, x.label, c.c_label),
    s AS (
      SELECT vec_id, label,
             CAST(floor(CAST(b2 - a2 AS DOUBLE)
               / greatest(a2, b2) * 1e6 + 0.5) AS BIGINT) AS s_ppm
      FROM (
        SELECT vec_id, label,
               sum(CASE WHEN c_label = label THEN d2 END) AS a2,
               min(CASE WHEN c_label <> label THEN d2 END) AS b2
        FROM d2 GROUP BY vec_id, label))
    SELECT label,
           CAST(count(1) AS BIGINT) AS n_vectors,
           CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm,
           CAST(sum(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative,
           CAST(floor(CAST(sum(s_ppm) AS DOUBLE) / count(1) + 0.5)
             AS BIGINT) AS mean_s_ppm
    FROM s GROUP BY label ORDER BY label"""

  /** q6d: BINARY QUANTIZATION + HAMMING SEARCH — the 1-bit-per-dim
    * compression every large vector store offers (32× smaller than
    * fp32): keep only each dimension's SIGN, packed into two 32-bit
    * words, and search by Hamming distance (`bit_count(xor)` — a
    * handful of instructions per comparison vs d multiplies for
    * cosine). For random-hyperplane-ish embeddings the Hamming
    * distance is a monotone estimator of angular distance (the q56
    * sketch argument), so binary search is the coarse pass that a
    * cosine re-rank of the survivors refines — here the coarse pass
    * itself is graded, bit-for-bit. Packing is a codegen'd fold (no
    * UDF); the search is the q6c broadcast-query-block plan over 8-byte
    * codes instead of 256-byte vectors. */
  def hammingTopK(spark: SparkSession, dir: String,
      nQueries: Int = 4, k: Int = 10): DataFrame = {
    def word(lo: Int): org.apache.spark.sql.Column = expr(
      s"aggregate(sequence(0, 31), 0L, (acc, i) -> acc + " +
        s"IF(element_at(embedding, i + $lo + 1) > 0, shiftleft(1L, i), 0L))")
    val packed = Tables.embeddings(spark, dir)
      .select(col("vec_id"), word(0).as("w0"), word(32).as("w1"))
    val queries = packed.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("w0").as("qw0"), col("w1").as("qw1"))
    val scored = packed.where(col("vec_id") >= nQueries)
      .join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        (expr("bit_count(w0 ^ qw0)") + expr("bit_count(w1 ^ qw1)")).as("hamming"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("hamming"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("vec_id"), col("hamming"))
      .orderBy("q_id", "rk")
  }

  /** q6c: k-NN JOIN — top-k neighbors for a query SET, not q61's single
    * probe vector: the batch retrieval shape (embed a batch of queries,
    * join each against the corpus). The query block is broadcast once
    * and every corpus partition scores all queries locally — corpus ×
    * |Q| work split across corpus partitions, then one shuffle on q_id
    * for the per-query top-k window. At 100 TB the corpus side stays
    * partition-parallel no matter how big it is; |Q| is the broadcast
    * budget, and a larger query batch tiles into |Q|-sized chunks of
    * this same plan (or flips to the IVF path, q63, per chunk). */
  def knnJoin(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val scored = emb.where(col("vec_id") >= nQueries)
      .join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        round(cosineHof(col("embedding"), col("qv")), 8).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rk")
  }

  /** q6m: DIFFICULTY-BASED DATA PRUNING — the data-selection op from
    * the pruning-scaling-law literature (Sorscher et al. 2022,
    * arXiv:2206.14486: with abundant data, TRAIN ON THE HARD examples;
    * prototype distance is the self-supervised difficulty metric): per
    * label, score every vector by squared distance to its own label
    * centroid and keep the farthest `keepPct`%. Exactness is q6h's
    * machinery wholesale — milli-quantized integer coordinates,
    * floor(S/n) centroids, integer distances — plus an integer keep
    * rule (rank ≤ n·keepPct/100 under (d2 desc, vec_id)), so the kept
    * SET is bit-determined and the id-sum pins membership in the hash.
    * Plan: centroid table broadcast back (|labels|·dim rows), one
    * hash aggregate for distances, one per-label window for the rank.
    * The per-label sort is the exact-by-contract cost; at 100 TB the
    * swap is a percentile sketch for the threshold (q58) + one filter
    * pass — same output contract, no total order. */
  def difficultyPruning(spark: SparkSession, dir: String,
      keepPct: Int = 30): DataFrame = {
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "e")))
      .withColumn("em", floor(col("e").cast("double") * 1000 + 0.5))
    val centroids = x.groupBy(col("label").as("c_label"), col("pos").as("c_pos"))
      .agg(floor(sum("em").cast("double") / count(lit(1))).as("c"))
    val d2 = x.join(broadcast(centroids),
        col("pos") === col("c_pos") && col("label") === col("c_label"))
      .groupBy("vec_id", "label")
      .agg(sum((col("em") - col("c")) * (col("em") - col("c"))).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("d2").desc, col("vec_id"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("label")
    val ranked = d2
      .withColumn("rank", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("kept",
        col("rank") <= floor(col("n") * lit(keepPct.toLong) / lit(100)))
    ranked.groupBy("label")
      .agg(
        max("n").as("n_vectors"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        min(when(col("kept"), col("d2"))).as("threshold_d2"),
        sum(when(col("kept"), col("d2"))).as("sum_d2_kept"),
        sum(when(!col("kept"), col("d2"))).as("sum_d2_dropped"),
        sum(when(col("kept"), col("vec_id"))).as("kept_id_sum"))
      .orderBy("label")
  }

  val difficultyPruningOracle: String = """
    WITH x AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
               AS BIGINT) AS em
      FROM embeddings),
    c AS (
      SELECT label AS c_label, pos AS c_pos,
             CAST(floor(CAST(sum(em) AS DOUBLE) / count(1)) AS BIGINT) AS c
      FROM x GROUP BY label, pos),
    d2 AS (
      SELECT x.vec_id, x.label,
             sum((x.em - c.c) * (x.em - c.c)) AS d2
      FROM x JOIN c ON x.pos = c.c_pos AND x.label = c.c_label
      GROUP BY x.vec_id, x.label),
    r AS (
      SELECT vec_id, label, d2,
             row_number() OVER (PARTITION BY label
               ORDER BY d2 DESC, vec_id) AS rank,
             count(1) OVER (PARTITION BY label) AS n
      FROM d2),
    k AS (
      SELECT *, rank <= n * 30 // 100 AS kept FROM r)
    SELECT label,
           CAST(max(n) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(min(CASE WHEN kept THEN d2 END) AS BIGINT) AS threshold_d2,
           CAST(sum(CASE WHEN kept THEN d2 END) AS BIGINT) AS sum_d2_kept,
           CAST(sum(CASE WHEN NOT kept THEN d2 END) AS BIGINT)
             AS sum_d2_dropped,
           CAST(sum(CASE WHEN kept THEN vec_id END) AS BIGINT) AS kept_id_sum
    FROM k GROUP BY label ORDER BY label"""

  /** q6l: HARD-NEGATIVE MINING — the contrastive-training data op
    * (FaceNet/SimCSE shape): for each anchor, the top-k most similar
    * corpus vectors with a DIFFERENT label (the negatives a contrastive
    * loss learns most from), next to the anchor's least-similar
    * SAME-label vector (the hardest positive). The per-row flag marks
    * negatives that score above the hardest positive — the regime where
    * triplet loss gradients are largest. Same topology as q6c: anchors
    * broadcast once, every corpus partition scores locally, one shuffle
    * on a_id for the per-anchor top-k (planned as WindowGroupLimit, so
    * map tasks prune to local top-k first); the positive arm is a tiny
    * per-anchor min. Corpus-partition-parallel at any corpus size. */
  def hardNegatives(spark: SparkSession, dir: String,
      nAnchors: Int = 8, k: Int = 3): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val anchors = emb.where(col("vec_id") < nAnchors)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("embedding").as("av"))
    val scored = emb.where(col("vec_id") >= nAnchors)
      .join(broadcast(anchors))
      .select(col("a_id"), col("a_label"), col("vec_id"), col("label"),
        round(cosineSim(col("embedding"), col("av")), 8).as("cosine"))
    val wNeg = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id").orderBy(col("cosine").desc, col("vec_id"))
    val negs = scored.where(col("label") =!= col("a_label"))
      .withColumn("rk", row_number().over(wNeg))
      .where(col("rk") <= k)
    val hardestPos = scored.where(col("label") === col("a_label"))
      .groupBy("a_id").agg(min("cosine").as("pos_min_cosine"))
    negs.join(broadcast(hardestPos), Seq("a_id"), "left")
      .select(col("a_id"), col("rk"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"),
        col("cosine").as("neg_cosine"), col("pos_min_cosine"),
        (col("cosine") > col("pos_min_cosine"))
          .as("harder_than_worst_positive"))
      .orderBy("a_id", "rk")
  }

  val hardNegativesOracle: String = """
    WITH a AS (
      SELECT vec_id AS a_id, label AS a_label, embedding AS av
      FROM embeddings WHERE vec_id < 8),
    s AS (
      SELECT a.a_id, a.a_label, e.vec_id, e.label,
        round(
          list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(a.av[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(e.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(a.av,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 8) AS cosine
      FROM embeddings e CROSS JOIN a WHERE e.vec_id >= 8),
    n AS (
      SELECT a_id, vec_id, label, cosine,
             row_number() OVER (PARTITION BY a_id
               ORDER BY cosine DESC, vec_id) AS rk
      FROM s WHERE label <> a_label),
    p AS (
      SELECT a_id, min(cosine) AS pos_min_cosine
      FROM s WHERE label = a_label GROUP BY a_id)
    SELECT n.a_id, CAST(n.rk AS INTEGER) AS rk,
           n.vec_id AS neg_id, n.label AS neg_label,
           n.cosine AS neg_cosine, p.pos_min_cosine,
           n.cosine > p.pos_min_cosine AS harder_than_worst_positive
    FROM n LEFT JOIN p ON n.a_id = p.a_id
    WHERE n.rk <= 3 ORDER BY n.a_id, n.rk"""

  /** q8k: MMR DIVERSIFIED RERANK — Maximal Marginal Relevance
    * (Carbonell & Goldstein 1998): greedily build a k-item result where
    * each step picks argmax over remaining candidates of
    * `0.7·rel(d) − 0.3·max_{s∈S} sim(d,s)` — relevance to the query
    * minus redundancy against what is already selected. This is the
    * standard diversity pass a retrieval-augmented training pipeline
    * runs after ANN shortlist: q61/q6g return the nearest items, MMR
    * returns near items that are not copies of each other.
    *
    * Spark-first decomposition: the DISTRIBUTED work is the shortlist
    * (one broadcast-query scan + TakeOrderedAndProject, exactly q61's
    * plan — this is the part that touches 100 TB) and the pairwise
    * cosine over the shortlist (a 16-row broadcast self-join). The
    * greedy selection is INHERENTLY sequential in k, so it is composed
    * as k-1 lazy DataFrame steps over those two CACHED tiny frames —
    * each step an anti-join against the picked set, a max-sim
    * aggregate, and a 1-row TakeOrdered — never a driver-side loop over
    * collected data; the whole chain stays one declarative plan.
    *
    * Engine parity: relevance and pairwise cosines are rounded to 6 dp
    * (the q61 convention), the 0.7/0.3 literals are written identically
    * in both engines (never derived as 1−λ, which is not the double
    * 0.3), and the graded columns are the floor(·1e6+0.5) encodings of
    * step, relevance, redundancy, and marginal score. */
  def mmrRerank(spark: SparkSession, dir: String,
      queryId: Long = 0L, shortlist: Int = 16, k: Int = 6): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qv = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val cand = emb.filter(col("vec_id") =!= queryId)
      .join(broadcast(qv))
      .select(col("vec_id"),
        round(cosineHof(col("embedding"), col("qe")), 6).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(shortlist)
      .cache() // 16 rows; anchor of every greedy step
    val ce = cand.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
    val ca = ce.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val cb = ce.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val sims = ca.join(broadcast(cb), col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        round(cosineHof(col("ea"), col("eb")), 6).as("sim"))
      .cache() // shortlist² − shortlist = 240 rows
    // materialize both anchors ONCE, then TRUNCATE LINEAGE after every
    // greedy step. Step t's `next` references the running selection
    // TWICE (the redundancy aggregate and the remaining-set anti-join),
    // so a lazily-composed chain TRIPLES the analyzed plan per step —
    // Catalyst re-analysis made k=6 cost 28-45 s on sf0.01, and caching
    // cannot help because cache substitution runs after analysis.
    // localCheckpoint (the duplicateComponents fixpoint pattern)
    // replaces each step's subtree with a LogicalRDD leaf: flat
    // ~0.3 s/step. The builder therefore executes work: q8k is in
    // Explain.eager.
    cand.count(); sims.count()
    var sel: DataFrame = cand
      .orderBy(col("rel").desc, col("vec_id")).limit(1)
      .select(lit(1).as("step"), col("vec_id"), col("rel"),
        lit(null).cast("double").as("maxsim"), col("rel").as("score"))
      .localCheckpoint()
    for (t <- 2 to k) {
      val picked = sel.select(col("vec_id"))
      val ms = sims
        .join(picked.withColumnRenamed("vec_id", "ib"), Seq("ib"), "left_semi")
        .groupBy(col("ia")).agg(max(col("sim")).as("ms"))
      val next = cand
        .join(picked, Seq("vec_id"), "left_anti")
        .join(ms, col("vec_id") === col("ia"))
        .select(lit(t).as("step"), col("vec_id"), col("rel"),
          col("ms").as("maxsim"),
          (lit(0.7) * col("rel") - lit(0.3) * col("ms")).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
      sel = sel.unionByName(next).localCheckpoint()
    }
    sel.select(col("step"), col("vec_id"),
        floor(col("rel") * 1e6 + 0.5).cast("long").as("rel_e6"),
        floor(col("maxsim") * 1e6 + 0.5).cast("long").as("maxsim_e6"),
        floor(col("score") * 1e6 + 0.5).cast("long").as("score_e6"))
      .orderBy("step")
  }

  /** q8m: K-CENTER GREEDY CORESET — farthest-point sampling (the
    * 2-approximation to the k-center objective; Sener & Savarese 2018's
    * coreset construction for active learning / dataset distillation):
    * starting from the seed vector, repeatedly add the point FARTHEST
    * from the current selection (maximin squared-L2), then grade the
    * achieved coverage radius — max over the corpus of the min distance
    * to the selected set, the quantity the method 2-approximates.
    * Complements q8k: MMR diversifies a relevance-ranked SHORTLIST,
    * k-center covers the WHOLE corpus.
    *
    * Scale shape: unlike q8k, every step is a genuinely distributed
    * pass — the selected set (≤ k rows) broadcasts onto the full
    * embedding scan, min-reduces per vector, and the farthest point is
    * one TakeOrdered(1); k steps = k broadcast scans, the textbook
    * distributed form of farthest-point sampling. The selection
    * accumulator is lineage-truncated per step (the q8k lesson: the
    * nested plan otherwise triples per step). Distances are
    * round(·,6) doubles (q61 arithmetic parity), graded as
    * floor(·1e6+0.5) integers. */
  def kcenterCoreset(spark: SparkSession, dir: String,
      seedId: Long = 0L, k: Int = 6): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).cache()
    emb.count()
    def d2(a: Column, b: Column): Column =
      round(aggregate(
        zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double"))
          * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, x) => acc + x), 6)
    var sel: DataFrame = emb.filter(col("vec_id") === seedId)
      .select(lit(1).as("step"), col("vec_id"),
        lit(null).cast("double").as("min_d2"))
      .localCheckpoint()
    for (t <- 2 to k) {
      val s = sel.join(emb, "vec_id")
        .select(col("vec_id").as("sid"), col("embedding").as("se"))
      val next = emb
        .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .join(broadcast(s))
        .select(col("vec_id"), d2(col("embedding"), col("se")).as("d"))
        .groupBy("vec_id").agg(min(col("d")).as("min_d2"))
        .orderBy(col("min_d2").desc, col("vec_id")).limit(1)
        .select(lit(t).as("step"), col("vec_id"), col("min_d2"))
      sel = sel.unionByName(next).localCheckpoint()
    }
    // achieved k-center objective: coverage radius of the final set
    val sFinal = sel.join(emb, "vec_id")
      .select(col("vec_id").as("sid"), col("embedding").as("se"))
    val radius = emb
      .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .join(broadcast(sFinal))
      .select(col("vec_id"), d2(col("embedding"), col("se")).as("d"))
      .groupBy("vec_id").agg(min(col("d")).as("md"))
      .groupBy().agg(max(col("md")).as("r"))
      .select(floor(col("r") * 1e6 + 0.5).cast("long").as("cover_radius_e6"))
    sel
      .select(col("step"), col("vec_id"),
        floor(col("min_d2") * 1e6 + 0.5).cast("long").as("min_d2_e6"))
      .crossJoin(broadcast(radius))
      .orderBy("step")
  }

  /** q8p: EMBEDDING HEALTH AUDIT — the per-dimension QA pass an
    * embedding pipeline runs before anything downstream trusts the
    * vectors: per-dim mean/variance/range (a scale-imbalanced or
    * constant dim silently dominates or wastes every distance
    * computation), near-zero share with a weak-dim flag (dead
    * dimensions), and the corpus ANISOTROPY ratio ‖μ‖²/E‖v‖²
    * (Ethayarajh 2019's degenerate-cone symptom: embeddings that all
    * point the same way make cosine similarity meaningless — 0 is
    * isotropic, 1 is a collapsed representation).
    *
    * Engine parity: values are quantized to e6 integers AT THE ROW
    * LEVEL, so every aggregate is an order-free integer sum; the only
    * doubles are end-stage ratios of identical integer operands.
    * Second moments are summed as DECIMAL(38): Σxi² per dim reaches
    * int64's edge at ~7.7e5 vectors (xi ≤ ~3.3e6 e6-units), far below
    * the corpus sizes this audits — Spark would wrap silently where
    * DuckDB's HUGEINT does not (the q8g/q8h lesson). Scale shape: one
    * posexplode scan map-side-combined to |dims| rows; everything
    * after runs on the 64-row frame. */
  def embeddingHealth(spark: SparkSession, dir: String,
      smallE6: Long = 10000L): DataFrame =
    embeddingHealthOf(Tables.embeddings(spark, dir), smallE6)

  /** DataFrame form of q8p, for planted-corpus tests. */
  def embeddingHealthOf(emb: DataFrame, smallE6: Long = 10000L): DataFrame = {
    val dims = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        floor(col("x").cast("double") * 1e6 + 0.5).cast("long").as("xi"))
    val d = dims.groupBy("dim").agg(
        count(lit(1)).as("n"),
        sum(col("xi")).as("sx"),
        sum((col("xi") * col("xi")).cast("decimal(38,0)")).as("sxx"),
        min(col("xi")).as("min_e6"), max(col("xi")).as("max_e6"),
        sum(when(abs(col("xi")) < smallE6, 1L).otherwise(0L)).as("n_small"))
      .cache() // feeds the 64-row global fold and the per-dim rows
    val g = d.groupBy().agg(
      sum((col("sx") * col("sx")).cast("decimal(38,0)")).as("num"),
      sum(col("sxx")).as("den"),
      first(col("n")).as("n"),
      sum(when(col("n_small") * 2 > col("n"), 1L).otherwise(0L))
        .as("n_weak_dims"))
    val gl = g.select(
      floor(col("num").cast("double")
        / (col("n") * col("den").cast("double")) * 1e6 + 0.5)
        .cast("long").as("anisotropy_e6"),
      col("n_weak_dims"))
    d.select(col("dim"), col("n"),
        expr("CAST(sx div n AS BIGINT)").as("mean_e6"),
        expr("CAST((n * sxx - CAST(sx AS DECIMAL(38,0)) * sx) div (n * n)"
          + " AS BIGINT)").as("var_e12"),
        col("min_e6"), col("max_e6"), col("n_small"))
      .crossJoin(broadcast(gl))
      .orderBy("dim")
  }

  def embeddingHealthOracle: String = """
    WITH dims AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
               AS BIGINT) AS xi
      FROM embeddings),
    d AS (
      SELECT dim, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(xi) AS BIGINT) AS sx,
             sum(CAST(xi AS HUGEINT) * xi) AS sxx,
             CAST(min(xi) AS BIGINT) AS min_e6,
             CAST(max(xi) AS BIGINT) AS max_e6,
             CAST(sum(CASE WHEN abs(xi) < 10000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_small
      FROM dims GROUP BY dim),
    g AS (
      SELECT sum(CAST(sx AS HUGEINT) * sx) AS num,
             sum(sxx) AS den,
             CAST(any_value(n) AS BIGINT) AS n,
             CAST(sum(CASE WHEN n_small * 2 > n THEN 1 ELSE 0 END)
               AS BIGINT) AS n_weak_dims
      FROM d),
    gl AS (
      SELECT CAST(floor(CAST(num AS DOUBLE) / (n * CAST(den AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS anisotropy_e6,
             n_weak_dims
      FROM g)
    SELECT d.dim, d.n, CAST(d.sx // d.n AS BIGINT) AS mean_e6,
           CAST((d.n * d.sxx - CAST(d.sx AS HUGEINT) * d.sx)
             // (d.n * d.n) AS BIGINT) AS var_e12,
           d.min_e6, d.max_e6, d.n_small, gl.anisotropy_e6, gl.n_weak_dims
    FROM d CROSS JOIN gl ORDER BY d.dim"""

  /** qa0: ROBUST OUTLIER QUARANTINE — the row-level complement to
    * q8p's moment-based health audit: per-dimension MEDIAN/MAD fences
    * (the robust statistics a mean/variance audit can't provide — one
    * corrupted batch of extreme values drags the mean toward itself
    * and inflates the variance it is judged against, while the median
    * and MAD ignore it), then quarantine every vector with ANY
    * dimension outside median ± k·MAD. The embedding-side version of
    * what q1f's winsorization does for metrics.
    *
    * Exact integer end to end: values quantize to the e6 grid
    * (the q8p convention), per-dim medians come from the q1r/q8c
    * HISTOGRAM DECOMPOSITION (a (dim, value) count table bounded by
    * the grid, never a per-group value sort), medians are DOUBLED
    * (med2 = lo+hi order stats) and MADs QUADRUPLED (mad4 = doubled
    * median of doubled deviations) so every comparison stays integer:
    * |x−med| > k·MAD ⟺ 2·dev2 > k·mad4. Zero-MAD dims (constant
    * columns) are floored to one grid step so they don't quarantine
    * the corpus. One cached exploded projection feeds all three
    * passes; the median/MAD tables are |dims|-row broadcasts; windows
    * partition BY DIM (parallel across dimensions at any corpus
    * size). */
  def robustQuarantine(spark: SparkSession, dir: String,
      k: Long = 6L): DataFrame =
    robustQuarantineOf(Tables.embeddings(spark, dir), k)

  /** DataFrame form of qa0, for planted-corpus tests. */
  def robustQuarantineOf(emb: DataFrame, k: Long = 6L): DataFrame = {
    val dims = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        floor(col("x").cast("double") * 1e6 + 0.5).cast("long").as("xi"))
      .cache() // three consumers: value histogram, deviation pass, flags
    def med2Of(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val h = df.groupBy(col("dim"), col(valueCol).as("v"))
        .agg(count(lit(1)).as("c"))
      val byDim = Window.partitionBy("dim")
      val cumW = byDim.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val h2 = h.withColumn("cum", sum("c").over(cumW))
        .withColumn("n", sum("c").over(byDim))
        .withColumn("lo_pos", expr("(n + 1) div 2"))
        .withColumn("hi_pos", expr("(n + 2) div 2"))
      def bucketOf(pos: Column): Column =
        col("cum") - col("c") < pos && col("cum") >= pos
      h2.groupBy("dim").agg(
        (min(when(bucketOf(col("lo_pos")), col("v")))
          + min(when(bucketOf(col("hi_pos")), col("v")))).as(out))
    }
    // the |dims|-row median/MAD tables are materialized once — left
    // lazy, every broadcast consumer re-runs the histogram-window
    // subtree they sit on (measured 7.4 s -> the re-execution was the
    // whole cost)
    val med = med2Of(dims, "xi", "med2_e6").localCheckpoint(true)
    val dev = dims.join(broadcast(med), "dim")
      .withColumn("dev2", abs(col("xi") * 2 - col("med2_e6")))
    val mad = med2Of(dev.select(col("dim"), col("dev2")), "dev2", "mad4_e6")
      .localCheckpoint(true)
    val flags = dev.join(broadcast(mad), "dim")
      .withColumn("out", (col("dev2") * 2
        > lit(k) * greatest(col("mad4_e6"), lit(1L))).cast("long"))
      .cache() // consumed by the per-dim rollup AND the row-level fold
    val perDim = flags.groupBy("dim").agg(
        count(lit(1)).as("n"), sum("out").as("n_outlier_values"))
      .join(med, "dim").join(mad, "dim")
    val quarantined = flags
      .groupBy("vec_id").agg(max("out").as("bad"))
      .agg(sum("bad").as("n_quarantined"), count(lit(1)).as("n_vectors"))
      .select(col("n_quarantined"), col("n_vectors"),
        expr("(n_quarantined * 1000000) div n_vectors").as("quarantine_ppm"))
    perDim.crossJoin(broadcast(quarantined))
      .select(col("dim"), col("n"), col("med2_e6"), col("mad4_e6"),
        col("n_outlier_values"), col("n_quarantined"), col("n_vectors"),
        col("quarantine_ppm"))
      .orderBy("dim")
  }

  def robustQuarantineOracle: String = """
    WITH dims AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
               AS BIGINT) AS xi
      FROM embeddings),
    hv AS (SELECT dim, xi AS v, CAST(count(1) AS BIGINT) AS c
           FROM dims GROUP BY 1, 2),
    hv2 AS (
      SELECT *, sum(c) OVER (PARTITION BY dim ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(c) OVER (PARTITION BY dim) AS n
      FROM hv),
    med AS (
      SELECT dim,
             CAST(min(CASE WHEN cum - c < (n+1)//2 AND cum >= (n+1)//2
                 THEN v END)
               + min(CASE WHEN cum - c < (n+2)//2 AND cum >= (n+2)//2
                 THEN v END) AS BIGINT) AS med2_e6
      FROM hv2 GROUP BY dim),
    dev AS (
      SELECT d.vec_id, d.dim, abs(d.xi * 2 - m.med2_e6) AS dev2
      FROM dims d JOIN med m ON d.dim = m.dim),
    hd AS (SELECT dim, dev2 AS v, CAST(count(1) AS BIGINT) AS c
           FROM dev GROUP BY 1, 2),
    hd2 AS (
      SELECT *, sum(c) OVER (PARTITION BY dim ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(c) OVER (PARTITION BY dim) AS n
      FROM hd),
    mad AS (
      SELECT dim,
             CAST(min(CASE WHEN cum - c < (n+1)//2 AND cum >= (n+1)//2
                 THEN v END)
               + min(CASE WHEN cum - c < (n+2)//2 AND cum >= (n+2)//2
                 THEN v END) AS BIGINT) AS mad4_e6
      FROM hd2 GROUP BY dim),
    fl AS (
      SELECT dev.vec_id, dev.dim,
             CASE WHEN dev.dev2 * 2 > 6 * greatest(ma.mad4_e6, 1)
               THEN 1 ELSE 0 END AS out
      FROM dev JOIN mad ma ON dev.dim = ma.dim),
    perdim AS (
      SELECT dim, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(out) AS BIGINT) AS n_outlier_values
      FROM fl GROUP BY dim),
    q AS (
      SELECT CAST(sum(bad) AS BIGINT) AS n_quarantined,
             CAST(count(1) AS BIGINT) AS n_vectors
      FROM (SELECT vec_id, max(out) AS bad FROM fl GROUP BY vec_id))
    SELECT p.dim, p.n, med.med2_e6, mad.mad4_e6, p.n_outlier_values,
           q.n_quarantined, q.n_vectors,
           CAST((q.n_quarantined * 1000000) // q.n_vectors AS BIGINT)
             AS quarantine_ppm
    FROM perdim p
    JOIN med ON p.dim = med.dim
    JOIN mad ON p.dim = mad.dim
    CROSS JOIN q
    ORDER BY p.dim"""

  def kcenterCoresetOracle: String = {
    val d2 = (a: String, b: String) =>
      s"""round(list_sum(list_transform(range(1, len($a) + 1),
               i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
                  * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), 6)"""
    val head = s"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    s1 AS (SELECT 1 AS stp, vec_id, CAST(NULL AS DOUBLE) AS min_d2
           FROM e WHERE vec_id = 0),
    p1 AS (SELECT vec_id FROM s1)"""
    val steps = (2 to 6).map { t =>
      s""",
    m$t AS (
      SELECT a.vec_id, min(${d2("a.embedding", "b.embedding")}) AS min_d2
      FROM e a JOIN e b ON b.vec_id IN (SELECT vec_id FROM p${t - 1})
      WHERE a.vec_id NOT IN (SELECT vec_id FROM p${t - 1})
      GROUP BY a.vec_id),
    s$t AS (SELECT $t AS stp, vec_id, min_d2 FROM m$t
            ORDER BY min_d2 DESC, vec_id LIMIT 1),
    p$t AS (SELECT vec_id FROM p${t - 1} UNION ALL SELECT vec_id FROM s$t)"""
    }.mkString
    val union = (1 to 6)
      .map(t => s"SELECT * FROM s$t").mkString("\n    UNION ALL\n    ")
    head + steps + s""",
    sel AS ($union),
    rad AS (
      SELECT CAST(floor(max(md) * 1e6 + 0.5) AS BIGINT) AS cover_radius_e6
      FROM (
        SELECT a.vec_id, min(${d2("a.embedding", "b.embedding")}) AS md
        FROM e a JOIN e b ON b.vec_id IN (SELECT vec_id FROM p6)
        WHERE a.vec_id NOT IN (SELECT vec_id FROM p6)
        GROUP BY a.vec_id))
    SELECT CAST(sel.stp AS INTEGER) AS step, sel.vec_id,
           CAST(floor(sel.min_d2 * 1e6 + 0.5) AS BIGINT) AS min_d2_e6,
           rad.cover_radius_e6
    FROM sel CROSS JOIN rad ORDER BY step"""
  }

  def mmrRerankOracle: String = {
    val head = """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    rel0 AS (
      SELECT e.vec_id,
             round(list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.qe,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS rel
      FROM embeddings e, q WHERE e.vec_id <> 0),
    cand AS (SELECT * FROM rel0 ORDER BY rel DESC, vec_id LIMIT 16),
    ce AS (SELECT c.vec_id, c.rel, e.embedding
           FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id),
    sims AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
      FROM ce a JOIN ce b ON a.vec_id <> b.vec_id),
    s1 AS (SELECT vec_id, rel, CAST(NULL AS DOUBLE) AS maxsim, rel AS score
           FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
    p1 AS (SELECT vec_id FROM s1)"""
    val steps = (2 to 6).map { t =>
      s""",
    sc$t AS (
      SELECT c.vec_id, c.rel, m.ms AS maxsim, 0.7*c.rel - 0.3*m.ms AS score
      FROM cand c JOIN (
        SELECT ia, max(sim) AS ms FROM sims
        WHERE ib IN (SELECT vec_id FROM p${t - 1}) GROUP BY ia) m
        ON c.vec_id = m.ia
      WHERE c.vec_id NOT IN (SELECT vec_id FROM p${t - 1})),
    s$t AS (SELECT * FROM sc$t ORDER BY score DESC, vec_id LIMIT 1),
    p$t AS (SELECT vec_id FROM p${t - 1} UNION ALL SELECT vec_id FROM s$t)"""
    }.mkString
    val union = (1 to 6)
      .map(t => s"SELECT $t AS stp, * FROM s$t").mkString("\n    UNION ALL\n    ")
    head + steps + s""",
    sel AS ($union)
    SELECT CAST(stp AS INTEGER) AS step, vec_id,
           CAST(floor(rel * 1e6 + 0.5) AS BIGINT) AS rel_e6,
           CAST(floor(maxsim * 1e6 + 0.5) AS BIGINT) AS maxsim_e6,
           CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS score_e6
    FROM sel ORDER BY step"""
  }

  /** q9n: HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION — the fusion
    * step every production RAG/search stack runs (Cormack et al. 2009
    * RRF; the default hybrid combiner in OpenSearch/Elastic/Vespa):
    * a LEXICAL ranking (the q4r BM25 machinery over the `documents`
    * table) and a VECTOR ranking (the q61 brute-cosine machinery over
    * `embeddings`, joined on doc_id = vec_id) each retrieve top-`legK`,
    * and the fused score is Σ 1/(60 + rank) over the legs a document
    * appears in — rank fusion needs NO score calibration between
    * incomparable scales, which is exactly why RRF won.
    *
    * Exactness doctrine: both leg rankings are total orders the engine
    * already grades (BM25 scores are integer-e6 sums; cosine is ranked
    * on its ROUNDED value with vec_id tiebreak — the q61 contract), and
    * the RRF contribution 1e6 div (60+rank) is pure integer division,
    * so the fused ordering replays bit-for-bit.
    *
    * Scale shape: each leg is a distributed top-k
    * (TakeOrderedAndProject) over its corpus-shaped scoring plan; only
    * the two ≤legK-row retrieved lists meet in the fusion join, and the
    * rank windows run over those bounded frames (the q1e rule) — never
    * over the corpus. */
  def hybridRrfTopK(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("spark", "join", "window"),
      queryId: Long = 0L, legK: Int = 50, topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // ---- lexical leg: the q4r BM25 scoring shape, top-legK ----
    val docs = Tables.documents(spark, dir)
    val terms = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
    val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.groupBy().agg(
      sum("dl").as("sum_dl"), count(lit(1)).as("n_docs"))
    val tf = terms.where(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val textTop = tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib_e6",
        floor(col("idf") * (col("tf") * lit(k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
          * 1e6 + 0.5))
      .groupBy("doc_id")
      .agg(sum("contrib_e6").as("score_text_e6"))
      .orderBy(col("score_text_e6").desc, col("doc_id"))
      .limit(legK) // TakeOrderedAndProject — distributed top-k
      .withColumn("text_rank", row_number().over(Window.partitionBy()
        .orderBy(col("score_text_e6").desc, col("doc_id")))) // ≤legK rows
      .select(col("doc_id"), col("text_rank"))
    // ---- vector leg: the q61 brute-cosine shape, top-legK ----
    val emb = Tables.embeddings(spark, dir)
    val query = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q"))
    val vecTop = emb.filter(col("vec_id") =!= queryId)
      .join(broadcast(query))
      .select(col("vec_id").as("doc_id"),
        round(cosineHof(col("embedding"), col("q")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(legK) // TakeOrderedAndProject
      .withColumn("vec_rank", row_number().over(Window.partitionBy()
        .orderBy(col("cosine").desc, col("doc_id")))) // ≤legK rows
      .select(col("doc_id"), col("vec_rank"))
    // ---- fusion: RRF over the two bounded retrieved lists ----
    textTop.join(vecTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf_e6",
        coalesce(expr("1000000 div (60 + text_rank)"), lit(0L))
          + coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L)))
      .orderBy(col("rrf_e6").desc, col("doc_id"))
      .limit(topK)
      .withColumn("rank", row_number().over(Window.partitionBy()
        .orderBy(col("rrf_e6").desc, col("doc_id")))) // topK rows only
      .select(col("rank"), col("doc_id"), col("text_rank"), col("vec_rank"),
        col("rrf_e6"))
      .orderBy("rank")
  }

  def hybridRrfTopKOracle: String = """
    WITH terms AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    dl AS (SELECT doc_id, count(1) AS dl FROM terms GROUP BY doc_id),
    stats AS (SELECT sum(dl) AS sum_dl, count(1) AS n_docs FROM dl),
    tf AS (
      SELECT doc_id, term, count(1) AS tf FROM terms
      WHERE term IN ('spark', 'join', 'window')
      GROUP BY doc_id, term),
    df AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(sum(CAST(floor(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
                   / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS score_text_e6
      FROM tf JOIN df ON tf.term = df.term
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
      GROUP BY tf.doc_id),
    ttop AS (
      SELECT doc_id, CAST(row_number() OVER (
               ORDER BY score_text_e6 DESC, doc_id) AS INTEGER) AS text_rank
      FROM scored
      QUALIFY text_rank <= 50),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id AS doc_id,
             round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qe,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
      FROM embeddings e, q WHERE e.vec_id <> 0),
    vtop AS (
      SELECT doc_id, CAST(row_number() OVER (
               ORDER BY cos DESC, doc_id) AS INTEGER) AS vec_rank
      FROM sims
      QUALIFY vec_rank <= 50),
    fused AS (
      SELECT coalesce(ttop.doc_id, vtop.doc_id) AS doc_id,
             ttop.text_rank, vtop.vec_rank,
             CAST(coalesce(1000000 // (60 + ttop.text_rank), 0)
               + coalesce(1000000 // (60 + vtop.vec_rank), 0) AS BIGINT)
               AS rrf_e6
      FROM ttop FULL OUTER JOIN vtop ON ttop.doc_id = vtop.doc_id),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS rank
      FROM fused)
    SELECT CAST(rank AS INTEGER) AS rank, doc_id, text_rank, vec_rank, rrf_e6
    FROM rk WHERE rank <= 10 ORDER BY rank"""

  /** qax: MULTI-VECTOR LATE-INTERACTION retrieval (ColBERT, Khattab &
    * Zaharia 2020) — every single-vector ANN query in this family
    * (q61–q6o) collapses a document to ONE embedding; late interaction
    * keeps a vector PER TOKEN and scores
    * maxsim(Q, D) = Σ_{q∈Q} max_{t∈D} cos(q, t), which preserves
    * token-level matching that a pooled vector averages away. Documents
    * here are derived by grouping the embeddings table 8 vectors per
    * doc (`vec_id div 8`) — the fixture has no native multi-vector
    * column, and the derivation is part of the graded contract.
    *
    * Scale shape: the query doc's 8 vectors broadcast to every
    * executor; ONE narrow corpus scan computes 8 cosines per token
    * vector (8·N rows, never materialized wide); the max-per-(doc,
    * query-token) aggregate combines map-side down to 8 rows per doc
    * BEFORE the shuffle, and the final Σ runs on |docs|·8 rows. The
    * top-k cut orders by the ROUNDED score with a doc_id tie-break, so
    * the boundary is engine-stable (q61 doctrine). At 100 TB the
    * corpus-side scan dominates and is embarrassingly parallel; the
    * production refinement is IVF-routing the token vectors first (the
    * q63/qap machinery) — composition, not new code. */
  def maxSimTopK(spark: SparkSession, dir: String, k: Int = 10,
      tokensPerDoc: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("doc_id", expr(s"vec_id div $tokensPerDoc"))
    val qv = emb.filter(col("doc_id") === 0)
      .select(col("vec_id").as("q_vec"), col("embedding").as("q_emb"))
    emb.filter(col("doc_id") >= 1)
      .join(broadcast(qv))
      .select(col("doc_id"), col("q_vec"),
        cosineHof(col("embedding"), col("q_emb")).as("cos"))
      .groupBy(col("doc_id"), col("q_vec"))
      .agg(max(col("cos")).as("best"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("best")), 4).as("maxsim"),
        count(lit(1)).as("n_qtok"))
      .orderBy(col("maxsim").desc, col("doc_id"))
      .limit(k)
  }

  def maxSimTopKOracle: String = """
    WITH e AS (
      SELECT vec_id, embedding, vec_id // 8 AS doc_id FROM embeddings),
    q AS (
      SELECT vec_id AS q_vec, embedding AS q_emb FROM e WHERE doc_id = 0),
    cos AS (
      SELECT e.doc_id, q.q_vec,
             list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.q_emb,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
      FROM e CROSS JOIN q WHERE e.doc_id >= 1),
    m AS (SELECT doc_id, q_vec, max(c) AS best FROM cos GROUP BY 1, 2),
    s AS (
      SELECT doc_id, round(sum(best), 4) AS maxsim,
             CAST(count(1) AS BIGINT) AS n_qtok
      FROM m GROUP BY 1)
    SELECT doc_id, maxsim, n_qtok FROM s
    ORDER BY maxsim DESC, doc_id LIMIT 10"""

  /** qb0: JOHNSON–LINDENSTRAUSS RANDOM-PROJECTION AUDIT — the
    * dimensionality-reduction step a 100 TB embedding corpus takes
    * before ANN indexing when 64 dims is still too wide: project to
    * k = 32 with a ±1 matrix (Achlioptas 2003 — database-friendly JL:
    * sign entries, no gaussians) and MEASURE the distortion the lemma
    * promises instead of citing it. Sibling of q6e (PCA, data-adaptive)
    * — JL is data-OBLIVIOUS, so the projection needs no training pass
    * and composes with streaming ingest.
    *
    * The sign matrix is pure arithmetic: entry (i, j) is the POPCOUNT
    * PARITY of (i·k + j + 1)·2654435761 mod 2³¹ — measured here because
    * the obvious LCG-parity choice is linearly structured enough to
    * break concentration on this corpus (observed 0.13–2.9× ratios vs
    * 0.49–1.8× with popcount parity; the bit_count form is the one that
    * actually behaves like JL). `bit_count` is a native function in
    * both engines; products stay < 2⁶³ (ids are ≤ 64·k).
    *
    * Scale shape: projection is one narrow codegen'd HOF per row — no
    * shuffle, no training, no broadcast beyond the 40-vector probe set
    * this audit grades (distortion is measured on a FIXED bounded pair
    * set; production projects the full corpus with the same
    * expression). Ratios are floored to e6; `jl_ok` asserts every
    * pair-distance and norm ratio stays inside [0.35, 2.2] — wide
    * enough for fixture churn, tight enough that a broken sign matrix
    * (the LCG version) fails it. */
  def jlProjectionAudit(spark: SparkSession, dir: String, k: Int = 32,
      nPairs: Int = 20): DataFrame = {
    val sign =
      s"(1 - 2 * (bit_count((i * $k + j + 1) * 2654435761 % 2147483648) % 2))"
    val projExpr = s"transform(sequence(0, ${k - 1}), j -> " +
      "aggregate(sequence(0, 63), cast(0.0 as double), (acc, i) -> " +
      s"acc + cast(element_at(embedding, i + 1) as double) * $sign))"
    val base = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < nPairs * 2)
      .select(col("vec_id"), col("embedding"),
        expr(projExpr).as("proj"),
        expr("aggregate(embedding, cast(0.0 as double), (acc, x) -> " +
          "acc + cast(x as double) * cast(x as double))").as("n2"))
    val a = base.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("proj").as("a_proj"), col("n2").as("a_n2"))
    val b = base.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("proj").as("b_proj"), col("n2").as("b_n2"))
    val sq = "(acc, x) -> acc + x"
    val rows = spark.range(nPairs).select(col("id").as("t"))
      .join(broadcast(a), col("a_id") === col("t") * 2)
      .join(broadcast(b), col("b_id") === col("t") * 2 + 1)
      .withColumn("d2o", expr("aggregate(zip_with(a_emb, b_emb, (x, y) -> " +
        "(cast(x as double) - cast(y as double)) * " +
        s"(cast(x as double) - cast(y as double))), cast(0.0 as double), $sq)"))
      .withColumn("d2p", expr("aggregate(zip_with(a_proj, b_proj, " +
        s"(x, y) -> (x - y) * (x - y)), cast(0.0 as double), $sq) / $k"))
      .select(col("t").cast("int").as("t"), col("a_id"), col("b_id"),
        floor(col("d2p") / col("d2o") * 1e6).cast("long")
          .as("pair_ratio_e6"),
        floor(expr("aggregate(a_proj, cast(0.0 as double), " +
          s"(acc, x) -> acc + x * x) / $k")
          / col("a_n2") * 1e6).cast("long").as("norm_a_e6"),
        floor(expr("aggregate(b_proj, cast(0.0 as double), " +
          s"(acc, x) -> acc + x * x) / $k")
          / col("b_n2") * 1e6).cast("long").as("norm_b_e6"))
    val audit = rows.agg((
      least(min("pair_ratio_e6"), min("norm_a_e6"), min("norm_b_e6"))
        >= 350000L &&
      greatest(max("pair_ratio_e6"), max("norm_a_e6"), max("norm_b_e6"))
        <= 2200000L).as("jl_ok"))
    rows.crossJoin(broadcast(audit)).orderBy("t")
  }

  def jlProjectionAuditOracle: String = """
    WITH e AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 40),
    p AS (
      SELECT vec_id, embedding,
             list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2,
             list_transform(range(0, 32), j ->
               list_sum(list_transform(range(0, 64), i ->
                 CAST(embedding[i + 1] AS DOUBLE) *
                 (1 - 2 * (bit_count((i * 32 + j + 1) * 2654435761
                    % 2147483648) % 2))))) AS proj
      FROM e),
    pairs AS (SELECT unnest(range(0, 20)) AS t),
    j AS (
      SELECT t, a.vec_id AS a_id, b.vec_id AS b_id,
             list_sum(list_transform(range(1, 65), i ->
               (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
               * (CAST(a.embedding[i] AS DOUBLE)
                  - CAST(b.embedding[i] AS DOUBLE)))) AS d2o,
             list_sum(list_transform(range(1, 33), i ->
               (a.proj[i] - b.proj[i]) * (a.proj[i] - b.proj[i]))) / 32 AS d2p,
             list_sum(list_transform(a.proj, x -> x * x)) / 32 / a.n2 AS ra,
             list_sum(list_transform(b.proj, x -> x * x)) / 32 / b.n2 AS rb
      FROM pairs, p a, p b WHERE a.vec_id = 2 * t AND b.vec_id = 2 * t + 1),
    r AS (
      SELECT CAST(t AS INTEGER) AS t, a_id, b_id,
             CAST(floor(d2p / d2o * 1e6) AS BIGINT) AS pair_ratio_e6,
             CAST(floor(ra * 1e6) AS BIGINT) AS norm_a_e6,
             CAST(floor(rb * 1e6) AS BIGINT) AS norm_b_e6
      FROM j),
    audit AS (
      SELECT least(min(pair_ratio_e6), min(norm_a_e6), min(norm_b_e6))
               >= 350000
             AND greatest(max(pair_ratio_e6), max(norm_a_e6),
               max(norm_b_e6)) <= 2200000 AS jl_ok
      FROM r)
    SELECT r.*, audit.jl_ok FROM r CROSS JOIN audit ORDER BY t"""
}
