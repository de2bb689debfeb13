package graft.operators

import graft.Tables
import graft.functions.VectorFunctions
import graft.ml.ModelStore
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** qap: PERSISTED ANN INDEX — build-once / load-and-query for the q63
  * IVF machinery, the vector-index analog of qaj's model persistence:
  * a production similarity service builds the index in a batch job
  * (coarse quantizer fit + full assignment pass), persists it, and
  * every query path LOADS it — refitting per query is exactly the cost
  * qa9 used to pay for ALS. The store (a [[graft.Fs.materialized]]
  * store, like ModelStore's) holds the two halves a real IVF index
  * ships:
  *
  *   <store>/quantizer/  the seeded KMeans coarse quantizer (MLWriter)
  *   <store>/lists/      the inverted lists — (vec_id, label,
  *                       embedding, cent_id) parquet PARTITIONED BY
  *                       cent_id, so a probe reads only its lists'
  *                       directories (partition pruning IS the index)
  *   <store>/meta.json   save-time checksums: assignment identity
  *                       (bit_xor of xxhash64(vec_id, cent_id)) +
  *                       center-coordinate hash
  *
  * The graded row queries the LOADED index and folds the facts
  * persistence must preserve: index completeness (list row count =
  * corpus count, replayed by the oracle), quantizer shape, write
  * fidelity (loaded checksums = save-time checksums), the q63 recall
  * contract at nProbe=2, the pruning fact (probed candidates < corpus),
  * and the qa9 THEOREM column — probing ALL lists is exhaustive: the
  * loaded assignment partitions the corpus, so all-list probing IS
  * brute force and its recall@k is exactly k; any other value means the
  * persisted lists lost or duplicated vectors. */
object AnnIndex {

  val NLists = 4
  val Seed = 823L

  /** Assignment-identity checksum: order-independent, exact under the
    * parquet round-trip (longs + ints only). */
  private def assignChecksum(lists: DataFrame): Long =
    Option(lists.agg(expr("bit_xor(xxhash64(vec_id, cent_id))"))
      .head().getAs[java.lang.Long](0)).map(_.longValue).getOrElse(0L)

  /** Ensure the fingerprint-keyed index exists (fit + assign + save on
    * miss), return its path. */
  def ensure(spark: SparkSession, dir: String): String =
    graft.Fs.materialized("ann_ivf", 1, dir,
        Seq("embeddings.parquet"), Seq(NLists, Seed)) { tmp =>
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), col("embedding"),
          array_to_vector(col("embedding").cast("array<double>"))
            .as("features"))
      val model = new KMeans()
        .setK(NLists).setSeed(Seed).setMaxIter(10)
        .setFeaturesCol("features").setPredictionCol("cent_id")
        .fit(emb)
      val assigned = model.transform(emb)
        .select(col("vec_id"), col("label"), col("embedding"),
          col("cent_id"))
      model.write.save(s"$tmp/quantizer")
      assigned.write.partitionBy("cent_id").parquet(s"$tmp/lists")
      ModelStore.writeChecksums(s"$tmp/meta.json", Seq(
        "assign" -> assignChecksum(assigned),
        "centers" -> ModelStore.centersChecksum(model)))
    }

  private def storedChecksums(store: String): Map[String, Long] =
    ModelStore.readChecksums(s"$store/meta.json")

  /** The graded query: multi-probe top-k served entirely from the
    * LOADED index, folded with the persistence + recall contract. */
  def persistedIvfTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10, nProbe: Int = 2,
      minRecall: Double = 0.3): DataFrame = {
    val store = ensure(spark, dir)
    val model = KMeansModel.load(s"$store/quantizer")
    val lists = spark.read.parquet(s"$store/lists").cache()
    val nIndexed = lists.count()
    val stored = storedChecksums(store)
    val roundtripOk = assignChecksum(lists) == stored("assign") &&
      ModelStore.centersChecksum(model) == stored("centers")
    // probe-list selection by the quantizer's own metric (squared L2)
    // against driver-resident model state — the q63 shape; the query
    // row itself is a bounded 1-row probe
    val qVec = lists.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0)
      .map(_.toDouble).toArray
    def sqDist(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - qVec(i); s += d * d; i += 1 }
      s
    }
    val ranked = model.clusterCenters.zipWithIndex
      .map { case (c, i) => i -> sqDist(c.toArray) }
      .sortBy { case (i, d) => (d, i) }.map(_._1).toIndexedSeq
    val query = lists.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q"))
    def probeTopK(lids: Seq[Int]): DataFrame = lists
      .filter(col("vec_id") =!= queryId &&
        col("cent_id").isin(lids.map(_.toLong): _*))
      .join(broadcast(query))
      .select(col("vec_id"),
        VectorFunctions.cosineHof(col("embedding"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
    val exact = Similarity.bruteForceTopK(spark, dir, queryId, k)
      .select(col("vec_id")).cache()
    def overlap(approx: DataFrame): Long =
      approx.select(col("vec_id")).join(exact, Seq("vec_id"))
        .count()
    val hitsProbe = overlap(probeTopK(ranked.take(nProbe)))
    val hitsAll = overlap(probeTopK(ranked))
    val nCand = lists
      .filter(col("cent_id").isin(ranked.take(nProbe).map(_.toLong): _*))
      .count()
    import spark.implicits._
    Seq((k.toLong, nIndexed, NLists, roundtripOk, hitsAll,
        hitsProbe >= math.ceil(k * minRecall).toLong, nCand < nIndexed))
      .toDF("k", "n_indexed", "n_lists", "index_roundtrip_exact",
        "recall_exhaustive", "recall_ok", "probed_set_pruned")
  }

  def persistedIvfTopKOracle: String = """
    WITH t AS (SELECT CAST(count(1) AS BIGINT) AS n FROM embeddings)
    SELECT CAST(10 AS BIGINT) AS k,
           t.n AS n_indexed,
           CAST(4 AS INTEGER) AS n_lists,
           true AS index_roundtrip_exact,
           CAST(10 AS BIGINT) AS recall_exhaustive,
           true AS recall_ok,
           true AS probed_set_pruned
    FROM t"""

  /** qar: INCREMENTAL INDEX UPDATE — new vectors join the persisted
    * index WITHOUT a rebuild, the LSM shape every production vector
    * store lands on (immutable base segment + delta segments, merged
    * offline): the incoming batch is assigned by the LOADED quantizer
    * (no refit — the centers checksum proves it), written to a DELTA
    * segment in scratch space, and the serving view is base ∪ delta.
    * The base store is never mutated (its assignment checksum still
    * matches the save-time meta — also what keeps qap's graded row
    * stable across rounds).
    *
    * The batch is the q56 twin construction: the first `nNew` base
    * vectors scaled by 2.0f with ids offset by 1e6 — power-of-two
    * scaling is exact in IEEE floats, so cosine(x, 2x) evaluates to 1.0
    * within one ulp in any engine (the sqrt(nx)*sqrt(ny) denominator
    * rounds sqrt(S)^2 once; the fixture's non-twin ceiling is ~0.46, so
    * the argmax is unambiguous), and the graded `twin_is_top1` fact
    * (the nearest neighbor of base vector 0 across the UPDATED view is
    * its planted twin at cosine 1.0 ± 1e-12) proves fresh vectors are
    * genuinely queryable through the view, deterministically. Counts
    * replay from the base table; all booleans are exact facts. */
  def incrementalUpdate(spark: SparkSession, dir: String,
      nNew: Int = 16, idOffset: Long = 1000000L): DataFrame = {
    val store = ensure(spark, dir)
    val model = KMeansModel.load(s"$store/quantizer")
    val stored = storedChecksums(store)
    val base = spark.read.parquet(s"$store/lists")
    val batch = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < nNew)
      .select((col("vec_id") + idOffset).as("vec_id"), col("label"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      .withColumn("features",
        array_to_vector(col("embedding").cast("array<double>")))
    val delta = model.transform(batch)
      .withColumnRenamed(model.getPredictionCol, "cent_id")
      .select(col("vec_id"), col("label"), col("embedding"), col("cent_id"))
    val deltaDir = graft.Fs.scratch("graft_ann_delta")
    graft.Fs.deleteRecursively(deltaDir)
    delta.write.partitionBy("cent_id").parquet(deltaDir)
    val view = base.unionByName(spark.read.parquet(deltaDir)).cache()
    val nBase = base.count(); val nView = view.count()
    // no-rebuild + base-immutability facts: both halves of the store
    // still match their save-time checksums AFTER the update
    val quantizerUnchanged =
      ModelStore.centersChecksum(model) == stored("centers")
    val baseUnchanged = assignChecksum(base) == stored("assign")
    val maxBaseId = base.agg(max("vec_id")).head().getLong(0)
    val minDeltaId = spark.read.parquet(deltaDir)
      .agg(min("vec_id")).head().getLong(0)
    val query = view.filter(col("vec_id") === 0L)
      .select(col("embedding").as("q"))
    val top1 = view.filter(col("vec_id") =!= 0L)
      .join(broadcast(query))
      .select(col("vec_id"),
        VectorFunctions.cosineHof(col("embedding"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(1).head()
    import spark.implicits._
    Seq((nBase, nNew.toLong, nView, quantizerUnchanged, baseUnchanged,
        minDeltaId > maxBaseId,
        top1.getLong(0) == idOffset &&
          math.abs(top1.getDouble(1) - 1.0) < 1e-12))
      .toDF("n_base", "n_delta", "n_view", "quantizer_unchanged",
        "base_unchanged", "delta_ids_disjoint", "twin_is_top1")
  }

  def incrementalUpdateOracle: String = """
    WITH t AS (SELECT CAST(count(1) AS BIGINT) AS n FROM embeddings)
    SELECT t.n AS n_base,
           CAST(16 AS BIGINT) AS n_delta,
           t.n + 16 AS n_view,
           true AS quantizer_unchanged,
           true AS base_unchanged,
           true AS delta_ids_disjoint,
           true AS twin_is_top1
    FROM t"""

  /** qcz: OFFLINE COMPACTION of the LSM index — the merge qar's
    * scaladoc promises ("delta segments, merged offline") made real
    * and graded: base segment ∪ delta segment are rewritten into a
    * NEW fingerprint-keyed store (base is immutable; compaction mints
    * a generation, it never mutates), the quantizer is carried over
    * unchanged, and the serving path loads the COMPACTED artifact —
    * across JVMs, since the store key is input identity + params, the
    * daily-pipeline reality where today's serving job reads an index
    * a prior job compacted.
    *
    * Fidelity is an algebraic identity, not an assertion: the
    * assignment checksum is a bit_xor over (vec_id, cent_id) rows, so
    * for DISJOINT segments checksum(base ∪ delta) = checksum(base) ⊕
    * checksum(delta). The graded `compaction_checksum_exact` compares
    * the checksum RECOMPUTED FROM THE LOADED COMPACTED LISTS against
    * the ⊕ of the base store's SAVE-TIME meta and the delta frame —
    * one lost, duplicated, or re-assigned vector anywhere in the
    * build→persist→compact→load chain breaks the equality. The twin
    * query (cosine 1.0 by IEEE power-of-two scaling, the q56/qar
    * construction) then proves the compacted generation actually
    * serves. */
  def compactedIndex(spark: SparkSession, dir: String,
      nNew: Int = 16, idOffset: Long = 1000000L): DataFrame = {
    val baseStore = ensure(spark, dir)
    val baseMeta = storedChecksums(baseStore)
    val model = KMeansModel.load(s"$baseStore/quantizer")
    def mkDelta(): DataFrame = {
      val batch = Tables.embeddings(spark, dir)
        .filter(col("vec_id") < nNew)
        .select((col("vec_id") + idOffset).as("vec_id"), col("label"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        .withColumn("features",
          array_to_vector(col("embedding").cast("array<double>")))
      model.transform(batch)
        .withColumnRenamed(model.getPredictionCol, "cent_id")
        .select(col("vec_id"), col("label"), col("embedding"),
          col("cent_id"))
    }
    val store = graft.Fs.materialized("ann_ivf_compact", 1, dir,
        Seq("embeddings.parquet"), Seq(NLists, Seed, nNew, idOffset)) { tmp =>
      spark.read.parquet(s"$baseStore/lists").unionByName(mkDelta())
        .repartition(col("cent_id"))
        .write.partitionBy("cent_id").parquet(s"$tmp/lists")
      model.write.save(s"$tmp/quantizer")
      // save-time checksum measured from the WRITTEN files (the qaj
      // write-fidelity doctrine: record what is on disk, not what was
      // in memory)
      ModelStore.writeChecksums(s"$tmp/meta.json", Seq(
        "assign" -> assignChecksum(spark.read.parquet(s"$tmp/lists")),
        "centers" -> ModelStore.centersChecksum(model)))
    }
    // serve strictly from the LOADED compacted generation
    val loadedModel = KMeansModel.load(s"$store/quantizer")
    val loaded = spark.read.parquet(s"$store/lists").cache()
    val meta = storedChecksums(store)
    val loadedChecksum = assignChecksum(loaded)
    val expected = baseMeta("assign") ^ assignChecksum(mkDelta())
    val nCompacted = loaded.count()
    val query = loaded.filter(col("vec_id") === 0L)
      .select(col("embedding").as("q"))
    val top1 = loaded.filter(col("vec_id") =!= 0L)
      .join(broadcast(query))
      .select(col("vec_id"),
        VectorFunctions.cosineHof(col("embedding"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(1).head()
    import spark.implicits._
    Seq((nCompacted - nNew, nNew.toLong, nCompacted,
        loadedChecksum == expected && loadedChecksum == meta("assign"),
        ModelStore.centersChecksum(loadedModel) ==
          baseMeta("centers"),
        top1.getLong(0) == idOffset &&
          math.abs(top1.getDouble(1) - 1.0) < 1e-12))
      .toDF("n_base", "n_delta", "n_compacted",
        "compaction_checksum_exact", "quantizer_unchanged", "twin_is_top1")
  }

  def compactedIndexOracle: String = """
    WITH t AS (SELECT CAST(count(1) AS BIGINT) AS n FROM embeddings)
    SELECT t.n AS n_base,
           CAST(16 AS BIGINT) AS n_delta,
           t.n + 16 AS n_compacted,
           true AS compaction_checksum_exact,
           true AS quantizer_unchanged,
           true AS twin_is_top1
    FROM t"""
}
