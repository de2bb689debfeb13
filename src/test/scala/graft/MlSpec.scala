package graft

import graft.eval.Metrics
import graft.ml.{Clustering, Recommend}
import org.apache.spark.sql.functions._

/** ML semantics the DuckDB oracle can't check (SURVEY §5.2 "Golden ML
  * tests"): cold-start drop, k-selection argmin, RMSE parity, CV
  * introspection shape. Runs on tiny synthetic frames for speed. */
class MlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ratings = Seq(
    (1, 10, 5.0f), (1, 11, 3.0f), (1, 12, 4.0f),
    (2, 10, 4.0f), (2, 11, 2.0f), (2, 13, 5.0f),
    (3, 12, 1.0f), (3, 13, 2.0f), (3, 10, 3.0f),
    (4, 11, 4.0f), (4, 12, 5.0f), (4, 13, 3.0f)
  ).toDF("userId", "movieId", "rating")

  test("RMSE SQL form matches RegressionEvaluator (R-19)") {
    val preds = Seq((5.0, 4.0), (3.0, 3.5), (4.0, 4.5))
      .toDF("rating", "prediction")
    val a = Metrics.rmse(preds)
    val b = Metrics.rmseEvaluator(preds)
    assert(math.abs(a - b) < 1e-12)
    assert(a >= 0.0)
  }

  test("ALS cold-start 'drop' removes exactly the unseen-key rows (R-25)") {
    val model = Recommend.fitAls(ratings, rank = 4, maxIter = 5)
    val eval = ratings.union(
      Seq((99, 10, 3.0f), (1, 99, 3.0f)).toDF("userId", "movieId", "rating"))
    val preds = model.transform(eval)
    assert(preds.count() == ratings.count()) // the 2 unseen-key rows dropped
    assert(preds.filter(col("userId") === 99 || col("movieId") === 99).count() == 0)
    assert(preds.filter(col("prediction").isNaN).count() == 0)
  }

  test("cluster-average predictor = per-(user,cluster) train mean (R-14..R-17)") {
    val clusters = Seq((10, 0), (11, 0), (12, 1), (13, 1)).toDF("movieId", "cluster")
    val preds = Clustering.clusterAvgPredictions(ratings, ratings, clusters)
    // user 1 in cluster 0 rated 10→5, 11→3: prediction must be 4.0
    val p = preds.filter(col("userId") === 1 && col("cluster") === 0)
      .select("prediction").distinct().collect()
    assert(p.length == 1 && math.abs(p.head.getDouble(0) - 4.0) < 1e-12)
  }

  // well-separated 1-D clusters: SSE collapses at the true k
  private lazy val feats = (0 until 30).map { i =>
    val c = i % 3
    (i, org.apache.spark.ml.linalg.Vectors.dense(c * 10.0 + (i % 5) * 0.1))
  }.toDF("movieId", "features")
  private lazy val train =
    (0 until 30).map(i => (i % 4, i, 3.0f)).toDF("userId", "movieId", "rating")

  test("selectK flags the most-negative SSE drop as best (R-22/R-23)") {
    val sel = Clustering.selectK(spark, feats, train, ks = 2 to 5)
    val rows = sel.collect()
    assert(rows.map(_.getAs[Int]("k")).toSeq == Seq(2, 3, 4, 5))
    val bestRows = rows.filter(_.getAs[Boolean]("best"))
    assert(bestRows.nonEmpty)
    val minDiff = rows.map(_.getAs[Double]("sse_diff")).min
    assert(bestRows.forall(_.getAs[Double]("sse_diff") == minDiff))
    // first row's diff is 0 by definition
    assert(rows.find(_.getAs[Int]("k") == 2).get.getAs[Double]("sse_diff") == 0.0)
  }

  private def relClose(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.abs(b)

  // movies 0..59 over 6 distinct 0/1 vectors with uneven counts (one of
  // 49: 49 · (1/49) != 1 in doubles, a center-rounding trap)
  private lazy val repeatedVecs = {
    val distinct = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(1.0, 1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0, 0.0),
      Seq(0.0, 0.0, 1.0, 1.0), Seq(0.0, 0.0, 0.0, 1.0), Seq(1.0, 0.0, 1.0, 1.0))
    val counts = Seq(49, 3, 2, 1, 4, 1)
    distinct.zip(counts).flatMap { case (v, c) => Seq.fill(c)(v) }
      .zipWithIndex.map { case (v, i) =>
        (i, org.apache.spark.ml.linalg.Vectors.dense(v.toArray))
      }.toDF("movieId", "features")
  }

  test("weighted driver-side fit: trainingCost is the per-row SSE; " +
      "SSE is 0.0 exactly when k reaches the distinct-vector count") {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val nDistinct = 6
    (2 to nDistinct + 1).foreach { k =>
      val model = Clustering.fit(repeatedVecs, k)
      val centers = model.clusterCenters
      val perRow = model.transform(repeatedVecs).select("features", "prediction")
        .collect().map(r => Vectors.sqdist(r.getAs[Vector](0), centers(r.getInt(1))))
        .sum
      val sse = model.summary.trainingCost
      assert(relClose(sse, perRow), s"k=$k: trainingCost $sse vs per-row $perRow")
      if (k >= nDistinct) assert(sse == 0.0, s"k=$k: SSE $sse must be exactly 0")
      else assert(sse > 0.0, s"k=$k: SSE must be positive below $nDistinct")
      assert(model.getK == k)
    }
  }

  test("selectK's one-pass train RMSE equals the cluster-average predictor's") {
    def check(movies: org.apache.spark.sql.DataFrame,
        rated: org.apache.spark.sql.DataFrame, ks: Seq[Int]): Unit = {
      val sel = Clustering.selectK(spark, movies, rated, ks = ks).collect()
      assert(sel.map(_.getAs[Int]("k")).toSeq == ks)
      sel.foreach { row =>
        val k = row.getAs[Int]("k")
        val clusters = Clustering.fit(movies, k).transform(movies)
          .select(col("movieId"), col("prediction").as("cluster"))
        val old = Metrics.rmse(Clustering.clusterAvgPredictions(rated, rated, clusters))
        val got = row.getAs[Double]("trainRmse")
        assert(relClose(got, old), s"k=$k: one-pass $got vs rejoined $old")
      }
    }
    // the MlSpec ratings over movies 10..13 (3 distinct vectors)
    val fourMovies = Seq((10, Seq(1.0, 0.0)), (11, Seq(0.0, 1.0)),
      (12, Seq(1.0, 1.0)), (13, Seq(1.0, 0.0)))
      .map { case (m, v) => (m, org.apache.spark.ml.linalg.Vectors.dense(v.toArray)) }
      .toDF("movieId", "features")
    check(fourMovies, ratings, 2 to 4)
    // half-star ratings (3.5, 4.5, ...) over the repeated-vector movies
    val halfStars = for (u <- 1 to 12; m <- 0 until 60 if (u * 7 + m * 3) % 4 != 0)
      yield (u, m, 1.0f + ((u * 31 + m * 17) % 9) * 0.5f)
    check(repeatedVecs, halfStars.toDF("userId", "movieId", "rating"), 2 to 7)
  }

  test("job budget: selectK(2 to 10) + fit(bestK) runs at most 10 Spark jobs") {
    val jobs = jobsOf {
      val k = Clustering.bestK(Clustering.selectK(spark, feats, train, ks = 2 to 10))
      Clustering.fit(feats, k)
    }
    info(s"$jobs Spark jobs")
    assert(jobs <= 10, s"$jobs Spark jobs, budget 10")
  }

  test("typed SSE Aggregator matches the codegen squared_l2 sum (R-18)") {
    import graft.functions.{SseAggregator, VectorFunctions}
    val data = Seq(
      (Seq(1.0, 2.0), Seq(0.0, 0.0)),
      (Seq(3.0, 4.0), Seq(3.0, 3.0)),
      (Seq(-1.0, 0.5), Seq(1.0, 0.5))
    ).toDF("point", "center")
    val typed = data.as[(Seq[Double], Seq[Double])]
      .select(SseAggregator.toColumn).head()
    val expr = data.agg(
      sum(VectorFunctions.squaredL2(col("point"), col("center")))).head().getDouble(0)
    assert(math.abs(typed - expr) < 1e-12)
    assert(math.abs(typed - (5.0 + 1.0 + 4.0)) < 1e-12)
  }

  test("cvResults exposes the full grid with finite avg metrics (R-28)") {
    val cv = Recommend.gridSearchCV(ratings,
      ranks = Seq(2, 4), maxIters = Seq(3), regParams = Seq(0.1),
      numFolds = 2, parallelism = 2)
    val res = Recommend.cvResults(spark, cv).collect()
    assert(res.length == 2) // 2×1×1 grid
    assert(res.forall(r => r.getAs[Double]("avg_rmse") > 0))
    assert(res.map(_.getAs[Int]("rank")).toSet == Set(2, 4))
  }

  test("gridSearchCV equals CrossValidator at the rule's block count: same grid points and avgMetrics") {
    import org.apache.spark.ml.evaluation.RegressionEvaluator
    import org.apache.spark.ml.recommendation.ALS
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val (ranks, iters, regs) = (Seq(2, 4), Seq(3, 5), Seq(0.05, 0.1))
    val ours = Recommend.gridSearchCV(ratings, ranks, iters, regs,
      numFolds = 2, parallelism = 2)
    val blocks = Recommend.foldBlocks(ratings.count() / 2)
    val als = new ALS().setUserCol("userId").setItemCol("movieId").setRatingCol("rating")
      .setNumUserBlocks(blocks).setNumItemBlocks(blocks)
      .setSeed(823).setImplicitPrefs(false).setColdStartStrategy("drop")
    val grid = new ParamGridBuilder().addGrid(als.rank, ranks)
      .addGrid(als.maxIter, iters).addGrid(als.regParam, regs).build()
    val twin = SessionConf.withShufflePartitions(spark, 16) {
      new CrossValidator().setEstimator(als).setEstimatorParamMaps(grid)
        .setEvaluator(new RegressionEvaluator().setMetricName("rmse")
          .setLabelCol("rating").setPredictionCol("prediction"))
        .setNumFolds(2).setParallelism(2).setSeed(823).fit(ratings)
    }
    // ParamGridBuilder orders points by the Params' hash codes, which
    // carry the estimator's random uid, so the two grids are matched by
    // their (name -> value) maps
    def byPoint(pms: Array[org.apache.spark.ml.param.ParamMap], ms: Array[Double]) =
      pms.map(_.toSeq.map(p => p.param.name -> p.value).toMap).zip(ms).toMap
    val a = byPoint(ours.getEstimatorParamMaps, ours.avgMetrics)
    val b = byPoint(twin.getEstimatorParamMaps, twin.avgMetrics)
    assert(a.size == 8 && a.keySet == b.keySet)
    a.foreach { case (pt, m) =>
      assert(!m.isNaN && math.abs(m - b(pt)) <= 1e-12, s"$pt: $m vs CrossValidator's ${b(pt)}")
    }
  }

  test("fold block count: ceil(fold size / RatingsPerBlock) clamped to 1..8") {
    assert(Recommend.foldBlocks(0L) == 1)
    assert(Recommend.foldBlocks(100000L) == 1)
    assert(Recommend.foldBlocks(100001L) == 2)
    assert(Recommend.foldBlocks(466730L) == 5) // the reference shape's fold fit
    assert(Recommend.foldBlocks(700001L) == 8)
    assert(Recommend.foldBlocks(10000000L) == 8)
  }

  test("job budget: a 2-point, 2-fold gridSearchCV runs no refit") {
    val jobs = jobsOf {
      Recommend.gridSearchCV(ratings, ranks = Seq(2, 4), maxIters = Seq(3),
        regParams = Seq(0.1), numFolds = 2, parallelism = 2)
    }
    // measured 50–51 jobs (the count moves by one from run to run, as
    // it does with CrossValidator's refit, which measured 55–56)
    info(s"$jobs Spark jobs")
    assert(jobs <= 52, s"$jobs Spark jobs, budget 52")
  }

  test("qualityClassifier: label counts replay exactly and the AUC contract holds (q4w)") {
    val row = graft.ml.QualityFilter.qualityClassifier(spark, sfDir).head()
    // driver-side integer replay of the weak label over the fixture
    val docs = graft.Tables.documents(spark, sfDir)
      .select("text").as[String].collect()
    val expectedPos = docs.count { t =>
      val toks = t.split(" ", -1)
      toks.distinct.length * 2 >= toks.length
    }
    assert(row.getAs[Long]("n_docs") == docs.length)
    assert(row.getAs[Long]("n_pos") == expectedPos)
    // nontrivial split — AUC is meaningless on a one-class corpus
    assert(row.getAs[Long]("n_pos") > 0 && row.getAs[Long]("n_pos") < docs.length)
    assert(row.getAs[Boolean]("auc_ge_090"))
    assert(row.getAs[Boolean]("weights_finite"))
  }

  test("qa9 als serving: exhaustive IVF probing is exactly brute force; " +
      "the index genuinely prunes; contract columns are driver-replayable") {
    val rows = graft.ml.Serving.alsServing(spark, sfDir).collect()
    assert(rows.length == 8)
    // deterministic columns replay from the Lehmer gate
    val m = 2147483647L
    val train = graft.ml.FixturePipelines.ratingsKeyed(spark, sfDir)
      .select("rid", "userId", "movieId").collect()
      .filter { r =>
        ((((r.getLong(0) % m) * 48271L % m) * 48271L % m)).toDouble / m < 0.7
      }
    val probeUsers = train.map(_.getInt(1)).distinct.sorted.take(8)
    assert(rows.map(_.getAs[Int]("userId")).toSeq == probeUsers.toSeq)
    val nItems = train.map(_.getInt(2)).distinct.length.toLong
    rows.foreach { r =>
      assert(r.getAs[Long]("n_train_items") == nItems)
      assert(r.getAs[Long]("k") == 10L)
      // the theorem column: all-list probing IS brute force
      assert(r.getAs[Long]("recall_exhaustive") == 10L,
        "exhaustive probe must recover the exact top-k bit-for-bit")
      assert(r.getAs[Boolean]("probed_set_pruned"),
        "nProbe < nLists must scan strictly fewer than all items")
      assert(r.getAs[Boolean]("probe_recall_ok"),
        "documented recall floor (2/10, measured min 4/10) violated")
    }
  }

  test("qaj model persistence: MLWriter.save/load round-trips ALS factors " +
      "bit-exactly; the ModelStore is idempotent and serves loaded models") {
    // write fidelity on a controlled tiny fit: fitted == loaded, row
    // for row — the ground truth behind qaj's checksum contract
    val als = Recommend.fitAls(ratings, rank = 4, maxIter = 3)
    val dir = graft.Fs.scratch("graft_mlspec_models") +
      "/als_" + java.util.UUID.randomUUID.toString.take(8)
    als.write.save(dir)
    val loaded = org.apache.spark.ml.recommendation.ALSModel.load(dir)
    assert(loaded.rank == als.rank, "persisted rank must round-trip")
    def factorRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    assert(factorRows(loaded.userFactors) == factorRows(als.userFactors),
      "loaded user factors must equal fitted ones bit-for-bit")
    assert(factorRows(loaded.itemFactors) == factorRows(als.itemFactors),
      "loaded item factors must equal fitted ones bit-for-bit")
    // the checksum qaj grades is invariant under that round-trip
    assert(graft.ml.ModelStore.factorChecksum(loaded.userFactors) ==
      graft.ml.ModelStore.factorChecksum(als.userFactors))
    // fixture store: same path on re-ensure (no refit), graded row shape
    val store = graft.ml.ModelStore.ensure(spark, sfDir)
    assert(store == graft.ml.ModelStore.ensure(spark, sfDir))
    val out = graft.ml.Serving.persistedServing(spark, sfDir).collect()
    assert(out.length == 8)
    out.foreach { r =>
      assert(r.getAs[Boolean]("als_roundtrip_exact"),
        "loaded ALS factors diverged from the save-time checksum")
      assert(r.getAs[Boolean]("kmeans_roundtrip_exact"),
        "loaded KMeans centers diverged from the save-time checksum")
      assert(r.getAs[Long]("n_recs") == 10L)
      assert(r.getAs[Int]("rank_loaded") == 10)
    }
  }

  test("qbm CART: planted single-feature concept recovers the exact threshold with pure leaves; fixture tree beats baseline") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // planted: disc = tax = 0, noise = 0 (orderkey ≡ 0 mod 17), so
    // y = (2·qty > 71) = qty ≥ 36 — the unique optimal root is qty@35
    // and a depth-2 tree separates perfectly
    val planted = (1 to 50).flatMap(q => Seq.fill(4)(q)).toDF("q")
      .select(col("q").cast("double").as("l_quantity"),
        lit(0.0).as("l_discount"), lit(0.0).as("l_tax"),
        lit(17L).as("l_orderkey"))
    val tree = graft.ml.Cart.cartQualityOn(planted).collect()
      .map(r => r.getAs[String]("node") -> r).toMap
    assert(tree("root").getAs[String]("feature") == "qty")
    assert(tree("root").getAs[Long]("thr") == 35L)
    assert(tree("root").getAs[Long]("posl") == 0L, "left leaf pure negative")
    assert(tree("root").getAs[Long]("posr") == tree("root").getAs[Long]("nr"),
      "right side pure positive")
    tree.values.foreach(r => assert(r.getAs[Long]("train_acc_e6") == 1000000L))
    // fixture tree: children partition the root sides exactly, and the
    // learned tree beats the majority baseline by a wide margin
    val fx = graft.ml.Cart.cartQuality(spark, sfDir).collect()
      .map(r => r.getAs[String]("node") -> r).toMap
    val root = fx("root")
    assert(fx("L").getAs[Long]("nl") + fx("L").getAs[Long]("nr") ==
      root.getAs[Long]("nl"))
    assert(fx("R").getAs[Long]("nl") + fx("R").getAs[Long]("nr") ==
      root.getAs[Long]("nr"))
    val n = root.getAs[Long]("nl") + root.getAs[Long]("nr")
    val pos = root.getAs[Long]("posl") + root.getAs[Long]("posr")
    val baselineE6 = math.max(pos, n - pos) * 1000000L / n
    assert(root.getAs[Long]("train_acc_e6") > baselineE6 + 50000L,
      s"tree must beat majority baseline by >5 pp " +
        s"(${root.getAs[Long]("train_acc_e6")} vs $baselineE6)")
  }

  test("qbq feature KS: exact scan replay agrees; planted weights order the features") {
    import org.apache.spark.sql.functions._
    val rows = graft.ml.Cart.featureKs(spark, sfDir).collect()
      .map(r => r.getAs[String]("feature") -> r).toMap
    assert(rows.size == 3)
    // independent truth: literal KS sweep per feature in plain Scala
    val data = Tables.lineitem(spark, sfDir)
      .select(col("l_quantity").cast("long"),
        round(col("l_discount") * 100).cast("long"),
        round(col("l_tax") * 100).cast("long"), col("l_orderkey"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.getLong(0) * 2 + r.getLong(1) * 5 - r.getLong(2) * 3 +
          r.getLong(3) % 17 > 71) 1L else 0L))
    def ks(vals: Seq[(Long, Long)]): (Long, Long) = { // (argmax value, ks_e6)
      val totP = vals.map(_._2).sum; val totN = vals.size - totP
      var cp = 0L; var cn = 0L
      var best = BigInt(-1); var bestAt = 0L
      vals.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (v, g) =>
        cp += g.map(_._2).sum; cn += g.size - g.map(_._2).sum
        val gap = (BigInt(cp) * totN - BigInt(cn) * totP).abs
        if (gap > best) { best = gap; bestAt = v }
      }
      (bestAt, (best * 1000000 / (BigInt(totP) * totN)).toLong)
    }
    val truth = Map(
      "qty" -> ks(data.map(d => (d._1, d._4)).toSeq),
      "disc" -> ks(data.map(d => (d._2, d._4)).toSeq),
      "tax" -> ks(data.map(d => (d._3, d._4)).toSeq))
    truth.foreach { case (f, (at, k)) =>
      assert(rows(f).getAs[Long]("ks_at") == at, s"$f argmax")
      assert(rows(f).getAs[Long]("ks_e6") == k, s"$f ks")
    }
    // planted weights: qty (2×50 range) dominates disc (5×10) over tax (3×8)
    assert(rows("qty").getAs[Long]("ks_e6") > rows("disc").getAs[Long]("ks_e6"))
    assert(rows("disc").getAs[Long]("ks_e6") > rows("tax").getAs[Long]("ks_e6"))
  }
}
