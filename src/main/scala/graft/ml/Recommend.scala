package graft.ml

import graft.eval.Metrics
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ALS collaborative filtering + grid-searched cross-validation
  * (reference: MovieLensRecommender.py:203-238).
  *
  * Same estimator semantics — explicit feedback, seed 823,
  * coldStartStrategy="drop" (unseen user OR item rows removed before
  * scoring, R-25) — but the CV fits each fold's grid points
  * `setParallelism(...)` at a time over cached fold inputs instead of
  * the reference's 81 serial refits of an uncached scan, which is where
  * its 2.3 h went (SURVEY §3.3). */
object Recommend {

  /** R-24: one seeded ALS fit. `numBlocks` sizes the user/item block
    * grid: ~1 block per few hundred k ratings measured fastest locally
    * (8 blocks beat the default 10 and was 7× faster than 32 on 600k
    * ratings — too many blocks means tiny-task scheduling overhead); on
    * a real cluster scale it with executor count. */
  def fitAls(train: DataFrame, rank: Int = 10, maxIter: Int = 10,
      regParam: Double = 0.05, seed: Long = 823, numBlocks: Int = 8,
      userCol: String = "userId", itemCol: String = "movieId",
      ratingCol: String = "rating"): ALSModel =
    new ALS()
      .setUserCol(userCol).setItemCol(itemCol).setRatingCol(ratingCol)
      .setRank(rank).setMaxIter(maxIter).setRegParam(regParam)
      .setNumUserBlocks(numBlocks).setNumItemBlocks(numBlocks)
      .setSeed(seed).setImplicitPrefs(false).setColdStartStrategy("drop")
      .fit(train)

  /** R-26/R-27: the reference's grid shape (rank × maxIter × regParam,
    * MovieLensRecommender.py:211-221) under k-fold CV. Grid values are
    * parameters so tests can shrink the 27-point grid.
    *
    * Spark's `CrossValidator` runs the folds one after another: within
    * a fold up to `parallelism` grid points fit concurrently, and only
    * after the last fold does it refit the best point on the whole
    * input (at the perfbench grid, 2 points × 2 folds: two waves of 2
    * fits, then the refit). */
  def gridSearchCV(train: DataFrame,
      ranks: Seq[Int] = Seq(1, 10, 100),
      maxIters: Seq[Int] = Seq(5, 10, 15),
      regParams: Seq[Double] = Seq(0.001, 0.01, 0.05),
      numFolds: Int = 3, parallelism: Int = 4, seed: Long = 823,
      numBlocks: Int = 8,
      userCol: String = "userId", itemCol: String = "movieId",
      ratingCol: String = "rating"): CrossValidatorModel = {
    val als = new ALS()
      .setUserCol(userCol).setItemCol(itemCol).setRatingCol(ratingCol)
      .setNumUserBlocks(numBlocks).setNumItemBlocks(numBlocks)
      .setSeed(seed).setImplicitPrefs(false).setColdStartStrategy("drop")
    val grid = new ParamGridBuilder()
      .addGrid(als.rank, ranks)
      .addGrid(als.maxIter, maxIters)
      .addGrid(als.regParam, regParams)
      .build()
    val evaluator = new RegressionEvaluator()
      .setMetricName("rmse").setLabelCol(ratingCol).setPredictionCol("prediction")
    // materialize the cache BEFORE a fold's concurrent fits fan out:
    // `parallelism` concurrent fits racing an unmaterialized cache
    // duplicate the scan under storage locks (observed as 60s-vs-250s
    // bench variance on this query)
    val cached = train.cache()
    cached.count()
    // the concurrent fits share one JVM here: each ALS iteration is
    // numBlocks-partitioned internally, but every evaluation/split
    // shuffle takes spark.sql.shuffle.partitions tasks — at the 32-task
    // session default, `parallelism` concurrent fits schedule hundreds
    // of mostly-empty tasks per stage, which is where the observed
    // 4× run-to-run bench variance lived. 16 keeps each fit parallel
    // while halving the churn; on a real cluster the fits spread across
    // executors and the session default applies.
    graft.SessionConf.withShufflePartitions(cached.sparkSession, 16) {
      new CrossValidator()
        .setEstimator(als)
        .setEstimatorParamMaps(grid)
        .setEvaluator(evaluator)
        .setNumFolds(numFolds)
        .setParallelism(parallelism)
        .setSeed(seed)
        .fit(cached)
    }
  }

  /** R-28: CV introspection — the (rank, maxIter, regParam, avgRmse)
    * results table the reference assembles in pandas
    * (MovieLensRecommender.py:40-44), produced natively. */
  def cvResults(spark: SparkSession, cv: CrossValidatorModel): DataFrame = {
    import spark.implicits._
    cv.getEstimatorParamMaps.zip(cv.avgMetrics).map { case (pm, m) =>
      val get = (n: String) => pm.toSeq.find(_.param.name == n).map(_.value)
      (get("rank").map(_.asInstanceOf[Int]).getOrElse(-1),
        get("maxIter").map(_.asInstanceOf[Int]).getOrElse(-1),
        get("regParam").map(_.asInstanceOf[Double]).getOrElse(-1.0),
        m)
    }.toSeq.toDF("rank", "maxIter", "regParam", "avg_rmse")
      .orderBy("avg_rmse")
  }

  /** R-25 + R-19: score an eval split with cold-start rows dropped and
    * report RMSE. */
  def evaluate(model: ALSModel, eval: DataFrame,
      ratingCol: String = "rating"): (DataFrame, Double) = {
    val preds = model.transform(eval)
    (preds, Metrics.rmse(preds, label = ratingCol))
  }
}
