package graft.ml

import graft.eval.Metrics
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.ml.tuning.ParamGridBuilder
import org.apache.spark.mllib.util.MLUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** ALS collaborative filtering + grid-searched cross-validation
  * (reference: MovieLensRecommender.py:203-238).
  *
  * Same estimator semantics — explicit feedback, seed 823,
  * coldStartStrategy="drop" (unseen user OR item rows removed before
  * scoring, R-25) — but the CV fits each fold's grid points
  * `parallelism` at a time over cached fold inputs instead of the
  * reference's 81 serial refits of an uncached scan, which is where
  * its 2.3 h went (SURVEY §3.3). */
object Recommend {

  /** The CV's outcome: the grid points and their average metric over
    * the folds, index for index — the two members of Spark's
    * `CrossValidatorModel` that callers read, without its refit model. */
  final case class CvResult(getEstimatorParamMaps: Array[ParamMap],
      avgMetrics: Array[Double])

  /** Training-fold ratings per ALS user/item block in a CV fit. At the
    * perfbench `paper_pipeline` shape (~93k ratings per fold fit, 4
    * cores) 8 × 8 blocks spent as much time on per-block and per-task
    * overhead (size estimation of cached blocks, task and shuffle
    * serde, block building) as on the ALS math: 2 blocks cut
    * `ml.als_cv` self time by ~2.7 s of ~10 s, 1 block measured the same
    * as 2, and 4 fell between 2 and 8 (6 runs each). Where the rule
    * moves off 1 block, a 3-fold CV of a 2-point grid (rank 10,
    * maxIter 10, regParam 0.05/0.1) on the golden corpus's 0.7 train
    * split, seconds per CV, warm runs:
    *  - ~467k per fold fit (the reference shape), 5 blocks vs 8:
    *    local[4] 10.4–10.6 vs 13.1–15.0, local[1] 23.0–24.1 vs
    *    32.1–32.2; 2 blocks took 8.5–9.0 at local[4];
    *  - ~201k per fold fit, 3 blocks vs 8: local[4] 5.3–5.7 vs 9.1–10.3,
    *    local[1] 14.0–16.4 vs 28.8–28.9.
    * Per-point CV RMSE moved by at most 0.0021 with the block count (ALS
    * seeds its initial factors per block) and the argmin did not move.
    * Fewer blocks were faster at every measured size, so this constant
    * is on the side of more blocks than this host needs. */
  private val RatingsPerBlock = 100000L

  /** Block count of a CV fit over `foldRatings` training ratings:
    * ceil(foldRatings / RatingsPerBlock) clamped to 1..8. A function of
    * the input alone, never of the core count, so CV metrics stay
    * bit-identical across hosts. The reference shape (~1M ratings, a
    * 0.7 train split, 3 folds: ~467k per fold fit) gets 5 blocks; only
    * fold fits above 700k ratings get 8. */
  private[graft] def foldBlocks(foldRatings: Long): Int =
    math.min(8L, math.max(1L,
      (foldRatings + RatingsPerBlock - 1) / RatingsPerBlock)).toInt

  /** R-24: one seeded ALS fit. `numBlocks` sizes the user/item block
    * grid: ~1 block per few hundred k ratings measured fastest locally
    * (8 blocks beat the default 10 and was 7× faster than 32 on 600k
    * ratings — too many blocks means tiny-task scheduling overhead); on
    * a real cluster scale it with executor count. The refit keeps 8
    * rather than `foldBlocks`: sizing it would cost one more count job,
    * and refit time measured flat at 2, 4 and 8 blocks (1.54, 1.63,
    * 1.68 s at the perfbench shape). */
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
    * Spark's `CrossValidator` arithmetic without its final refit of the
    * best point on the whole input, which no caller reads: the folds are
    * `MLUtils.kFold(cached.rdd, numFolds, seed)`, as `CrossValidator`
    * draws them; within a fold up to `parallelism` grid points fit
    * concurrently over the cached fold frames and are scored by one
    * RMSE evaluator; each point's metrics are summed in fold order and
    * divided by `numFolds`. Every fit uses `foldBlocks` of the expected
    * training-fold size. */
  def gridSearchCV(train: DataFrame,
      ranks: Seq[Int] = Seq(1, 10, 100),
      maxIters: Seq[Int] = Seq(5, 10, 15),
      regParams: Seq[Double] = Seq(0.001, 0.01, 0.05),
      numFolds: Int = 3, parallelism: Int = 4, seed: Long = 823,
      userCol: String = "userId", itemCol: String = "movieId",
      ratingCol: String = "rating"): CvResult = {
    require(numFolds >= 2, s"numFolds must be at least 2, got $numFolds")
    // materialize the cache BEFORE a fold's concurrent fits fan out:
    // `parallelism` concurrent fits racing an unmaterialized cache
    // duplicate the scan under storage locks (observed as 60s-vs-250s
    // bench variance on this query)
    val cached = train.cache()
    val n = cached.count()
    val blocks = foldBlocks(n * (numFolds - 1) / numFolds)
    val als = new ALS()
      .setUserCol(userCol).setItemCol(itemCol).setRatingCol(ratingCol)
      .setNumUserBlocks(blocks).setNumItemBlocks(blocks)
      .setSeed(seed).setImplicitPrefs(false).setColdStartStrategy("drop")
    val grid = new ParamGridBuilder()
      .addGrid(als.rank, ranks)
      .addGrid(als.maxIter, maxIters)
      .addGrid(als.regParam, regParams)
      .build()
    val evaluator = new RegressionEvaluator()
      .setMetricName("rmse").setLabelCol(ratingCol).setPredictionCol("prediction")
    val spark = cached.sparkSession
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // the concurrent fits share one JVM here: every evaluation/split
    // shuffle takes spark.sql.shuffle.partitions tasks — at the 32-task
    // session default, `parallelism` concurrent fits schedule hundreds
    // of mostly-empty tasks per stage, which is where the observed
    // 4× run-to-run bench variance lived. 16 keeps each fit parallel
    // while halving the churn; on a real cluster the fits spread across
    // executors and the session default applies.
    val foldMetrics =
      try graft.SessionConf.withShufflePartitions(spark, 16) {
        MLUtils.kFold(cached.rdd, numFolds, seed).map { case (tr, va) =>
          val fold = spark.createDataFrame(tr, cached.schema).cache()
          val heldOut = spark.createDataFrame(va, cached.schema).cache()
          try {
            val fits = grid.map { pm =>
              Future(evaluator.evaluate(als.fit(fold, pm).transform(heldOut)))
            }
            fits.map(Await.result(_, Duration.Inf))
          } finally { fold.unpersist(); heldOut.unpersist() }
        }
      } finally pool.shutdown()
    CvResult(grid, foldMetrics.transpose.map(_.sum / numFolds))
  }

  /** R-28: CV introspection — the (rank, maxIter, regParam, avgRmse)
    * results table the reference assembles in pandas
    * (MovieLensRecommender.py:40-44), produced natively. */
  def cvResults(spark: SparkSession, cv: CvResult): DataFrame = {
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
