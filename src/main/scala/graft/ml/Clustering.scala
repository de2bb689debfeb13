package graft.ml

import org.apache.spark.ml.clustering.{GraftKMeansBridge, KMeansModel}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KMeans genre-clustering model selection (reference:
  * MovieLensRecommender.py:27-30, 72-83, 155-182).
  *
  * Deviations, by design:
  *  - every fit runs on the DRIVER over the count-weighted distinct
  *    feature vectors, collected by one `groupBy("features").count()`
  *    (few: at most 66 in the benchmark's 3,700 movies, a few hundred in
  *    MovieLens 1M).
  *    Weights are counts, so Σ w·‖x−μ_c‖² over that set IS the per-row
  *    SSE for any centers: an exact coreset, not a sample. The fit is
  *    Spark's own weighted k-means++ + Lloyd (`LocalKMeans`, what
  *    `KMeans` runs on its k-means|| candidates), wrapped in a real
  *    `KMeansModel`, so a fit launches no job past that one aggregate.
  *    Driver bound: the collected set is never larger than the movie
  *    dimension, which [[clusterAvgPredictions]] already broadcasts
  *    whole;
  *  - SSE is `model.summary.trainingCost` — that weighted sum, the same
  *    Σ‖x−μ_c‖² the reference computes row-by-row in a Python lambda
  *    (MovieLensRecommender.py:33-37,164), with each point charged to the
  *    center `transform` assigns it;
  *  - the k=2..10 train RMSEs come from ONE ratings pass (the reference
  *    refits the uncached scan and rejoins the ratings once per k);
  *  - the SSE successive-difference and argmin (done in driver pandas
  *    there, MovieLensRecommender.py:47-51,182) are a lag window + sort
  *    on the 9-row result — native, R-22/R-23.
  */
object Clustering {

  case class KResult(k: Int, sse: Double, trainRmse: Double)

  /** Lloyd iteration cap of every fit: `KMeans`' default `maxIter`. */
  private val MaxIter = 20

  /** R-20/R-21: one seeded fit + cluster assignment. */
  def fit(movies: DataFrame, k: Int, seed: Long = 823): KMeansModel =
    fitMany(movies, Seq(k), seed).head

  /** One seeded fit per k over the weighted distinct `features` of
    * `movies` (see the header): one distributed aggregate, then
    * driver-side work only. As in `KMeans`, a k at or above the number
    * of distinct vectors fits those vectors themselves (SSE exactly 0,
    * fewer than k centers). `summary.numIter` is the Lloyd cap — the
    * local routine does not report its count. */
  def fitMany(movies: DataFrame, ks: Seq[Int], seed: Long = 823): Seq[KMeansModel] = {
    // ml Vector equality is logical, so a dense and a sparse copy of one
    // vector merge; sorting makes the k-means++ draw independent of the
    // aggregate's partitioning
    implicit val byCoords: Ordering[Seq[Double]] =
      Ordering.Implicits.seqOrdering(Ordering.Double.TotalOrdering)
    val weighted = movies.groupBy("features").count().collect()
      .groupMapReduce(_.getAs[Vector](0))(_.getLong(1).toDouble)(_ + _)
      .toArray.sortBy(_._1.toArray.toSeq)
    require(weighted.nonEmpty, "KMeans needs at least one feature vector")
    val points = weighted.map(_._1)
    val weights = weighted.map(_._2)
    ks.map { k =>
      val saturated = points.length <= k
      val centers =
        if (saturated) points
        else GraftKMeansBridge.kMeansPlusPlus(seed.toInt, points, weights, k, MaxIter)
      val model = GraftKMeansBridge.model(centers, k, seed)
      val cost = points.indices.map { i =>
        weights(i) * Vectors.sqdist(points(i), centers(model.predict(points(i))))
      }.sum
      GraftKMeansBridge.withSummary(model, movies, if (saturated) 0 else MaxIter, cost)
    }
  }

  /** R-14..R-17: the cluster-average rating predictor —
    * prediction(u,m) = avg train rating of user u within cluster(m)
    * (reference: MovieLensRecommender.py:72-83). `clusters` is the small
    * (movieId → cluster) map and is broadcast into both joins. */
  def clusterAvgPredictions(ratingsTrain: DataFrame, ratingsEval: DataFrame,
      clusters: DataFrame): DataFrame = {
    val ucr = ratingsTrain
      .join(broadcast(clusters), "movieId")
      .groupBy("userId", "cluster")
      .agg(avg("rating").as("prediction"))
    ratingsEval
      .join(broadcast(clusters), "movieId")
      .join(ucr, Seq("userId", "cluster"))
  }

  /** R-20..R-23: the k-selection loop. One [[fitMany]] call gives every
    * k's model and SSE; ONE pass over the train ratings gives every k's
    * train RMSE: the (movieId, k, cluster) map of all k is broadcast into
    * the ratings and reduced to per-(k, user, cluster) count, Σr and Σr².
    * The cluster-average predictor scored on its own training set has
    * residual sum Σr² − (Σr)²/n per group, so
    * rmse_k = sqrt(Σ(Σr² − (Σr)²/n) / Σn) with no join back to the
    * ratings. Returns the results table ordered by k with the SSE lag
    * diff and the chosen k flagged (most-negative SSE drop,
    * README.md:35). */
  def selectK(spark: SparkSession, movies: DataFrame, ratingsTrain: DataFrame,
      ks: Seq[Int] = 2 to 10, seed: Long = 823): DataFrame = {
    import spark.implicits._
    val models = ks.zip(fitMany(movies, ks, seed))
    val labelled = models.foldLeft(movies.select("movieId", "features")) {
      case (df, (k, m)) => m.transform(df).withColumnRenamed("prediction", s"c$k")
    }
    val clusters = labelled
      .select(col("movieId"), explode(array(ks.map(k =>
        struct(lit(k).as("k"), col(s"c$k").as("cluster"))): _*)).as("kc"))
      .select("movieId", "kc.k", "kc.cluster")
    val r = col("rating").cast("double")
    // a group's residual sum is ≥ 0; the clamp only drops rounding error
    val trainRmse = ratingsTrain
      .join(broadcast(clusters), "movieId")
      .groupBy("k", "userId", "cluster")
      .agg(count(lit(1)).as("n"), sum(r).as("s"), sum(r * r).as("s2"))
      .groupBy("k")
      .agg(sqrt(sum(greatest(col("s2") - col("s") * col("s") / col("n"), lit(0.0))) /
        sum("n")))
      .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
    val results = models.map { case (k, m) =>
      KResult(k, m.summary.trainingCost, trainRmse.getOrElse(k, Double.NaN))
    }
    val w = Window.orderBy("k")
    results.toDF()
      .withColumn("sse_diff", coalesce(col("sse") - lag("sse", 1).over(w), lit(0.0)))
      .withColumn("best",
        col("sse_diff") === min("sse_diff").over(Window.partitionBy()))
      .orderBy("k")
  }

  /** Best k = argmin of the SSE successive difference (R-23). */
  def bestK(selection: DataFrame): Int =
    selection.filter(col("best")).select("k").head().getInt(0)
}
