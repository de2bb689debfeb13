package org.apache.spark {

  package mllib.clustering {

    import org.apache.spark.mllib.linalg.Vector

    /** The mllib half of [[org.apache.spark.ml.clustering.GraftKMeansBridge]]:
      * `LocalKMeans` is `private[mllib]` and `VectorWithNorm` is
      * `private[clustering]`. */
    private[spark] object GraftLocalKMeans {
      def kMeansPlusPlus(seed: Int, points: Array[Vector], weights: Array[Double],
          k: Int, maxIter: Int): Array[Vector] =
        LocalKMeans.kMeansPlusPlus(seed, points.map(new VectorWithNorm(_)), weights,
          k, maxIter).map(_.vector)
    }
  }

  package ml.clustering {

    import org.apache.spark.ml.linalg.Vector
    import org.apache.spark.ml.param.ParamMap
    import org.apache.spark.ml.util.Identifiable
    import org.apache.spark.mllib.clustering.{GraftLocalKMeans,
      KMeansModel => MLlibKMeansModel}
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.sql.DataFrame

    /** Driver-side weighted KMeans through Spark's own code: the weighted
      * k-means++ + Lloyd routine `KMeans` runs on its k-means|| candidates
      * (`LocalKMeans`), and a real [[KMeansModel]] around its centers (the
      * constructor, [[KMeansSummary]] and `setSummary` are `private[ml]`).
      * The [[org.apache.spark.sql.GraftSqlBridge]] pattern; the fit itself
      * lives in `graft.ml.Clustering`. */
    object GraftKMeansBridge {

      /** Weighted k-means++ seeding, then at most `maxIter` weighted Lloyd
        * iterations; needs more distinct points than `k`. */
      def kMeansPlusPlus(seed: Int, points: Array[Vector], weights: Array[Double],
          k: Int, maxIter: Int): Array[Vector] =
        GraftLocalKMeans.kMeansPlusPlus(seed, points.map(OldVectors.fromML), weights,
          k, maxIter).map(_.asML)

      /** A Euclidean model over `centers` with the requested `k` and `seed`
        * params (the estimator's values, as `KMeans.fit` copies them). */
      def model(centers: Array[Vector], k: Int, seed: Long): KMeansModel = {
        val m = new KMeansModel(Identifiable.randomUID("kmeans"),
          new MLlibKMeansModel(centers.map(OldVectors.fromML)))
        m.copy(ParamMap(m.k -> k, m.seed -> seed))
      }

      /** Attach the training summary `KMeans.fit` would: lazy predictions
        * over `data` (no job) and the given cost; `k` is the number of
        * centers actually fitted. */
      def withSummary(model: KMeansModel, data: DataFrame, numIter: Int,
          trainingCost: Double): KMeansModel = {
        model.setSummary(Some(new KMeansSummary(model.transform(data),
          model.getPredictionCol, model.getFeaturesCol,
          model.clusterCenters.length, numIter, trainingCost)))
        model
      }
    }
  }
}
