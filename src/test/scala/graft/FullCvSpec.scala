package graft

import graft.etl.MovieLens
import graft.ml.{FixturePipelines, Recommend}

/** The reference's FULL cross-validation shape — 27-point grid
  * (rank × maxIter × regParam = 3×3×3) × 3 folds = 81 fits
  * (reference MovieLensRecommender.py:211-231) — exercised end-to-end
  * at sf0.01, twice, asserting the best-params argmin is stable across
  * runs. This is the proof the engine survives the reference's real
  * tuning workload (81 parallel fits, shared cached folds) without
  * OOM/contention; the 4-point × 2-fold grid in q73_als_cv_grid (8
  * fits) is the deliberate bench-latency variant of this same code
  * path.
  *
  * Gated behind GRAFT_FULL_CV=1 (≈3 min of ALS fits on 4 cores) so the regular
  * suite stays fast: run with
  *   GRAFT_FULL_CV=1 sbt "testOnly graft.FullCvSpec"
  */
class FullCvSpec extends SparkSpec {

  test("27-point grid × 3-fold CV (81 fits) completes with a stable argmin") {
    assume(sys.env.get("GRAFT_FULL_CV").contains("1"),
      "set GRAFT_FULL_CV=1 to run the 81-fit reference CV shape")
    val dir = "/root/testdata/sf0.01"
    val (train, _) = MovieLens.trainTestSplit(FixturePipelines.ratings(spark, dir))
    train.cache().count()

    def bestOf(): (Int, Int, Double, Double) = {
      val cv = Recommend.gridSearchCV(train, numFolds = 3, parallelism = 4)
      assert(cv.avgMetrics.length == 27, s"grid had ${cv.avgMetrics.length} points")
      assert(cv.avgMetrics.forall(m => !m.isNaN && m > 0))
      val best = Recommend.cvResults(spark, cv).head()
      (best.getInt(0), best.getInt(1), best.getDouble(2), best.getDouble(3))
    }

    val first = bestOf()
    val second = bestOf()
    assert((first._1, first._2, first._3) == (second._1, second._2, second._3),
      s"argmin unstable across runs: $first vs $second")
    assert(math.abs(first._4 - second._4) < 1e-6,
      s"best avg-RMSE drifted: ${first._4} vs ${second._4}")
    info(s"best params: rank=${first._1} maxIter=${first._2} " +
      s"regParam=${first._3} avgRmse=${first._4}")
    train.unpersist()
  }
}
