package graft

import graft.operators.{Dedup, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col}

/** Budgets and plan shape for the four curation operators the
  * `curation_dedup` benchmark drives (normalized, exact, MinHash and
  * containment dedup) and for the capped-Jaccard pair table, on the
  * documents fixture. */
class CurationPlanSpec extends SparkSpec {

  private def docs: DataFrame = Tables.documents(spark, sfDir)

  test("job budget: minhashNearDupPairsOf runs at most 15 Spark jobs") {
    try {
      val spread = docs.repartition(spark.sparkContext.defaultParallelism)
      val n = jobsOf { Dedup.minhashNearDupPairsOf(spread).collect() }
      info(s"$n Spark jobs")
      assert(n <= 15, s"$n Spark jobs, budget 15")
    } finally spark.catalog.clearCache()
  }

  test("job budget: containmentPairsOf runs at most 16 Spark jobs") {
    try {
      val d = docs // outside the count: the fixture's parquet listing is no operator job
      val n = jobsOf { Dedup.containmentPairsOf(d).select("a", "b").collect() }
      info(s"$n Spark jobs")
      assert(n <= 16, s"$n Spark jobs, budget 16")
    } finally spark.catalog.clearCache()
  }

  test("job budget: jaccardPairs runs at most 15 Spark jobs") {
    try {
      val d = docs
      val n = jobsOf { Dedup.jaccardPairs(d, 3, 64L).collect() }
      info(s"$n Spark jobs")
      assert(n <= 15, s"$n Spark jobs, budget 15")
    } finally spark.catalog.clearCache()
  }

  test("jaccardPairs: no Janino compilation after the first of 4 calls") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compilations = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // the sf0.1 fixture beside sfDir: on the smaller fixtures the racing
    // broadcast stages of the old two-`sizes` plan finish in a fixed
    // order and never recompile
    val d = Tables.documents(spark, s"${new java.io.File(sfDir).getParent}/sf0.1")
    val perCall = (1 to 4).map { _ =>
      val before = compilations
      try Dedup.jaccardPairs(d, 3, 64L).count()
      finally spark.catalog.clearCache()
      compilations - before
    }
    info(s"Janino compilations per call: ${perCall.mkString(", ")}")
    assert(perCall.tail.forall(_ == 0L),
      s"calls 2-4 recompiled generated code: ${perCall.mkString(", ")}")
  }

  test("plan guard: no interpreted aggregate/zip_with lambda in the four curation operators") {
    try {
      val d = docs
      val plans = Seq(
        "normalized_dedup" -> Dedup.normalizedDedupOf(d),
        "exact_content"    -> Dedup.exactByContent(spark, sfDir),
        "minhash_pairs"    -> Dedup.minhashNearDupPairsOf(d),
        "containment"      -> Dedup.containmentPairsOf(d))
      plans.foreach { case (name, df) =>
        val found = PlanAudit.interpretedLambdas(df.queryExecution.optimizedPlan)
        assert(found.isEmpty, s"$name plans interpreted lambdas: ${found.distinct.mkString(", ")}")
      }
      // the detector sees the chains the kernels replaced, cached or not
      val chain = d.select(ChainTwins.ngrams(Text.tokens(col("text")), 3).as("g")).cache()
      assert(PlanAudit.interpretedLambdas(chain.queryExecution.optimizedPlan)
        .contains("zip_with"))
      val folds = d.select(ChainTwins.minhash(array(col("doc_id")), 2).as("s"))
      assert(PlanAudit.interpretedLambdas(folds.queryExecution.optimizedPlan)
        .contains("aggregate"))
    } finally spark.catalog.clearCache()
  }
}
