package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Aggregate

/** The shared-key pair core (`Dedup.overlapPairs`) on planted postings:
  * the df cap's boundary, per-side sizes after the cap, one row per
  * unordered pair, and no df aggregate when no cap is given. */
class OverlapPairsSpec extends SparkSpec {

  // cap 3: "edge" (df 3) stays, "hot" (df 4) goes; id 4 holds only "hot"
  private def postings: DataFrame = {
    import spark.implicits._
    Seq(3L -> "edge", 1L -> "edge", 2L -> "edge",
        4L -> "hot", 1L -> "hot", 3L -> "hot", 2L -> "hot",
        5L -> "x", 1L -> "x", 2L -> "y", 5L -> "y", 2L -> "z", 1L -> "z")
      .toDF("id", "key")
  }

  private def rows(df: DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
      r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))).toSet

  /** Aggregates grouping on column `key` in the analyzed plan (cached
    * relations are not substituted yet, so a cached df table counts). */
  private def keyAggregates(df: DataFrame, key: String): Int =
    df.queryExecution.analyzed.collect {
      case a: Aggregate if a.groupingExpressions.exists {
        case r: AttributeReference => r.name == key
        case _                     => false
      } => a
    }.size

  test("overlapPairs: df == cap is kept, df == cap + 1 is dropped; sizes count postings after the cap") {
    try {
      val (pairs, nCapped) = Dedup.overlapPairs(postings, "id", "key", Some(3L))
      assert(pairs.columns.toSeq == Seq("a", "b", "n_shared", "n_a", "n_b"))
      assert(nCapped == 1L)
      // after the cap: 1 {edge, x, z}, 2 {edge, y, z}, 3 {edge}, 5 {x, y}
      assert(rows(pairs) == Set(
        (1L, 2L, 2L, 3L, 3L), (1L, 3L, 1L, 3L, 1L), (2L, 3L, 1L, 3L, 1L),
        (1L, 5L, 1L, 3L, 2L), (2L, 5L, 1L, 3L, 2L)))
    } finally spark.catalog.clearCache()
  }

  test("overlapPairs: a < b, each unordered pair once, an all-capped id in no pair") {
    try {
      val got = Dedup.overlapPairs(postings, "id", "key", Some(3L))._1.collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
      assert(got.forall { case (a, b) => a < b })
      assert(got.distinct.length == got.length)
      assert(!got.exists { case (a, b) => a == 4L || b == 4L })
      // uncapped, "hot" pairs id 4 with 1, 2 and 3, and 1-2 share 3 keys
      val (all, n0) = Dedup.overlapPairs(postings, "id", "key", None)
      assert(n0 == 0L)
      val r = rows(all)
      assert(r.count { case (a, b, _, _, _) => b == 4L && a < 4L } == 3)
      assert(r.contains((1L, 2L, 3L, 4L, 4L)))
    } finally spark.catalog.clearCache()
  }

  test("overlapPairs: no df aggregate is planned without a cap") {
    try {
      assert(keyAggregates(Dedup.overlapPairs(postings, "id", "key", Some(3L))._1, "key") > 0,
        "the detector must see the capped plan's df aggregate")
      assert(keyAggregates(Dedup.overlapPairs(postings, "id", "key", None)._1, "key") == 0)
    } finally spark.catalog.clearCache()
  }
}
