package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Neighborhood collaborative filtering — the non-factorized half of
  * the reference's recommender (its ALS lives in `ml/Recommend.scala`;
  * reference pipeline: MovieLensRecommender.py:203-238). Item-item
  * co-occurrence is what production recommenders run NEXT TO a trained
  * factor model: no training step, incrementally maintainable, and the
  * standard candidate generator feeding a ranker.
  *
  * Scale design: the only quadratic surface is the per-user pair join,
  * and it is bounded the q4k way — a deterministic per-user BASKET CAP
  * (keep the `cap` lowest item ids) bounds fan-out at C(cap, 2) per
  * user before any pair forms, so one crawl-everything user cannot
  * detonate the shuffle. Item popularity rides the pair join as its
  * per-side sizes ([[Dedup.overlapPairs]]); the per-item top-k plans
  * as WindowGroupLimit (rank pushed into the shuffle, no full sort of
  * the pair list). Similarity is quantized to exact integers —
  * cos²·1e6 = cooc²·1e6 div (n_a·n_b) — so ranking and output replay
  * bit-for-bit in any engine: no sqrt, no double, no ulp coin flips.
  */
object Recsys {

  /** Distinct (user, item) pairs from the order history, with the
    * deterministic basket cap (q4k df-cap doctrine): keep the `cap`
    * LOWEST item ids per user — a rule both engines replay exactly,
    * unlike any sampled subset. Fixture baskets max ~105 items so the
    * cap is inert here; the spec plants a mega-basket to prove it
    * binds. `ordersFilter` restricts the order rows first (q7b's
    * temporal split). */
  private def cappedBasket(spark: SparkSession, dir: String, cap: Int,
      ordersFilter: DataFrame => DataFrame = identity): DataFrame = {
    val basket = ordersFilter(Tables.orders(spark, dir))
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("item"))
      .distinct()
    basket
      .withColumn("rk", row_number().over(
        Window.partitionBy("u").orderBy("item")))
      .where(col("rk") <= cap).drop("rk")
  }

  /** q7a: ITEM-ITEM CF NEIGHBORS over the order history — "customers
    * who bought X also bought" from `orders ⋈ lineitem` baskets
    * (user = o_custkey, item = l_partkey, presence not quantity —
    * the implicit-feedback reading). Per item: the top-`k` most
    * cosine-similar other items with co-occurrence support ≥
    * `minCooc`. cosine²(a,b) = cooc²/(n_a·n_b) rides the graded row
    * as an exact integer ppm; ordering is (cos2_ppm desc, cooc desc,
    * neighbor id) — a total order, so row_number is deterministic. */
  def itemItemCF(spark: SparkSession, dir: String, cap: Int = 128,
      minCooc: Long = 2L, k: Int = 5): DataFrame = {
    val scored = scoredNeighbors(cappedBasket(spark, dir, cap), minCooc)
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("item")
        .orderBy(col("cos2_ppm").desc, col("cooc").desc, col("nbr"))))
      .where(col("rank") <= k)
      .select(col("item"), col("rank"), col("nbr"), col("cooc"),
        col("n_item"), col("n_nbr"), col("cos2_ppm"))
      .orderBy("item", "rank")
  }

  /** Scored symmetric neighbor candidates from capped baskets.
    *
    * Pair generation is [[Dedup.overlapPairs]] over (item, u) postings,
    * uncapped (the basket cap bounds fan-out); its sizes are the items'
    * popularity. Both join sides carry the cap window's hash
    * partitioning on u, so the join adds no exchange. The array-HOF
    * alternative (collect_list per user + nested transform/flatten pair
    * explosion) was measured SLOWER at sf0.1 — 16.9 s vs 7.9 s for the
    * 13M-pair aggregate — nested struct allocation in the lambda beats
    * no SMJ machinery; the dominant, irreducible cost is the
    * ~C(basket,2)·|users|-row pair shuffle either way, which is exactly
    * what the basket cap bounds at scale. */
  private def scoredNeighbors(capped: DataFrame, minCooc: Long): DataFrame = {
    val co = Dedup.overlapPairs(capped, "item", "u", None)._1
      .where(col("n_shared") >= minCooc)
    // each unordered pair is stored once (a < b); both directions feed
    // the per-item neighbor lists
    def side(item: String, nbr: String): DataFrame = co.select(
      col(item).as("item"), col(nbr).as("nbr"), col("n_shared").as("cooc"),
      col(s"n_$item").as("n_item"), col(s"n_$nbr").as("n_nbr"))
    side("a", "b").unionByName(side("b", "a"))
      .withColumn("cos2_ppm",
        expr("(cooc * cooc * 1000000) div (n_item * n_nbr)"))
  }

  /** The q7b recommendation pipeline up to the per-user top-k list —
    * shared by the hit-rate eval (q7b) and the beyond-accuracy metrics
    * (q7c) so the two reports grade the SAME recommender.
    *
    * The rec list is MATERIALIZED to a fingerprint-keyed parquet under
    * /tmp (round-6 verdict item 6): the in-session `.cache()` already
    * deduplicated q7b/q7c within one JVM, but a standalone q7c run paid
    * the full pair pipeline again (8.0 s cold vs 1.4 warm). The list is
    * exact integers with a deterministic total order, so the parquet
    * round-trip is value-identical to recomputation, and the
    * [[graft.Fs.materialized]] store lets concurrent JVMs race safely.
    * This is the same doctrine as a warehouse materialized view at
    * 100 TB: the family's cost is additive, not multiplicative. */
  private def cfRecsPipeline(spark: SparkSession, dir: String, cap: Int,
      minCooc: Long, kNbr: Int, kRec: Int, cut: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val train = cappedBasket(spark, dir, cap,
      o => o.where(col("o_orderdate") < lit(cut).cast("date")))
    val test = cappedBasket(spark, dir, cap,
      o => o.where(col("o_orderdate") >= lit(cut).cast("date")))
    // v2: carries the per-user rank so the ranking-aware eval (q7d)
    // reads positions from the SAME materialized list q7b/q7c grade
    val store = graft.Fs.materialized("cf_recs", 2, dir,
        Seq("orders.parquet", "lineitem.parquet"),
        Seq(cap, minCooc, kNbr, kRec, cut)) { tmp =>
      val nbrs = scoredNeighbors(train, minCooc)
        .withColumn("rank", row_number().over(Window.partitionBy("item")
          .orderBy(col("cos2_ppm").desc, col("cooc").desc, col("nbr"))))
        .where(col("rank") <= kNbr)
        .select(col("item"), col("nbr"), col("cos2_ppm"))
      // candidates: neighbors of the user's train items, summed scores
      val cand = train.join(nbrs, "item")
        .groupBy(col("u"), col("nbr").as("rec"))
        .agg(sum(col("cos2_ppm")).as("score"))
      // drop already-owned items, then per-user top-k by the total order
      val fresh = cand.join(train.select(col("u"), col("item").as("rec")),
          Seq("u", "rec"), "left_anti")
      val computed = fresh
        .withColumn("rk", row_number().over(Window.partitionBy("u")
          .orderBy(col("score").desc, col("rec"))))
        .where(col("rk") <= kRec)
        .select(col("u"), col("rec"), col("rk"))
      // one store dir holding BOTH shared intermediates — the rec list
      // and the (item, n_item) popularity table q7c ranks by — so a
      // standalone q7c run needs NO basket join at all
      computed.write.parquet(s"$tmp/recs")
      train.groupBy("item").agg(count(lit(1)).as("n_item"))
        .write.parquet(s"$tmp/pop")
    }
    // session-scoped cache on top: q7b and q7c in one session share the
    // materialized scans without even re-reading parquet
    val recs = spark.read.parquet(s"$store/recs").cache()
    val popStored = spark.read.parquet(s"$store/pop")
    (train, test, popStored, recs)
  }

  /** q7b: HIT-RATE@10 EVALUATION of the q7a recommender under a
    * TEMPORAL split — the offline metric a production recommender is
    * actually graded by (and the honest split: train strictly before
    * `cut`, score on what each user buys after, no leakage by
    * construction). Neighbor lists (top-5 per item, q7a arithmetic)
    * are fit on TRAIN baskets only; each user's candidates are the
    * neighbors of their train items minus the train items themselves,
    * scored by the SUM of integer cos2_ppm contributions across their
    * train items (the standard item-kNN scorer, exact integers so the
    * per-user top-10 is a deterministic total order); a hit is a
    * recommended item the user really bought in the test period.
    *
    * One summary row: users evaluated (≥1 train and ≥1 test item),
    * recommendations made, hits, users with ≥1 hit, and the ppm
    * rates — integer div, replayable. Every stage is the q7a cost
    * shape plus two bounded joins; nothing new at scale. */
  def cfHitRate(spark: SparkSession, dir: String, cap: Int = 128,
      minCooc: Long = 2L, kNbr: Int = 5, kRec: Int = 10,
      cut: String = "1997-01-01"): DataFrame = {
    val (train, test, _, recs) =
      cfRecsPipeline(spark, dir, cap, minCooc, kNbr, kRec, cut)
    val hits = recs.join(test.select(col("u"), col("item").as("rec"))
        .withColumn("hit", lit(1L)), Seq("u", "rec"), "left")
      .groupBy("u").agg(
        count(lit(1)).as("n_recs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    // users with a train basket AND a test basket are the eval set
    val evalUsers = train.select("u").distinct()
      .join(test.select("u").distinct(), "u")
    evalUsers.join(hits, Seq("u"), "left")
      .agg(
        count(lit(1)).as("n_users_eval"),
        sum(coalesce(col("n_recs"), lit(0L))).as("recs_total"),
        sum(coalesce(col("n_hits"), lit(0L))).as("hits_total"),
        sum(when(coalesce(col("n_hits"), lit(0L)) > 0L, 1L).otherwise(0L))
          .as("n_users_hit"))
      .select(col("n_users_eval"), col("recs_total"), col("hits_total"),
        col("n_users_hit"),
        expr("(n_users_hit * 1000000) div n_users_eval").as("hitrate_ppm"),
        expr("(hits_total * 1000000) div recs_total").as("precision_ppm"))
  }

  def cfHitRateOracle: String = """
    WITH train_b AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate < DATE '1997-01-01'),
    train AS (
      SELECT u, item FROM (
        SELECT u, item, row_number() OVER (PARTITION BY u ORDER BY item) AS rk
        FROM train_b) t WHERE rk <= 128),
    test_b AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate >= DATE '1997-01-01'),
    test AS (
      SELECT u, item FROM (
        SELECT u, item, row_number() OVER (PARTITION BY u ORDER BY item) AS rk
        FROM test_b) t WHERE rk <= 128),
    pop AS (
      SELECT item, CAST(count(1) AS BIGINT) AS n_item FROM train GROUP BY item),
    co AS (
      SELECT a.item AS ia, b.item AS ib, CAST(count(1) AS BIGINT) AS cooc
      FROM train a JOIN train b ON a.u = b.u AND a.item < b.item
      GROUP BY 1, 2 HAVING count(1) >= 2),
    sym AS (
      SELECT ia AS item, ib AS nbr, cooc FROM co
      UNION ALL SELECT ib, ia, cooc FROM co),
    scored AS (
      SELECT s.item, s.nbr, s.cooc,
             CAST((s.cooc * s.cooc * 1000000) // (p1.n_item * p2.n_item)
               AS BIGINT) AS cos2_ppm
      FROM sym s JOIN pop p1 ON s.item = p1.item
      JOIN pop p2 ON s.nbr = p2.item),
    nbrs AS (
      SELECT item, nbr, cos2_ppm FROM (
        SELECT *, row_number() OVER (PARTITION BY item
          ORDER BY cos2_ppm DESC, cooc DESC, nbr) AS rank
        FROM scored) t WHERE rank <= 5),
    cand AS (
      SELECT t.u, n.nbr AS rec, CAST(sum(n.cos2_ppm) AS BIGINT) AS score
      FROM train t JOIN nbrs n ON t.item = n.item
      GROUP BY 1, 2),
    fresh AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM train t
                        WHERE t.u = c.u AND t.item = c.rec)),
    recs AS (
      SELECT u, rec FROM (
        SELECT *, row_number() OVER (PARTITION BY u
          ORDER BY score DESC, rec) AS rk
        FROM fresh) t WHERE rk <= 10),
    hits AS (
      SELECT r.u, count(1) AS n_recs,
             sum(CASE WHEN te.item IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
      FROM recs r LEFT JOIN test te ON te.u = r.u AND te.item = r.rec
      GROUP BY r.u),
    ev AS (
      SELECT tr.u FROM (SELECT DISTINCT u FROM train) tr
      JOIN (SELECT DISTINCT u FROM test) te ON tr.u = te.u),
    agg AS (
      SELECT CAST(count(1) AS BIGINT) AS n_users_eval,
             CAST(sum(coalesce(h.n_recs, 0)) AS BIGINT) AS recs_total,
             CAST(sum(coalesce(h.n_hits, 0)) AS BIGINT) AS hits_total,
             CAST(sum(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_users_hit
      FROM ev LEFT JOIN hits h ON ev.u = h.u)
    SELECT n_users_eval, recs_total, hits_total, n_users_hit,
           (n_users_hit * 1000000) // n_users_eval AS hitrate_ppm,
           (hits_total * 1000000) // recs_total AS precision_ppm
    FROM agg"""

  def itemItemCFOracle: String = """
    WITH basket AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    capped AS (
      SELECT u, item FROM (
        SELECT u, item,
               row_number() OVER (PARTITION BY u ORDER BY item) AS rk
        FROM basket) t
      WHERE rk <= 128),
    pop AS (
      SELECT item, CAST(count(1) AS BIGINT) AS n_item
      FROM capped GROUP BY item),
    co AS (
      SELECT a.item AS ia, b.item AS ib, CAST(count(1) AS BIGINT) AS cooc
      FROM capped a JOIN capped b ON a.u = b.u AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(1) >= 2),
    sym AS (
      SELECT ia AS item, ib AS nbr, cooc FROM co
      UNION ALL
      SELECT ib, ia, cooc FROM co),
    scored AS (
      SELECT s.item, s.nbr, s.cooc, p1.n_item, p2.n_item AS n_nbr,
             CAST((s.cooc * s.cooc * 1000000) // (p1.n_item * p2.n_item)
               AS BIGINT) AS cos2_ppm
      FROM sym s
      JOIN pop p1 ON s.item = p1.item
      JOIN pop p2 ON s.nbr = p2.item),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY item
        ORDER BY cos2_ppm DESC, cooc DESC, nbr) AS rank
      FROM scored)
    SELECT item, CAST(rank AS INTEGER) AS rank, nbr, cooc, n_item, n_nbr,
           cos2_ppm
    FROM ranked WHERE rank <= 5
    ORDER BY item, rank"""

  /** q7c: BEYOND-ACCURACY METRICS for the q7a/q7b recommender — the
    * numbers that catch a recommender q7b's hit rate can't: CATALOG
    * COVERAGE (share of train items ever recommended — a popularity
    * echo chamber scores high accuracy with tiny coverage),
    * POPULARITY BIAS (mean popularity rank of recommendation
    * instances; rank 1 = most popular item, so a low mean says the
    * system mostly re-recommends bestsellers), and CONCENTRATION (the
    * top-10 most-recommended items' share of all recommendation
    * slots). Built on the IDENTICAL pipeline as q7b (one shared
    * helper), all exact integers: ranks from a deterministic
    * (popularity desc, item) total order, shares in integer-div ppm.
    * One row; the oracle replays the whole pipeline + rollups. */
  def cfCoverage(spark: SparkSession, dir: String, cap: Int = 128,
      minCooc: Long = 2L, kNbr: Int = 5, kRec: Int = 10,
      cut: String = "1997-01-01"): DataFrame = {
    val (_, _, pop, recs) =
      cfRecsPipeline(spark, dir, cap, minCooc, kNbr, kRec, cut)
    // every item's popularity rank feeds the mean — a catalog-scale
    // total rank, so it rides the distributed exact index (the q2i/q1p
    // window-audit fix), never a single-partition window
    val ranked = Relational.withGlobalIndex(pop,
        Seq(col("n_item").desc, col("item")), "__pr")
      .withColumn("pop_rank", col("__pr") + 1L)
    val recRanked = recs.select(col("u"), col("rec"))
      .join(ranked.select(col("item").as("rec"), col("pop_rank")), "rec")
    val perItem = recRanked.groupBy("rec").agg(count(lit(1)).as("n_recs"))
    // top-10 share needs no rank column at all: distributed
    // TakeOrderedAndProject under the same total order
    val top10 = perItem.orderBy(col("n_recs").desc, col("rec")).limit(10)
      .agg(sum(col("n_recs")).as("top10_recs"))
    val catalog = pop.agg(count(lit(1)).as("n_catalog"))
    val totals = recRanked.agg(
      count(lit(1)).as("recs_total"),
      countDistinct(col("u")).as("n_users"),
      countDistinct(col("rec")).as("n_items_recommended"),
      sum(col("pop_rank")).as("sum_pop_rank"))
    totals.crossJoin(broadcast(catalog)).crossJoin(broadcast(top10))
      .select(col("n_users"), col("recs_total"),
        col("n_items_recommended"), col("n_catalog"),
        expr("(n_items_recommended * 1000000) div n_catalog")
          .as("coverage_ppm"),
        expr("(sum_pop_rank * 100) div recs_total").as("mean_pop_rank_e2"),
        expr("(top10_recs * 1000000) div recs_total")
          .as("top10_share_ppm"))
  }

  /** q7d: RANKING-AWARE EVALUATION of the q7a/q7b recommender — MRR
    * and NDCG@k, the position-sensitive metrics hit-rate@k (q7b) is
    * blind to: a system that buries every hit at rank 10 and one that
    * leads with it have identical hit rates but 10× different MRR.
    * Same temporal split, same materialized rec list (the store now
    * carries each rec's rank), all exact integers: reciprocal ranks as
    * `1e6 div rank`; log₂ discounts as `floor(1e6·ln2/ln(r+1)+0.5)` —
    * one double formed from identical small-integer operands in both
    * engines, the q1e doctrine; per-user NDCG as integer-div ppm of
    * DCG against the ideal DCG over `least(n_test_items, k)` positions;
    * means as integer division by the eval-user count (zero-hit users
    * contribute zero to both numerators — they are IN the denominator,
    * as offline evaluation requires). One summary row; the oracle
    * replays the entire pipeline plus the metric tail.
    *
    * Scale shape: everything rides the q7b machinery plus two bounded
    * joins (recs⋈test on (u, item); test-size spine explode capped at
    * k rows per user); nothing new at 100 TB. */
  def cfRankingEval(spark: SparkSession, dir: String, cap: Int = 128,
      minCooc: Long = 2L, kNbr: Int = 5, kRec: Int = 10,
      cut: String = "1997-01-01"): DataFrame = {
    val (train, test, _, recs) =
      cfRecsPipeline(spark, dir, cap, minCooc, kNbr, kRec, cut)
    def disc(r: Column): Column =
      floor(lit(1e6) * log(lit(2.0)) / log(r.cast("double") + 1) + 0.5)
        .cast("long")
    // per-user hit positions → first-hit reciprocal + DCG
    val hitAgg = recs.join(test.select(col("u"), col("item").as("rec")),
        Seq("u", "rec"))
      .groupBy("u").agg(
        min(col("rk")).as("first_hit"),
        sum(disc(col("rk"))).as("dcg_e6"))
    // ideal DCG: the discounts a perfect ranking would collect over
    // min(n_test_items, kRec) positions
    val idcg = test.groupBy("u").agg(count(lit(1)).as("n_items"))
      .select(col("u"),
        explode(sequence(lit(1), least(col("n_items"), lit(kRec)))).as("r"))
      .groupBy("u").agg(sum(disc(col("r"))).as("idcg_e6"))
    val evalUsers = train.select("u").distinct()
      .join(test.select("u").distinct(), "u")
    evalUsers
      .join(hitAgg, Seq("u"), "left")
      .join(idcg, Seq("u"), "left")
      .agg(
        count(lit(1)).as("n_users_eval"),
        sum(when(col("first_hit").isNotNull, 1L).otherwise(0L))
          .as("n_users_hit"),
        sum(coalesce(expr("1000000 div first_hit"), lit(0L))).as("sum_rr_ppm"),
        sum(coalesce(expr("(dcg_e6 * 1000000) div idcg_e6"), lit(0L)))
          .as("sum_ndcg_ppm"))
      .select(col("n_users_eval"), col("n_users_hit"),
        expr("sum_rr_ppm div n_users_eval").as("mrr_ppm"),
        expr("sum_ndcg_ppm div n_users_eval").as("mean_ndcg_ppm"))
  }

  def cfRankingEvalOracle: String = """
    WITH train_b AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate < DATE '1997-01-01'),
    train AS (
      SELECT u, item FROM (
        SELECT u, item, row_number() OVER (PARTITION BY u ORDER BY item) AS rk
        FROM train_b) t WHERE rk <= 128),
    test_b AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate >= DATE '1997-01-01'),
    test AS (
      SELECT u, item FROM (
        SELECT u, item, row_number() OVER (PARTITION BY u ORDER BY item) AS rk
        FROM test_b) t WHERE rk <= 128),
    pop AS (
      SELECT item, CAST(count(1) AS BIGINT) AS n_item FROM train GROUP BY item),
    co AS (
      SELECT a.item AS ia, b.item AS ib, CAST(count(1) AS BIGINT) AS cooc
      FROM train a JOIN train b ON a.u = b.u AND a.item < b.item
      GROUP BY 1, 2 HAVING count(1) >= 2),
    sym AS (
      SELECT ia AS item, ib AS nbr, cooc FROM co
      UNION ALL SELECT ib, ia, cooc FROM co),
    scored AS (
      SELECT s.item, s.nbr, s.cooc,
             CAST((s.cooc * s.cooc * 1000000) // (p1.n_item * p2.n_item)
               AS BIGINT) AS cos2_ppm
      FROM sym s JOIN pop p1 ON s.item = p1.item
      JOIN pop p2 ON s.nbr = p2.item),
    nbrs AS (
      SELECT item, nbr, cos2_ppm FROM (
        SELECT *, row_number() OVER (PARTITION BY item
          ORDER BY cos2_ppm DESC, cooc DESC, nbr) AS rank
        FROM scored) t WHERE rank <= 5),
    cand AS (
      SELECT t.u, n.nbr AS rec, CAST(sum(n.cos2_ppm) AS BIGINT) AS score
      FROM train t JOIN nbrs n ON t.item = n.item
      GROUP BY 1, 2),
    fresh AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM train t
                        WHERE t.u = c.u AND t.item = c.rec)),
    recs AS (
      SELECT u, rec, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY u
          ORDER BY score DESC, rec) AS rk
        FROM fresh) t WHERE rk <= 10),
    hitagg AS (
      SELECT r.u, CAST(min(r.rk) AS BIGINT) AS first_hit,
             CAST(sum(CAST(floor(1e6 * ln(2) / ln(r.rk + 1) + 0.5)
               AS BIGINT)) AS BIGINT) AS dcg_e6
      FROM recs r JOIN test te ON te.u = r.u AND te.item = r.rec
      GROUP BY r.u),
    idcg AS (
      SELECT u, CAST(sum(CAST(floor(1e6 * ln(2) / ln(r + 1) + 0.5)
               AS BIGINT)) AS BIGINT) AS idcg_e6
      FROM (
        SELECT u, unnest(range(1, least(count(1), 10) + 1)) AS r
        FROM test GROUP BY u) t
      GROUP BY u),
    ev AS (
      SELECT tr.u FROM (SELECT DISTINCT u FROM train) tr
      JOIN (SELECT DISTINCT u FROM test) te ON tr.u = te.u),
    agg AS (
      SELECT CAST(count(1) AS BIGINT) AS n_users_eval,
             CAST(sum(CASE WHEN h.first_hit IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_users_hit,
             CAST(sum(coalesce(1000000 // h.first_hit, 0)) AS BIGINT)
               AS sum_rr_ppm,
             CAST(sum(coalesce((h.dcg_e6 * 1000000) // i.idcg_e6, 0))
               AS BIGINT) AS sum_ndcg_ppm
      FROM ev LEFT JOIN hitagg h ON ev.u = h.u
      LEFT JOIN idcg i ON ev.u = i.u)
    SELECT n_users_eval, n_users_hit,
           sum_rr_ppm // n_users_eval AS mrr_ppm,
           sum_ndcg_ppm // n_users_eval AS mean_ndcg_ppm
    FROM agg"""

  def cfCoverageOracle: String = """
    WITH train_b AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate < DATE '1997-01-01'),
    train AS (
      SELECT u, item FROM (
        SELECT u, item, row_number() OVER (PARTITION BY u ORDER BY item) AS rk
        FROM train_b) t WHERE rk <= 128),
    pop AS (
      SELECT item, CAST(count(1) AS BIGINT) AS n_item FROM train GROUP BY item),
    co AS (
      SELECT a.item AS ia, b.item AS ib, CAST(count(1) AS BIGINT) AS cooc
      FROM train a JOIN train b ON a.u = b.u AND a.item < b.item
      GROUP BY 1, 2 HAVING count(1) >= 2),
    sym AS (
      SELECT ia AS item, ib AS nbr, cooc FROM co
      UNION ALL SELECT ib, ia, cooc FROM co),
    scored AS (
      SELECT s.item, s.nbr, s.cooc,
             CAST((s.cooc * s.cooc * 1000000) // (p1.n_item * p2.n_item)
               AS BIGINT) AS cos2_ppm
      FROM sym s JOIN pop p1 ON s.item = p1.item
      JOIN pop p2 ON s.nbr = p2.item),
    nbrs AS (
      SELECT item, nbr, cos2_ppm FROM (
        SELECT *, row_number() OVER (PARTITION BY item
          ORDER BY cos2_ppm DESC, cooc DESC, nbr) AS rank
        FROM scored) t WHERE rank <= 5),
    cand AS (
      SELECT t.u, n.nbr AS rec, CAST(sum(n.cos2_ppm) AS BIGINT) AS score
      FROM train t JOIN nbrs n ON t.item = n.item
      GROUP BY 1, 2),
    fresh AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM train t
                        WHERE t.u = c.u AND t.item = c.rec)),
    recs AS (
      SELECT u, rec FROM (
        SELECT *, row_number() OVER (PARTITION BY u
          ORDER BY score DESC, rec) AS rk
        FROM fresh) t WHERE rk <= 10),
    ranked AS (
      SELECT item, row_number() OVER (ORDER BY n_item DESC, item)
               AS pop_rank
      FROM pop),
    rr AS (
      SELECT r.u, r.rec, k.pop_rank
      FROM recs r JOIN ranked k ON r.rec = k.item),
    per_item AS (
      SELECT rec, CAST(count(1) AS BIGINT) AS n_recs FROM rr GROUP BY rec),
    t10 AS (
      SELECT CAST(sum(n_recs) AS BIGINT) AS top10_recs FROM (
        SELECT n_recs FROM per_item
        ORDER BY n_recs DESC, rec LIMIT 10) x),
    cat AS (SELECT CAST(count(1) AS BIGINT) AS n_catalog FROM pop),
    tot AS (
      SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_users,
             CAST(count(1) AS BIGINT) AS recs_total,
             CAST(count(DISTINCT rec) AS BIGINT) AS n_items_recommended,
             CAST(sum(pop_rank) AS BIGINT) AS sum_pop_rank
      FROM rr)
    SELECT tot.n_users, tot.recs_total, tot.n_items_recommended,
           cat.n_catalog,
           (tot.n_items_recommended * 1000000) // cat.n_catalog
             AS coverage_ppm,
           (tot.sum_pop_rank * 100) // tot.recs_total AS mean_pop_rank_e2,
           (t10.top10_recs * 1000000) // tot.recs_total AS top10_share_ppm
    FROM tot CROSS JOIN cat CROSS JOIN t10"""
}
