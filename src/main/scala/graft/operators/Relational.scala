package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational operator surface (SURVEY.md §2.1 R-13..R-17, R-22/R-23
  * and §2.3 E-02..E-10) expressed as declarative DataFrame plans over the
  * fixture tables, so Catalyst keeps full freedom: predicate pushdown and
  * column pruning reach the Parquet scans, join strategies are chosen by
  * size (with explicit `broadcast` hints on the dimension tables that are
  * guaranteed small at any scale factor — region 5 rows, nation 25), and
  * AQE re-plans shuffles at runtime.
  *
  * Every query here is deterministic (explicit ORDER BY on a key, no
  * sampling) so the driver can hash-compare it against a DuckDB oracle.
  * Float-valued aggregates are rounded (2–4 dp) in BOTH engines so the
  * comparison is insensitive to summation-order last-bit drift.
  */
object Relational {

  /** E-02 + scan pushdown: selective filter + narrow projection. The plan
    * must show PushedFilters on l_quantity/l_discount and a 5-column
    * ReadSchema — verified in RelationalSpec. */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 48 && col("l_discount") >= 0.07)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")

  /** R-16-style hash aggregate, TPC-H Q1 shape: grouped sums/avgs/counts
    * with map-side partial aggregation (HashAggregateExec partial+final). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** R-14: inner equi join (fact ⋈ fact on orderkey) + grouped agg + top-k.
    * Shuffle-hash/sort-merge on the fact side is correct at 100 TB: both
    * sides are huge, co-partitioned on the join key by the shuffle. */
  def joinRevenueTopK(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** E-03 left outer join: orders that may lack big lineitems; null-safe
    * aggregates with coalesce so the oracle compare sees no NULL floats. */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir).filter(col("l_quantity") >= 49)
    o.join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy("o_orderkey")
      .agg(
        count(col("l_orderkey")).as("n_big_items"),
        round(coalesce(sum("l_quantity"), lit(0.0)), 2).as("big_qty"))
      .filter(col("o_orderkey") % 7 === 0)
      .orderBy("o_orderkey")
  }

  /** E-03 right outer join (same semantics as left, written from the
    * other side to exercise the plan shape). */
  def joinRightOuter(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_discount") >= 0.09)
    val o  = Tables.orders(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"), "right")
      .groupBy("o_orderstatus")
      .agg(
        count(col("l_orderkey")).as("n_discounted"),
        count(lit(1)).as("n_rows"))
      .orderBy("o_orderstatus")
  }

  /** E-03 full outer join: customer set vs ordering-customer set; both
    * sides contribute unmatched keys. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 9000).select("c_custkey", "c_mktsegment")
    val o = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_big_orders"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        coalesce(col("c_mktsegment"), lit("?")).as("segment"),
        coalesce(col("n_big_orders"), lit(0L)).as("n_big_orders"))
      .orderBy("custkey")
  }

  /** E-03 left semi join (EXISTS): customers having at least one F order. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_nationkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** E-03 left anti join (NOT EXISTS): customers with no high-value
    * orders (every customer has SOME order in the fixtures, so the
    * predicate keeps the result non-trivial). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 250000)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** R-15-style multi-hop dimension join with explicit broadcast hints:
    * region (5 rows) and nation (25 rows) are broadcast at ANY scale
    * factor, so the only shuffle is the customer-side aggregation. */
  def joinBroadcastDims(spark: SparkSession, dir: String): DataFrame = {
    val r = broadcast(Tables.region(spark, dir))
    val n = broadcast(Tables.nation(spark, dir))
    val c = Tables.customer(spark, dir)
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum("c_acctbal"), 2).as("sum_acctbal"))
      .orderBy("r_name", "n_name")
  }

  /** q0d: the 6-TABLE STAR JOIN (TPC-H Q5 shape) — the canonical
    * join-ordering workload: two fact tables (orders⋈lineitem) joined
    * through customer to supplier with a same-nation constraint, and
    * two broadcast dimension hops (nation→region) applying a region
    * filter that prunes 4/5 of the join tree's output. What matters at
    * 100 TB: the date filter is pushed into the orders scan, region is
    * filtered BEFORE broadcasting so the nation broadcast carries only
    * the surviving region's rows, and Catalyst/AQE order the fact
    * joins by the filtered sizes rather than the declared order. The
    * same-nation predicate rides the supplier join as an extra equi
    * key, not a post-filter — so no customer×supplier blowup ever
    * materializes. */
  def starJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val r = broadcast(Tables.region(spark, dir).where(col("r_name") === "ASIA"))
    val n = broadcast(Tables.nation(spark, dir)
      .join(r, col("n_regionkey") === col("r_regionkey")))
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** q0g: EXCHANGE REUSE — the plan property that makes multi-output
    * analytics affordable at 100 TB: two aggregations consuming the
    * IDENTICAL shuffled join must read ONE exchange, not re-shuffle
    * the fact table twice. Spark's ReuseExchange rule dedupes
    * identical exchange subtrees across the plan; here the same
    * lineitem⋈orders join feeds a revenue rollup and a volume rollup
    * that meet again on the group key, and the q0f technique (bounded
    * probe → read the FINAL adaptive plan) folds the `ReusedExchange`
    * evidence into the graded row — the hash itself certifies the
    * join's shuffles were paid once. Money is floored to exact cents
    * per row before summing (q2i doctrine). */
  def exchangeReuse(spark: SparkSession, dir: String): DataFrame = {
    // Reuse requires the two consumers' subtrees to CANONICALIZE
    // identically, so both rollups project the same columns (each also
    // aggregates min() of the other's group key — differential column
    // pruning would otherwise specialize the scans apart, which is
    // exactly why naive multi-output jobs silently re-shuffle). The
    // conf window pins the shuffle-join regime the property matters
    // in (a broadcast join has no big exchange to save; at 100 TB the
    // orders side wouldn't broadcast anyway).
    graft.SessionConf.withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val base = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"), col("o_orderstatus"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100 + 0.5).as("disc_cents"))
      val byPriority = base.groupBy("o_orderpriority")
        .agg(sum("disc_cents").as("cents"), count(lit(1)).as("n_items"),
          min("o_orderstatus").as("other_min"))
        .select(lit("priority").as("group_kind"),
          col("o_orderpriority").as("group_value"),
          col("cents"), col("n_items"), col("other_min"))
      val byStatus = base.groupBy("o_orderstatus")
        .agg(sum("disc_cents").as("cents"), count(lit(1)).as("n_items"),
          min("o_orderpriority").as("other_min"))
        .select(lit("status").as("group_kind"),
          col("o_orderstatus").as("group_value"),
          col("cents"), col("n_items"), col("other_min"))
      val out = byPriority.unionByName(byStatus)
        .orderBy("group_kind", "group_value")
      // bounded probe (≤ |priorities| + |statuses| rows) EXECUTES the
      // query itself: AQE stage reuse only exists in the final adaptive
      // plan of the real job — a side count() plans its own execution
      // and shows nothing
      out.collect()
      val reused = out.queryExecution.executedPlan.toString
        .contains("ReusedExchange")
      out.withColumn("exchange_reused", lit(reused))
    }
  }

  /** q0h: AQE SKEW-JOIN SPLIT on the graded surface — the runtime
    * defense against UNKNOWN skew, next to q27's explicit salting for
    * known-skewed keys (AqeSkewSpec's assertion promoted to a
    * hash-checked query, the q0g pattern). A deliberately skewed join —
    * one key carrying ~90% of 300k fact rows, the pad column
    * aggregated so pruning cannot drop its bytes before the shuffle —
    * runs under test-scale skew thresholds; the bounded 97-row collect
    * executes the job, `skew_split` is read from the FINAL adaptive
    * plan (skew handling only exists there) and folded into every
    * graded row, and the oracle replays the numbers arithmetically
    * (DuckDB's md5/range agree with Spark's) with literal `true` — so
    * the optimizer's intervention itself is what the hash certifies.
    * The synthetic fact table is the point: fixture keys aren't skewed
    * enough to trip the splitter honestly. */
  def aqeSkewSplit(spark: SparkSession, dir: String): DataFrame =
    graft.SessionConf.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      // a broadcast join has no shuffled partition to skew-split
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.range(300000).select(
        when(col("id") % 10 === 0, pmod(col("id"), lit(97))).otherwise(lit(0L)).as("k"),
        concat(md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string"))).as("pad"))
      val dim = spark.range(97).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("name"))
      val out = fact.join(dim, "k").groupBy("name")
        .agg(count(lit(1)).as("n"), max(length(col("pad"))).as("pad_len"))
        .orderBy("name")
      out.collect() // bounded 97-row probe; evidence only exists in the final adaptive plan
      val plan = out.queryExecution.executedPlan.toString
      out.withColumn("skew_split",
        lit(plan.contains("skew=true") || plan.contains("isSkewJoin=true")))
    }

  /** q0i: AQE PARTITION COALESCING — the fourth adaptive-execution
    * pillar on the graded surface (q0a runtime bloom, q0f DPP, q0g
    * exchange reuse, q0h skew split): a small aggregate planned at the
    * session's 32 shuffle partitions would run 32 mostly-empty tasks;
    * AQE reads the actual map-output sizes and COALESCES the read side
    * to a handful of partitions at runtime — at 100 TB this is what
    * keeps the task count proportional to data, not to a static conf,
    * across every stage of every job. Evidence (`coalesced` /
    * `AQEShuffleRead` in the FINAL adaptive plan, after the bounded
    * 5-row in-query collect) is folded into every graded row; the
    * oracle replays the aggregate arithmetic plus literal true, so the
    * optimizer's intervention is itself hash-certified (the q0h
    * pattern). */
  def aqeCoalesce(spark: SparkSession, dir: String): DataFrame =
    graft.SessionConf.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "67108864") {
      val out = Tables.orders(spark, dir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
        .orderBy("o_orderpriority")
      out.collect() // bounded 5-row probe; evidence lives in the final adaptive plan
      val plan = out.queryExecution.executedPlan.toString
      out.withColumn("coalesced",
        lit(plan.contains("coalesced") || plan.contains("AQEShuffleRead")))
    }

  val aqeCoalesceOracle: String = """
    SELECT o_orderpriority,
           CAST(count(1) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS cents,
           true AS coalesced
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  val aqeSkewSplitOracle: String = """
    WITH fact AS (
      SELECT CASE WHEN id % 10 = 0 THEN id % 97 ELSE 0 END AS k,
             md5(CAST(id AS VARCHAR)) || md5(CAST(id + 1 AS VARCHAR)) AS pad
      FROM range(300000) t(id)),
    dim AS (SELECT id AS k, 'd' || id AS name FROM range(97) t(id))
    SELECT name, CAST(count(1) AS BIGINT) AS n,
           CAST(max(length(pad)) AS INTEGER) AS pad_len,
           true AS skew_split
    FROM fact JOIN dim USING (k)
    GROUP BY name ORDER BY name"""

  val exchangeReuseOracle: String = """
    WITH j AS (
      SELECT o.o_orderpriority, o.o_orderstatus,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
               + 0.5) AS BIGINT) AS disc_cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    p AS (
      SELECT 'priority' AS group_kind, o_orderpriority AS group_value,
             CAST(sum(disc_cents) AS BIGINT) AS cents,
             CAST(count(1) AS BIGINT) AS n_items,
             min(o_orderstatus) AS other_min
      FROM j GROUP BY o_orderpriority),
    s AS (
      SELECT 'status' AS group_kind, o_orderstatus AS group_value,
             CAST(sum(disc_cents) AS BIGINT) AS cents,
             CAST(count(1) AS BIGINT) AS n_items,
             min(o_orderpriority) AS other_min
      FROM j GROUP BY o_orderstatus)
    SELECT group_kind, group_value, cents, n_items, other_min,
           true AS exchange_reused
    FROM (SELECT * FROM p UNION ALL SELECT * FROM s)
    ORDER BY group_kind, group_value"""

  /** q0e: NULL-SAFE EQUI JOIN (`<=>` / IS NOT DISTINCT FROM) — the
    * join semantic plain `=` can't express: NULL keys match each
    * other instead of vanishing. Exercised by NULLing out one planted
    * nation key on both sides; the null group must survive the join
    * (labelled −1 in the output). `<=>` is a first-class equi-join key
    * for Spark's hash joins — same shuffle/broadcast plan shapes as
    * `=`, no fallback to a nested-loop predicate. */
  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), expr("nullif(c_nationkey, 13)").as("nk"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), expr("nullif(s_nationkey, 13)").as("snk"))
    cust.join(supp, col("nk") <=> col("snk"))
      .groupBy(coalesce(col("nk"), lit(-1)).as("nk_group"))
      .agg(
        countDistinct("c_custkey").as("n_customers"),
        countDistinct("s_suppkey").as("n_suppliers"),
        count(lit(1)).as("n_pairs"))
      .orderBy("nk_group")
  }

  /** q1i: SPEARMAN RANK CORRELATION per group — the robust
    * (monotone-relationship) correlation next to q1b's Pearson
    * moments: rank both variables within the group, then Pearson-corr
    * the ranks. Ranks are `row_number` with a deterministic key
    * tiebreak rather than average-rank ties, so both engines assign
    * identical ranks and the statistic replays exactly (the documented
    * convention; average-rank Spearman differs only on ties). Two
    * window passes share the one shuffle on the group key. */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    val wq = Window.partitionBy("l_returnflag")
      .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
    val wp = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("rq", row_number().over(wq).cast("double"))
      .withColumn("rp", row_number().over(wp).cast("double"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("rq"), col("rp")), 6).as("spearman_rho"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("pearson_r"))
      .orderBy("l_returnflag")
  }

  /** q1j: SQL REGRESSION AGGREGATES — the regr_* family (slope,
    * intercept, R², count, means): closed-form per-group OLS as ONE
    * hash aggregate, the SQL-standard way to fit y = a·x + b at any
    * scale without an ML pass. All five statistics are
    * Welford-mergeable (they reduce to the same co-moment sums as
    * q1b), so the plan is a single map-side-combined aggregate —
    * 100 TB costs one scan. */
  def regressionAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)").as("n"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
        round(expr("regr_avgx(l_extendedprice, l_quantity)"), 4).as("avg_x"),
        round(expr("regr_avgy(l_extendedprice, l_quantity)"), 4).as("avg_y"))
      .orderBy("l_returnflag")

  /** q1g: DISTRIBUTION WINDOW FUNCTIONS — ntile/percent_rank/cume_dist,
    * the ranking family q11–q13 doesn't cover, folded into a per-
    * (segment, quartile) summary. One shuffle on the partition key;
    * the three functions share a single window ordering so Spark
    * evaluates them in one WindowExec pass. */
  def windowDistribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy("c_mktsegment", "quartile")
      .agg(
        count(lit(1)).as("n"),
        round(min("c_acctbal"), 2).as("lo_bal"),
        round(max("c_acctbal"), 2).as("hi_bal"),
        round(max("pr"), 6).as("max_percent_rank"),
        round(max("cd"), 6).as("max_cume_dist"))
      .orderBy("c_mktsegment", "quartile")
  }

  /** q1h: ARRAY HIGHER-ORDER FUNCTIONS on the graded surface — the
    * nested-data processing path (collect → sort → filter / transform /
    * aggregate) every log-analytics pipeline runs when events are
    * rolled up into per-entity arrays. The array is built with
    * `collect_list(struct(ts, event_id, value))` + `array_sort` — NOT
    * relying on collect order, which Spark does not define — so the
    * left-to-right `aggregate` fold visits values in the same (ts,
    * event_id) order DuckDB's `array_agg(... ORDER BY)` produces, and
    * the floating-point sum is bit-identical across engines. All the
    * lambdas are codegen'd HOFs: no UDFs, rows never leave the
    * executors, and the per-user array is bounded by the session's
    * event count (the watermark/TTL bound in the streaming analogue). */
  def arrayHofStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(collect_list(struct(col("ts"), col("event_id"), col("value"))).as("evs"))
      .select(col("user_id"),
        expr("transform(array_sort(evs), x -> x.value)").as("vals"))
      .select(
        col("user_id"),
        size(col("vals")).as("n_events"),
        expr("size(filter(vals, v -> v > 100.0D))").as("n_big"),
        round(expr("aggregate(vals, 0.0D, (acc, v) -> acc + v / array_max(vals))"), 4)
          .as("norm_sum"),
        round(element_at(col("vals"), 1), 2).as("first_value"),
        round(element_at(col("vals"), -1), 2).as("last_value"))
      .orderBy("user_id")

  /** E-04 global sort + limit (top-k by value, key tiebreak). */
  def topKOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(15)

  /** E-04/E-07 per-group top-k via row_number window — the scalable
    * pattern (no global sort; one shuffle on the partition key). */
  def topKPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("c_mktsegment", "rk", "c_custkey", "c_acctbal")
      .orderBy("c_mktsegment", "rk")
  }

  /** E-07 lag window: per-customer order-value delta over time. */
  def windowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("prev_price", lag("o_totalprice", 1).over(w))
      .withColumn("delta", round(col("o_totalprice") - coalesce(col("prev_price"), lit(0.0)), 2))
      .filter(col("o_custkey") % 100 === 0)
      .select("o_custkey", "o_orderkey", "delta")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** E-07 running frame: cumulative quantity per supplier, rows frame
    * UNBOUNDED PRECEDING..CURRENT ROW over a fully-keyed order. */
  def windowRunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .withColumn("running_qty", round(sum("l_quantity").over(w), 2))
      .filter(col("l_suppkey") <= 3)
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** E-05 set operations: INTERSECT ∪ EXCEPT composition over custkey
    * sets (all distinct-set semantics, matching SQL). */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val rich   = Tables.customer(spark, dir).filter(col("c_acctbal") > 5000).select("c_custkey")
    val poor   = Tables.customer(spark, dir).filter(col("c_acctbal") < 0).select("c_custkey")
    val active = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey"))
    rich.intersect(active).union(poor.except(active)).distinct()
      .orderBy("c_custkey")
  }

  /** E-06 rollup over the region→nation hierarchy; group-null levels are
    * folded to 'ALL' so the oracle compare never sees NULL sort order. */
  def rollupRegionNation(spark: SparkSession, dir: String): DataFrame = {
    val r = broadcast(Tables.region(spark, dir))
    val n = broadcast(Tables.nation(spark, dir))
    val c = Tables.customer(spark, dir)
    // The rollup itself goes through SQL over a temp view: referencing a
    // rollup grouping column after .agg() on a post-join frame trips
    // Spark 4.1's ambiguous-self-join detector (the Expand duplicates
    // join-tagged attributes), while the identical SQL plan resolves
    // cleanly — same physical Expand+HashAggregate either way.
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("rname"), col("n_name").as("nname"), col("c_acctbal"))
      .createOrReplaceTempView("graft_cust_geo")
    spark.sql("""
      SELECT coalesce(rname, 'ALL') AS region,
             coalesce(nname, 'ALL') AS nation,
             count(1) AS n_customers,
             round(sum(c_acctbal), 2) AS sum_bal
      FROM graft_cust_geo
      GROUP BY ROLLUP (rname, nname)
      ORDER BY region, nation""")
  }

  /** E-06 cube over two independent order dimensions. */
  def cubeStatusPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy("status", "priority")

  /** E-06 explicit GROUPING SETS via SQL. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem_gs")
    spark.sql("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             count(1) AS n, round(sum(l_quantity), 2) AS qty
      FROM graft_lineitem_gs
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rf, ls""")
  }

  /** E-08 distinct + grouped count-distinct. */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(
        countDistinct("c_nationkey").as("n_nations"),
        count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")

  /** E-08 approx_count_distinct (HLL++) next to the exact count. The
    * raw sketch estimate is engine-specific (DuckDB cannot replay
    * HLL++), so the query emits the exact count plus `approx_ok` — the
    * estimate folded into its contract (relative error ≤ 5% at rsd
    * 0.02) — which makes every output column deterministic and the
    * entry hash-checkable; the raw estimate's ±5% band is additionally
    * asserted in RelationalSpec. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct("l_partkey", 0.02).as("approx_parts"),
        countDistinct("l_partkey").as("exact_parts"))
      .select(
        col("l_returnflag"),
        col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= col("exact_parts") * 0.05).as("approx_ok"))
      .orderBy("l_returnflag")

  /** q1a: the SQL-TEXT entry path (`spark.sql`) with semantics only the
    * SQL planner surfaces — a CTE, a correlated EXISTS, a NOT IN, and a
    * correlated scalar subquery in one statement. Catalyst decorrelates
    * all three subqueries into joins (RewritePredicateSubquery → left
    * semi / null-aware anti join; RewriteCorrelatedScalarSubquery → left
    * outer join over the pre-aggregated subquery), so the executed plan
    * is the same shuffle-join shape as the DataFrame queries — there is
    * no per-row subquery execution to die at scale. The DuckDB oracle
    * runs the same statement, so the decorrelation must be
    * semantics-preserving, null cases included. */
  def sqlSubqueries(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    Tables.nation(spark, dir).createOrReplaceTempView("nation")
    spark.sql("""
      WITH spend AS (
        SELECT o_custkey,
               count(1) AS n_orders,
               round(sum(o_totalprice), 2) AS total_spend
        FROM orders GROUP BY o_custkey)
      SELECT c.c_custkey, c.c_mktsegment, s.n_orders, s.total_spend,
             (SELECT round(avg(o2.o_totalprice), 2) FROM orders o2
               WHERE o2.o_custkey = c.c_custkey) AS avg_order_price
      FROM customer c JOIN spend s ON s.o_custkey = c.c_custkey
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
        AND c.c_nationkey NOT IN
              (SELECT n_nationkey FROM nation WHERE n_name = 'FRANCE')
      ORDER BY s.total_spend DESC, c.c_custkey
      LIMIT 20""")
  }

  /** q2q: RECURSIVE CTE — Spark 4's native `WITH RECURSIVE`
    * (SPARK-24497) on the graded surface, the SQL-text path for
    * hierarchy walks that previously demanded the hand-rolled loops of
    * q57/q5e. A 3-ary tree is synthesized arithmetically over doc ids
    * (parent(v) = (v−1) div 3, root 0 — both engines rebuild it from
    * the ids alone), every node walks its ancestor chain to the root
    * inside the recursion, and the graded output is the depth
    * histogram with per-level id ranges plus each level's TOTAL
    * ancestor-row count — the number that certifies the recursion
    * actually ran level by level and stopped.
    *
    * Scale shape: the iteration count is the tree DEPTH (log₃ n — 6
    * at sf0.01, 13 at a billion docs), and each round is a narrow
    * self-extension of the frontier (no join against the corpus), so
    * the recursive union materializes Σ depth ≈ n·log₃ n rows total —
    * the same O(n log n) a pointer-jumping loop pays, with Catalyst
    * owning the loop instead of driver-side Scala. */
  def recursiveHierarchy(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).select(col("doc_id"))
      .createOrReplaceTempView("rh_docs")
    spark.sql("""
      WITH RECURSIVE anc(id, anc_id, depth) AS (
        SELECT doc_id, doc_id, 0 FROM rh_docs
        UNION ALL
        SELECT id, (anc_id - 1) div 3, depth + 1 FROM anc WHERE anc_id > 0
      ),
      node_depth AS (
        SELECT id, max(depth) AS depth, count(1) AS chain_rows
        FROM anc GROUP BY id
      )
      SELECT depth, count(1) AS n_nodes,
             min(id) AS min_id, max(id) AS max_id,
             sum(chain_rows) AS ancestor_rows
      FROM node_depth
      GROUP BY depth ORDER BY depth""")
  }

  val recursiveHierarchyOracle: String = """
    WITH RECURSIVE anc(id, anc_id, depth) AS (
      SELECT doc_id, doc_id, 0 FROM documents
      UNION ALL
      SELECT id, (anc_id - 1) // 3, depth + 1 FROM anc WHERE anc_id > 0
    ),
    node_depth AS (
      SELECT id, max(depth) AS depth, count(1) AS chain_rows
      FROM anc GROUP BY id
    )
    SELECT CAST(depth AS INTEGER) AS depth,
           CAST(count(1) AS BIGINT) AS n_nodes,
           CAST(min(id) AS BIGINT) AS min_id,
           CAST(max(id) AS BIGINT) AS max_id,
           CAST(sum(chain_rows) AS BIGINT) AS ancestor_rows
    FROM node_depth
    GROUP BY depth ORDER BY depth"""

  /** q58: exact percentiles next to the t-digest-class sketch
    * (`percentile_approx`, Greenwald-Khanna in Spark), following the q25
    * contract-fold pattern: the sketch estimate itself is
    * engine-specific, so the graded columns are the EXACT interpolated
    * quantiles (DuckDB `quantile_cont` uses the identical
    * lower + frac·(upper−lower) interpolation) plus `sketch_ok`, which
    * asserts each approximate quantile lands inside the exact quantile
    * band at p ± 0.001 — 10× the sketch's 1/accuracy = 1e-4 rank-error
    * guarantee. At 100 TB the sketch is the point: one pass, fixed
    * memory, mergeable partials — while exact percentiles need a full
    * sort; running both here is what makes the contract checkable. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val ps = Seq(0.25, 0.5, 0.75)
    val eps = 0.001
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))

    // Exact side as SORT + RANK-JOIN, not the built-in `percentile`:
    // Percentile is a TypedImperativeAggregate whose partial state is
    // EVERY value in the partition, so partial→final aggregation
    // shuffles the whole column as serialized blobs and buffers it on
    // one reducer per group. The sort-based form spills gracefully and
    // reads back only the handful of ranked rows the quantiles need —
    // the shape that survives 100 TB (with a range-partitioned global
    // rank replacing the per-group window when one group outgrows a
    // task).
    // one scan + one sort, cached: counts, the rank probes AND the
    // sketch all read the materialized ranked frame (the sketch's
    // partial aggregation rides the existing g-partitioning, no second
    // shuffle); cache cleared at the bench/verify group boundary
    val ranked = li.withColumn("rk",
      row_number().over(Window.partitionBy("g").orderBy("v"))).cache()
    val counts = ranked.groupBy("g").agg(max("rk").as("n"))
    // type-7 position pos = 1 + (n−1)p: interpolate between floor/ceil
    // ranks for the graded quantiles; band edges (p ± eps) take the
    // OUTWARD nearest rank — a slightly wider band, still 10× the
    // sketch's 1e-4 rank-error guarantee
    val needed = counts
      .select(col("g"), col("n"), explode(typedLit(ps)).as("p"))
      .withColumn("pos", lit(1.0) + (col("n") - 1) * col("p"))
      .withColumn("frac", col("pos") - floor(col("pos")))
      .withColumn("roles", array(
        struct(floor(col("pos")).cast("long").as("rk"), lit("lo").as("role")),
        struct(ceil(col("pos")).cast("long").as("rk"), lit("hi").as("role")),
        struct(floor(lit(1.0) + (col("n") - 1) * (col("p") - eps))
          .cast("long").as("rk"), lit("blo").as("role")),
        struct(ceil(lit(1.0) + (col("n") - 1) * (col("p") + eps))
          .cast("long").as("rk"), lit("bhi").as("role"))))
    val wanted = needed.select(col("g"), col("p"), col("frac"),
      explode(col("roles")).as("r"))
      .select(col("g"), col("p"), col("frac"),
        col("r.rk").as("rk"), col("r.role").as("role"))
    val perP = ranked.join(broadcast(wanted), Seq("g", "rk"))
      .groupBy("g", "p", "frac")
      .agg(
        max(when(col("role") === "lo", col("v"))).as("vlo"),
        max(when(col("role") === "hi", col("v"))).as("vhi"),
        max(when(col("role") === "blo", col("v"))).as("vblo"),
        max(when(col("role") === "bhi", col("v"))).as("vbhi"))
      .withColumn("exact", col("vlo") + col("frac") * (col("vhi") - col("vlo")))

    // Sketch side: one-pass mergeable GK summaries — the operator whose
    // contract is being audited
    val approx = ranked.groupBy("g").agg(
      percentile_approx(col("v"), array(ps.map(lit(_)): _*), lit(10000))
        .as("approx"))

    perP.join(broadcast(approx), "g")
      .withColumn("a", element_at(col("approx"),
        when(col("p") === 0.25, 1).when(col("p") === 0.5, 2).otherwise(3)))
      .withColumn("ok", col("a").between(col("vblo"), col("vbhi")))
      .groupBy("g")
      .agg(
        round(max(when(col("p") === 0.25, col("exact"))), 2).as("p25"),
        round(max(when(col("p") === 0.5, col("exact"))), 2).as("p50"),
        round(max(when(col("p") === 0.75, col("exact"))), 2).as("p75"),
        min(col("ok")).as("sketch_ok"))
      .join(broadcast(counts.withColumnRenamed("n", "n_rows")), "g")
      .select(col("g").as("l_returnflag"), col("n_rows"),
        col("p25"), col("p50"), col("p75"), col("sketch_ok"))
      .orderBy("l_returnflag")
  }

  /** E-09 scalar string functions over part. */
  def scalarString(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_uc"),
        lower(col("p_type")).as("type_lc"),
        substring(col("p_name"), 1, 8).as("name8"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("#", col("p_brand"), col("p_type")).as("tag"))
      .filter(col("p_partkey") % 17 === 0)
      .orderBy("p_partkey")

  /** E-09 scalar math functions. */
  def scalarMath(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir)
      .select(
        col("s_suppkey"),
        round(abs(col("s_acctbal")), 2).as("abs_bal"),
        ceil(col("s_acctbal")).as("ceil_bal"),
        floor(col("s_acctbal")).as("floor_bal"),
        round(sqrt(abs(col("s_acctbal"))), 4).as("sqrt_bal"),
        (col("s_suppkey") % 7).as("mod7"))
      .orderBy("s_suppkey")

  /** E-09 date functions: order volume by calendar month. */
  def dateAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("yr", "mo")

  /** E-09 JSON extraction from the events.props string column. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg("k"), 4).as("avg_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  /** q1b: multi-moment statistical aggregates — correlation, sample
    * covariance, sample stddev/variance per group, the profiling
    * surface every feature-engineering pass runs. All are single-pass
    * partially-aggregable (Welford-style merge states), so the plan is
    * one map-side-combined hash aggregate — no second scan, no window.
    * Only the bias-correction-stable moments are graded (corr, covar,
    * stddev, var); skewness/kurtosis definitions differ across engines
    * (sample vs population corrections), so grading them would test the
    * engines' conventions, not this code. */
  def statsMoments(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
        round(covar_samp("l_quantity", "l_extendedprice"), 2).as("covar_qty_price"),
        round(stddev_samp("l_extendedprice"), 2).as("stddev_price"),
        round(var_samp("l_quantity"), 4).as("var_qty"))
      .orderBy("l_returnflag")

  /** q1c: fixed-width HISTOGRAM via `width_bucket` — the numeric
    * profiling pass (data-quality dashboards, drift monitors) as one
    * map-side-combined aggregate: bucket assignment is a narrow
    * per-row expression, so the plan is scan → partial agg → one
    * exchange of ≤nBuckets+2 rows per partition. Bucket edges are
    * exact integers, so assignment replays identically. */
  def histogram(spark: SparkSession, dir: String,
      lo: Double = 0.0, hi: Double = 80000.0, nBuckets: Int = 16): DataFrame =
    Tables.lineitem(spark, dir)
      .select(width_bucket(col("l_extendedprice"), lit(lo), lit(hi), lit(nBuckets))
        .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("bucket_lo",
        round(lit(lo) + (col("bucket") - 1) * ((hi - lo) / nBuckets), 2))
      .orderBy("bucket")

  /** q0a: runtime BLOOM-FILTER semi-join reduction — the scale
    * technique for a big-probe/selective-build shuffle join: Catalyst's
    * InjectRuntimeFilter builds a bloom filter over the filtered dim's
    * join keys (one small aggregate) and pushes `might_contain` into
    * the fact scan, so probe rows that cannot match are dropped BEFORE
    * the shuffle — at 100 TB that is the difference between shuffling
    * the whole fact table and shuffling the ~matching fraction. The
    * rewrite is gated on production size thresholds, so the operator
    * runs inside [[SessionConf.withRuntimeBloomFilter]] and executes
    * its plan within that window (localCheckpoint — the checkpoint also
    * makes the returned frame independent of the restored conf). Bloom
    * filters have NO false negatives, so the result is exactly the
    * plain join's — which is what the oracle replays — and
    * `bloom_pushed` folds the plan evidence into the graded row, the
    * q28 PartitionFilters pattern. */
  def joinBloomReduced(spark: SparkSession, dir: String): DataFrame =
    graft.SessionConf.withRuntimeBloomFilter(spark) {
      val sup = Tables.supplier(spark, dir)
        .filter(col("s_acctbal") > 9000)
        .select(col("s_suppkey"), col("s_name"))
      val joined = Tables.lineitem(spark, dir)
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
      val hasBloom = joined.queryExecution.optimizedPlan.toString
        .contains("might_contain")
      joined.withColumn("bloom_pushed", lit(hasBloom))
        .orderBy("s_suppkey")
        .localCheckpoint()
    }

  /** q0b: BUCKETED co-located join on the graded surface (the
    * BucketingSpec plan assertion, promoted to a hash-checked query the
    * q28/q0a way): both sides are written bucketed+sorted on the join
    * key, so the join consumes the bucket layout directly — NO exchange
    * on either side; at 100 TB this is THE strategy for a recurring
    * fact-fact join, paying the shuffle once at write time and never
    * again per query. `bucketed_no_shuffle` folds the plan evidence
    * (no hashpartitioning exchange below the join) into the graded row;
    * the oracle replays the plain join, which the bucketed one must
    * equal exactly. Tables are session-catalog-managed and dropped in
    * `finally`; the result is localCheckpointed first so the returned
    * frame outlives the drop. */
  def joinBucketedColocated(spark: SparkSession, dir: String,
      buckets: Int = 8): DataFrame = {
    // r14 (guide §6 small files): repartition by the bucket key BEFORE
    // the bucketed write. `repartition(n, key)` and the bucket-id
    // assignment use the same pmod(murmur3(key), n), so each write task
    // holds exactly one bucket's rows → exactly `buckets` files per
    // table instead of (scan tasks × buckets); at 100 TB that is the
    // difference between a healthy layout and a small-file explosion,
    // and the write parallelizes across buckets instead of riding the
    // scan's task layout. Table CONTENT is byte-identical (same rows in
    // the same buckets, sorted by the same sortBy).
    Tables.orders(spark, dir)
      .repartition(buckets, col("o_orderkey"))
      .write.bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_b_orders")
    Tables.lineitem(spark, dir)
      .repartition(buckets, col("l_orderkey"))
      .write.bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("graft_b_lineitem")
    try {
      val joined = spark.table("graft_b_lineitem")
        .join(spark.table("graft_b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 2).as("sum_qty"))
      // below the partial aggregate, the join must consume bucketed
      // scans directly — any hashpartitioning exchange on a join key
      // means the bucket layout was not used
      val joinPart = joined.queryExecution.executedPlan.toString
        .split("HashAggregate").last
      val noShuffle = !joinPart.contains("Exchange hashpartitioning(l_orderkey") &&
        !joinPart.contains("Exchange hashpartitioning(o_orderkey")
      joined.withColumn("bucketed_no_shuffle", lit(noShuffle))
        .orderBy("o_orderstatus")
        .localCheckpoint()
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
    }
  }

  /** q0c: JOIN-STRATEGY HINT control — the optimizer-steering API a
    * user reaches for when statistics mislead: the dim side would
    * normally broadcast; the SHUFFLE_HASH hint forces a shuffled hash
    * join instead (the right call when the "small" side is too big for
    * driver memory but still far smaller than the probe side — it
    * builds per-partition hash maps and skips the sort-merge sort).
    * `hint_respected` folds the plan evidence (ShuffledHashJoin
    * operator present) into the graded row; the hint must not change
    * the RESULT, which is what the oracle replays. */
  def joinHintShuffleHash(spark: SparkSession, dir: String): DataFrame = {
    val joined = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir).hint("shuffle_hash"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
    val respected = joined.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin")
    joined.withColumn("hint_respected", lit(respected))
      .orderBy("s_nationkey")
  }

  /** Skew-resistant equi join via key salting: the fact side tags each
    * row with a random-free deterministic salt (hash-derived, so the
    * oracle can replay it) and the dimension side is exploded once per
    * salt value, turning one hot shuffle partition per heavy key into
    * `saltFactor` cooler ones. Result set is IDENTICAL to the unsalted
    * join (asserted in RelationalSpec); AQE's skew-join handles the
    * same problem adaptively — this is the explicit form for when the
    * skew is known ahead of time. */
  def joinSkewSalted(spark: SparkSession, dir: String, saltFactor: Int = 8): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(saltFactor)))
    val supp = Tables.supplier(spark, dir)
      .withColumn("salt", explode(sequence(lit(0), lit(saltFactor - 1)).cast("array<long>")))
    li.join(supp, col("l_suppkey") === col("s_suppkey") && li("salt") === supp("salt"))
      .groupBy("s_suppkey", "s_name")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy("s_suppkey")
  }

  /** E-09 schema-full JSON parsing: `from_json` into a typed struct (the
    * planner-visible alternative to per-path `get_json_object`), plus a
    * map-type projection — exercises JsonToStructs + GetStructField +
    * element_at(map). */
  def jsonStruct(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", IntegerType)))
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        from_json(col("props"), schema).as("p"),
        from_json(col("props"), MapType(StringType, StringType)).as("m"))
      .select(
        col("event_id"),
        col("p.k").as("k_struct"),
        element_at(col("m"), "k").cast("int").as("k_map"))
      .filter(col("event_id") % 101 === 0)
      .orderBy("event_id")
  }

  /** R-07 one-hot widen as an explicit-vocabulary pivot (the scalable
    * form of the reference's driver-side pandas genre widening,
    * MovieLensRecommender.py:13-24): vocabulary is passed explicitly so
    * no implicit driver collect happens. */
  def pivotOneHot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("A" -> "n_a", "N" -> "n_n", "R" -> "n_r"))
      .orderBy("l_linestatus")

  /** SURVEY §7.2 flagship slice — the cluster-average rating predictor
    * re-expressed over fixtures (reference: MovieLensRecommender.py:72-83,
    * 131-151). lineitem plays ratings (user=suppkey, item=partkey,
    * rating=quantity); clusters are a deterministic partkey hash; the
    * 70/30 split is the deterministic predicate variant (SURVEY §7.4 #5).
    * Exercises scan → project → split → join → grouped avg → join → RMSE. */
  def clusterAvgPredictor(spark: SparkSession, dir: String): DataFrame = {
    val ratings = Tables.lineitem(spark, dir).select(
      col("l_suppkey").as("user_id"),
      col("l_partkey").as("item_id"),
      col("l_quantity").as("rating"),
      (col("l_orderkey") % 10).as("bucket"))
    val clusters = Tables.part(spark, dir).select(
      col("p_partkey").as("item_id"),
      (col("p_partkey") % 5).as("cluster"))
    val train = ratings.filter(col("bucket") < 7)
    val test  = ratings.filter(col("bucket") >= 7)

    val ucr = train
      .join(clusters, "item_id")
      .groupBy("user_id", "cluster")
      .agg(avg("rating").as("prediction"))

    test
      .join(clusters, "item_id")
      .join(ucr, Seq("user_id", "cluster"))
      .agg(
        round(sqrt(avg(pow(col("rating") - col("prediction"), 2))), 4).as("rmse"),
        count(lit(1)).as("n_scored"))
  }

  /** q2i: RFM SEGMENTATION — the classic warehouse customer cube:
    * recency (last order date), frequency (order count), monetary
    * (lifetime spend), each quintiled, then the 5×5×5 segment summary.
    *
    * Determinism is engineered the q1e way: monetary is quantized to
    * exact integer CENTS per order row (`floor(p·100 + 0.5)` on the
    * identical parquet double is bit-identical in every engine) BEFORE
    * summing, so the per-customer totals the ntile orders on are exact
    * integers — a raw double sum could flip adjacent near-tied
    * customers across engines. All ntile orderings carry the custkey
    * tiebreak, segment metrics are integer sums / floored ratios.
    *
    * Plan: one orders scan → per-customer hash aggregate; the three
    * ntile windows run over the REDUCED per-customer side (|customers|
    * ≪ |orders|). They are global-sort windows — the standard
    * segmentation plan; at billions of customers the swap is
    * `approx_percentile` cut points (q58's sketch) applied as plain
    * comparisons, same downstream shape. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(spark, dir).groupBy("o_custkey").agg(
      max("o_orderdate").as("last_order"),
      count(lit(1)).as("frequency"),
      sum(floor(col("o_totalprice") * 100 + 0.5)).as("monetary_cents"))
      .cache()
    // EXACT quintiles WITHOUT a single-partition window (the round-12
    // window-audit fix): the customer frame is entity-scale — ntile
    // over Window.orderBy would drag every customer to one partition
    // at 100 TB. Each lane is a distributed global index (range
    // shuffle + per-partition offsets) with ntile arithmetic on top —
    // bit-identical to SQL NTILE(5) under the same total order.
    val n = cust.count()
    val ranked = Seq(
      ("__r", Seq(col("last_order").desc, col("o_custkey"))),
      ("__f", Seq(col("frequency").desc, col("o_custkey"))),
      ("__m", Seq(col("monetary_cents").desc, col("o_custkey"))))
      .foldLeft(cust: DataFrame) { case (df, (c, ord)) =>
        withGlobalIndex(df, ord, c) }
    ranked.select(
        col("frequency"), col("monetary_cents"),
        ntileOfIndex(col("__r"), n, 5).as("r_tile"),
        ntileOfIndex(col("__f"), n, 5).as("f_tile"),
        ntileOfIndex(col("__m"), n, 5).as("m_tile"))
      .groupBy("r_tile", "f_tile", "m_tile")
      .agg(
        count(lit(1)).as("n_customers"),
        sum("monetary_cents").as("total_monetary_cents"),
        floor(sum("frequency").cast("double") / count(lit(1)) * 1000 + 0.5)
          .as("avg_frequency_milli"))
      .orderBy("r_tile", "f_tile", "m_tile")
  }

  def rfmSegmentsOracle: String = """
    WITH cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(1) AS frequency,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS monetary_cents
      FROM orders GROUP BY o_custkey),
    t AS (
      SELECT frequency, monetary_cents,
             ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_tile,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_tile,
             ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_tile
      FROM cust)
    SELECT CAST(r_tile AS BIGINT) AS r_tile,
           CAST(f_tile AS BIGINT) AS f_tile,
           CAST(m_tile AS BIGINT) AS m_tile,
           CAST(count(1) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS total_monetary_cents,
           CAST(floor(CAST(sum(frequency) AS DOUBLE) / count(1) * 1000 + 0.5)
             AS BIGINT) AS avg_frequency_milli
    FROM t GROUP BY r_tile, f_tile, m_tile
    ORDER BY r_tile, f_tile, m_tile"""

  /** q2k: UNPIVOT (melt) — the inverse of q23's pivot and the other half
    * of the wide↔long reshaping pair every warehouse needs (SQL UNPIVOT /
    * pandas melt / dbt unpivot): a wide per-flag measure table melted to
    * (key, measure, value) rows. Uses `Dataset.unpivot` (Spark ≥3.4),
    * which plans as a local EXPAND — m output rows per input row, no
    * shuffle, no join — and because it runs AFTER the aggregation the
    * expansion touches |groups|·m rows, not |lineitem|·m. Measures are
    * quantized to exact integers per the engine's oracle doctrine
    * (cents BEFORE summing), so the long-form values hash identically
    * in both engines. At 100 TB the plan is one lineitem hash aggregate
    * plus a constant-factor local expand: nothing new shuffles. */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(floor(col("l_extendedprice") * 100 + 0.5)).as("sum_base_cents"),
        sum(floor(col("l_discount") * 100 + 0.5)).as("sum_disc_cents"),
        count(lit(1)).as("n_rows"))
    wide.unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("sum_qty"), col("sum_base_cents"),
          col("sum_disc_cents"), col("n_rows")),
        variableColumnName = "measure",
        valueColumnName = "value")
      .orderBy("l_returnflag", "measure")
  }

  def unpivotMeasuresOracle: String = """
    WITH wide AS (
      SELECT l_returnflag,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_base_cents,
             CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_disc_cents,
             CAST(count(1) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, measure, value FROM (
      SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
      UNION ALL
      SELECT l_returnflag, 'sum_base_cents', sum_base_cents FROM wide
      UNION ALL
      SELECT l_returnflag, 'sum_disc_cents', sum_disc_cents FROM wide
      UNION ALL
      SELECT l_returnflag, 'n_rows', n_rows FROM wide)
    ORDER BY l_returnflag, measure"""

  /** q2l: PARETO FRONTIER (skyline) — the multi-objective "best
    * trade-off" operator (SQL:2023 has no SKYLINE; engines hand-roll
    * it): the parts where no other part is simultaneously larger
    * (p_size ↑) and cheaper (price ↓). A point is dominated iff some
    * point with strictly larger x has y ≤ its y, or some point with
    * equal x has strictly smaller y.
    *
    * The naive form is an O(n²) dominance self-join; the sort-based
    * form is a GLOBAL row sort. This plan does neither: a hash
    * aggregate first collapses n rows to the distinct (x, y) coordinate
    * grid with counts, a second collapses to per-x minima — both fully
    * distributed — and only then does a running-min window walk the
    * |distinct x| rows (p_size has ~50 values; any discretized axis is
    * similarly tiny). The single-partition window touches a
    * dimension-sized table, which is the skyline divide-and-conquer
    * merge step expressed declaratively. Equal-x domination falls out
    * of the per-x min; cross-x domination is the running min over
    * strictly-larger x (integer RANGE frame, preceding = larger under
    * DESC). All values exact integers (cents), hash-stable. */
  def paretoFrontier(spark: SparkSession, dir: String): DataFrame = {
    val coords = Tables.part(spark, dir)
      .select(
        col("p_size").cast("long").as("size"),
        floor(col("p_retailprice") * 100 + 0.5).as("price_cents"))
      .groupBy("size", "price_cents")
      .agg(count(lit(1)).as("n_parts"))
    val perX = coords.groupBy("size")
      .agg(min("price_cents").as("min_price_cents"))
    val higherX = Window.orderBy(col("size").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val frontier = perX
      .withColumn("best_above", min("min_price_cents").over(higherX))
      .filter(col("best_above").isNull ||
        col("best_above") > col("min_price_cents"))
      .select(col("size"), col("min_price_cents").as("price_cents"))
    frontier.join(coords, Seq("size", "price_cents"))
      .orderBy(col("size").desc)
      .select("size", "price_cents", "n_parts")
  }

  def paretoFrontierOracle: String = """
    WITH coords AS (
      SELECT CAST(p_size AS BIGINT) AS size,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(count(1) AS BIGINT) AS n_parts
      FROM part GROUP BY 1, 2),
    perx AS (
      SELECT size, min(price_cents) AS min_price_cents
      FROM coords GROUP BY size),
    fr AS (
      SELECT size, min_price_cents AS price_cents,
             min(min_price_cents) OVER (ORDER BY size DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_above
      FROM perx)
    SELECT f.size, f.price_cents, c.n_parts
    FROM fr f JOIN coords c ON f.size = c.size AND f.price_cents = c.price_cents
    WHERE f.best_above IS NULL OR f.best_above > f.price_cents
    ORDER BY f.size DESC"""

  /** q2n: AUDIENCE OVERLAP MATRIX — pairwise distinct-entity
    * intersections across segments (which ad audiences / cohort
    * definitions share users?), the workload bitmap-index engines
    * (roaring / Theta sketch intersections) exist for. The
    * collect-sets-and-intersect form dies first at scale (a segment's
    * member set must fit in one task); this plan never materializes a
    * set: one distinct on (entity, segment), then a SELF-JOIN ON THE
    * ENTITY KEY — co-membership pairs emerge row-by-row, shuffled on
    * the entity like any join, and a hash aggregate counts them. Per-
    * entity fan-out is k·(k−1)/2 with k ≤ |segments| (an enum — 5
    * priorities ⇒ ≤10 pairs/customer), so the blow-up is bounded by
    * construction. Segment sizes join in from a second tiny aggregate
    * to derive exact-integer Jaccard ppm. */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val members = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderpriority").as("segment"))
      .distinct()
    val sizes = members.groupBy("segment").agg(count(lit(1)).as("n"))
    val pairs = members.as("a")
      .join(members.as("b"), Seq("o_custkey"))
      .filter(col("a.segment") < col("b.segment"))
      .groupBy(col("a.segment").as("seg_a"), col("b.segment").as("seg_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(sizes.select(col("segment").as("seg_a"), col("n").as("n_a")), "seg_a")
      .join(sizes.select(col("segment").as("seg_b"), col("n").as("n_b")), "seg_b")
      .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"), col("n_both"),
        floor(col("n_both").cast("double")
          / (col("n_a") + col("n_b") - col("n_both")) * 1e6 + 0.5)
          .as("jaccard_ppm"))
      .orderBy("seg_a", "seg_b")
  }

  def audienceOverlapOracle: String = """
    WITH m AS (
      SELECT DISTINCT o_custkey, o_orderpriority AS segment FROM orders),
    sizes AS (SELECT segment, count(1) AS n FROM m GROUP BY segment),
    pairs AS (
      SELECT a.segment AS seg_a, b.segment AS seg_b, count(1) AS n_both
      FROM m a JOIN m b ON a.o_custkey = b.o_custkey
        AND a.segment < b.segment
      GROUP BY 1, 2)
    SELECT seg_a, seg_b,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(floor(CAST(n_both AS DOUBLE)
             / (sa.n + sb.n - n_both) * 1e6 + 0.5) AS BIGINT) AS jaccard_ppm
    FROM pairs
    JOIN sizes sa ON pairs.seg_a = sa.segment
    JOIN sizes sb ON pairs.seg_b = sb.segment
    ORDER BY seg_a, seg_b"""

  /** q9j: OBSERVED SCAN AUDIT — `Dataset.observe` / `CollectMetrics`,
    * the Spark mechanism for AUDITING a pass without paying a second
    * one: metrics declared on the stream are accumulated DURING the
    * scan (accumulator-based, zero extra jobs, streaming-safe — the
    * production pattern for row-count/null-count reconciliation gates
    * in ingestion pipelines). The graded row carries the observed
    * metrics next to the same aggregates computed the ordinary way and
    * the equality verdicts — the contract that `CollectMetrics`
    * preserves the stream it observes bit-for-bit.
    *
    * Builder-eager by necessity (observed metrics only exist after an
    * action; the probe is ONE 3-column row — bounded, the q0f/q3y
    * precedent). The oracle replays both metric triples from the
    * parquet directly and pins the verdicts to literal true. */
  def observedScanAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cut = lit("1996-01-01").cast("timestamp")
    val filtered = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= cut)
      .observe("graft_scan_audit",
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("n_high_disc"))
    val direct = filtered.agg(
      count(lit(1)).as("d_rows"),
      sum(col("l_quantity").cast("long")).as("d_qty"),
      sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("d_high"))
    val d = direct.collect()(0) // 1-row bounded probe; fires the observe
    val m = direct.queryExecution.observedMetrics("graft_scan_audit")
    Seq((m.getAs[Long]("n_rows"), m.getAs[Long]("sum_qty"),
        m.getAs[Long]("n_high_disc"),
        d.getLong(0), d.getLong(1), d.getLong(2)))
      .toDF("obs_rows", "obs_qty", "obs_high_disc",
        "direct_rows", "direct_qty", "direct_high_disc")
      .withColumn("rows_match", col("obs_rows") === col("direct_rows"))
      .withColumn("qty_match", col("obs_qty") === col("direct_qty"))
      .withColumn("disc_match", col("obs_high_disc") === col("direct_high_disc"))
  }

  def observedScanAuditOracle: String = """
    WITH a AS (
      SELECT CAST(count(1) AS BIGINT) AS n_rows,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_high_disc
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01')
    SELECT n_rows AS obs_rows, sum_qty AS obs_qty,
           n_high_disc AS obs_high_disc,
           n_rows AS direct_rows, sum_qty AS direct_qty,
           n_high_disc AS direct_high_disc,
           TRUE AS rows_match, TRUE AS qty_match, TRUE AS disc_match
    FROM a"""

  /** qb6: VARIANT SHREDDING — Spark 4's open-schema semi-structured
    * column end-to-end: event payloads whose JSON SHAPE differs by
    * event type (clicks carry a nested `pos` object, errors a
    * `code`/`fatal` pair, everything else a string `tag`) are parsed
    * ONCE into the binary `VARIANT` type and then SHREDDED back into
    * typed columns with path extraction — `variant_get` for paths the
    * contract guarantees, `try_variant_get` for type-dependent paths
    * where absence is data, not error. The graded rows are the
    * shredding audit a lakehouse ingest job runs before promoting
    * paths to real columns: per event type, how many rows HAVE each
    * path, the typed sums extracted through the variant, and a
    * round-trip check (the `k` that went into the JSON comes back out
    * through the variant unchanged).
    *
    * The heterogeneous payloads are BUILT here, deterministically from
    * graded fixture columns (the fixture's own `props` is
    * single-shape), so the oracle can rebuild byte-equivalent JSON and
    * replay every extraction with its native JSON functions — grading
    * the VALUES the variant path yields, engine-portably, while the
    * Spark side genuinely exercises parse_json → VariantGet codegen.
    * Scale shape: one narrow scan, zero joins, one hash aggregate on
    * the enum-bounded event_type. */
  def variantShred(spark: SparkSession, dir: String): DataFrame = {
    val json = when(col("event_type") === "click",
        concat(lit("{\"k\":"), col("k"),
          lit(",\"pos\":{\"x\":"), col("event_id") % 100L,
          lit(",\"y\":"), col("user_id") % 50L, lit("}}")))
      .when(col("event_type") === "error",
        concat(lit("{\"k\":"), col("k"),
          lit(",\"code\":"), lit(400L) + col("event_id") % 5L,
          lit(",\"fatal\":"),
          when(col("event_id") % 2L === 0L, lit("true")).otherwise(lit("false")),
          lit("}")))
      .otherwise(concat(lit("{\"k\":"), col("k"),
        lit(",\"tag\":\""), col("event_type"), lit("\"}")))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("j", json)
      .withColumn("v", expr("parse_json(j)"))
      .select(col("event_type"), col("k"),
        expr("variant_get(v, '$.k', 'long')").as("k2"),
        expr("try_variant_get(v, '$.pos.x', 'long')").as("x"),
        expr("try_variant_get(v, '$.pos.y', 'long')").as("y"),
        expr("try_variant_get(v, '$.code', 'long')").as("code"),
        expr("try_variant_get(v, '$.fatal', 'boolean')").as("fatal"),
        expr("try_variant_get(v, '$.tag', 'string')").as("tag"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("k2").as("sum_k"),
        sum(when(col("k2") === col("k"), 1L).otherwise(0L)).as("n_k_roundtrip"),
        sum(when(col("x").isNotNull, 1L).otherwise(0L)).as("n_pos"),
        coalesce(sum("x"), lit(0L)).as("sum_x"),
        coalesce(sum("y"), lit(0L)).as("sum_y"),
        sum(when(col("code").isNotNull, 1L).otherwise(0L)).as("n_code"),
        coalesce(sum("code"), lit(0L)).as("sum_code"),
        sum(when(col("fatal") === true, 1L).otherwise(0L)).as("n_fatal"),
        sum(when(col("tag") === col("event_type"), 1L).otherwise(0L))
          .as("n_tag_roundtrip"))
      .orderBy("event_type")
  }

  /** DuckDB replay of [[variantShred]]: same deterministically built
    * per-type JSON, same path extractions via native JSON functions. */
  def variantShredOracle: String = """
    WITH base AS (
      SELECT event_id, user_id, event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events),
    built AS (
      SELECT event_type, k,
             CASE
               WHEN event_type = 'click' THEN
                 '{"k":' || k || ',"pos":{"x":' || event_id % 100 ||
                 ',"y":' || user_id % 50 || '}}'
               WHEN event_type = 'error' THEN
                 '{"k":' || k || ',"code":' || (400 + event_id % 5) ||
                 ',"fatal":' ||
                 CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END || '}'
               ELSE '{"k":' || k || ',"tag":"' || event_type || '"}'
             END AS j
      FROM base),
    shred AS (
      SELECT event_type, k,
             CAST(json_extract(j, '$.k') AS BIGINT) AS k2,
             TRY_CAST(json_extract_string(j, '$.pos.x') AS BIGINT) AS x,
             TRY_CAST(json_extract_string(j, '$.pos.y') AS BIGINT) AS y,
             TRY_CAST(json_extract_string(j, '$.code') AS BIGINT) AS code,
             TRY_CAST(json_extract_string(j, '$.fatal') AS BOOLEAN) AS fatal,
             json_extract_string(j, '$.tag') AS tag
      FROM built)
    SELECT event_type,
           CAST(count(1) AS BIGINT) AS n,
           CAST(sum(k2) AS BIGINT) AS sum_k,
           CAST(sum(CASE WHEN k2 = k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_k_roundtrip,
           CAST(sum(CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           CAST(coalesce(sum(x), 0) AS BIGINT) AS sum_x,
           CAST(coalesce(sum(y), 0) AS BIGINT) AS sum_y,
           CAST(sum(CASE WHEN code IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_code,
           CAST(coalesce(sum(code), 0) AS BIGINT) AS sum_code,
           CAST(sum(CASE WHEN fatal THEN 1 ELSE 0 END) AS BIGINT) AS n_fatal,
           CAST(sum(CASE WHEN tag = event_type THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tag_roundtrip
    FROM shred GROUP BY 1 ORDER BY 1"""

  /** qbw: MAP-TYPED HIGHER-ORDER FUNCTIONS — the map half of the HOF
    * surface (q1h covers arrays): per-user activity PROFILES built as
    * map columns and transformed entirely with map HOFs —
    * `map_from_entries` (rows → map), `map_zip_with` (join two maps
    * key-wise into struct values, no explode/re-join), `map_filter`
    * (predicate over entries). Maps are how wide sparse per-entity
    * state travels through a pipeline without a column per key; the
    * HOFs keep the work inside one codegen'd projection instead of the
    * explode→join→collect roundtrip. Graded by exploding the final
    * profile back to rows (map iteration order is
    * entry-insertion-dependent, so grading always happens on sorted
    * exploded rows — the doctrine for any map-valued result). */
  def mapHof(spark: SparkSession, dir: String): DataFrame = {
    val perType = Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    val profiles = perType.groupBy("user_id")
      .agg(
        map_from_entries(collect_list(struct(col("event_type"), col("n"))))
          .as("cnts"),
        map_from_entries(collect_list(struct(col("event_type"), col("cents"))))
          .as("cts"))
      .withColumn("profile", expr(
        """map_filter(
             map_zip_with(cnts, cts, (k, n, c) -> struct(n AS n, c AS cents)),
             (k, v) -> v.n >= 14)"""))
    profiles.select(col("user_id"), explode(col("profile")))
      .select(col("user_id"), col("key").as("event_type"),
        col("value.n").as("n"), col("value.cents").as("cents"))
      .orderBy("user_id", "event_type")
  }

  /** DuckDB replay of [[mapHof]] — the map pipeline is equivalent to a
    * grouped HAVING, which is exactly what equality certifies. */
  val mapHofOracle: String = """
    SELECT user_id, event_type,
           CAST(count(1) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY user_id, event_type
    HAVING count(1) >= 14
    ORDER BY user_id, event_type"""

  /** qcf: EAGER (pre-join) AGGREGATION — the rewrite Catalyst does
    * NOT do for you, applied by hand as the engine's doctrine for
    * fact-to-dimension rollups: `revenue by (nation, priority)` needs
    * lineitem only at ORDER grain, so lineitem is aggregated to one
    * row per order BEFORE the join chain. The naive shape joins every
    * lineitem row through orders⋈customer⋈nation and aggregates last —
    * shuffling |lineitem| wide rows; the eager shape shuffles
    * |lineitem| narrow (key, partial-sum) rows once into |orders|
    * rows, and everything after joins at the 4×-smaller order grain.
    * Same answer by the associativity of SUM/COUNT over the o_orderkey
    * partition — which is exactly what the oracle (free to compute the
    * naive way) certifies, and RelationalSpec pins the plan fact: an
    * Aggregate sits BELOW the orders join in the optimized plan, plus
    * result-equality against the naive Spark shape. */
  def eagerAggregation(spark: SparkSession, dir: String): DataFrame = {
    val lAgg = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 100).cast("long")).as("rev_cents"),
        count(lit(1)).as("n_items"))
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderpriority")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = broadcast(Tables.nation(spark, dir)
      .select("n_nationkey", "n_name"))
    lAgg.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "o_orderpriority")
      .agg(sum("rev_cents").as("revenue_cents"),
        count(lit(1)).as("n_orders"),
        sum("n_items").as("n_items"))
      .orderBy("n_name", "o_orderpriority")
  }

  /** Naive-shape replay of [[eagerAggregation]] — join first,
    * aggregate once; equality certifies the eager rewrite. */
  val eagerAggregationOracle: String = """
    SELECT n_name, o_orderpriority,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(count(1) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, o_orderpriority
    ORDER BY n_name, o_orderpriority"""

  /** qce: CUSTOM WINDOW FUNCTION — [[graft.functions.RunningStreak]]
    * (an `AggregateWindowFunction`, the same machinery `row_number`
    * rides) computing the running run-length of high-quantity
    * shipments per supplier in ONE Window operator. The built-in
    * route is the gaps-and-islands composition (row_number + running
    * max of reset positions — two chained Window operators sharing
    * one sort, and what the oracle replays). Graded per sampled
    * supplier: row count, longest streak, the full-column streak
    * checksum (pins every row's value, not just the max), and the
    * number of maximal runs. ExtensionsSpec additionally proves the
    * one-pass ≡ two-pass equivalence inside Spark and counts the
    * physical Window operators (1 vs 2). */
  def customWindowStreak(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.RunningStreak.runningStreak
    val mv = Tables.lineitem(spark, dir)
      .where(col("l_suppkey") % 37 === 0)
      .select(col("l_suppkey").as("supp"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") >= 25).as("f"))
    mv.withColumn("streak", runningStreak(col("f"), Seq(col("supp")),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))))
      .groupBy("supp")
      .agg(count(lit(1)).as("n_rows"),
        max("streak").as("max_streak"),
        sum("streak").as("streak_sum"),
        sum(when(col("streak") === 1L, 1L).otherwise(0L)).as("n_runs"))
      .orderBy("supp")
  }

  /** Two-window gaps-and-islands replay of [[customWindowStreak]]:
    * streak = rn − last reset position. */
  val customWindowStreakOracle: String = """
    WITH mv AS (
      SELECT l_suppkey AS supp, l_shipdate, l_orderkey, l_linenumber,
             CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS f
      FROM lineitem WHERE l_suppkey % 37 = 0),
    r AS (
      SELECT supp, f,
             row_number() OVER w AS rn,
             max(CASE WHEN f = 0 THEN rn_inner END) OVER
               (PARTITION BY supp ORDER BY l_shipdate, l_orderkey,
                l_linenumber ROWS UNBOUNDED PRECEDING) AS last_reset
      FROM (
        SELECT *, row_number() OVER w AS rn_inner
        FROM mv
        WINDOW w AS (PARTITION BY supp ORDER BY l_shipdate, l_orderkey,
          l_linenumber)) mv2
      WINDOW w AS (PARTITION BY supp ORDER BY l_shipdate, l_orderkey,
        l_linenumber)),
    st AS (
      SELECT supp,
             CASE WHEN f = 0 THEN 0
                  ELSE rn - coalesce(last_reset, 0) END AS streak
      FROM r)
    SELECT supp,
           CAST(count(1) AS BIGINT) AS n_rows,
           CAST(max(streak) AS BIGINT) AS max_streak,
           CAST(sum(streak) AS BIGINT) AS streak_sum,
           CAST(sum(CASE WHEN streak = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_runs
    FROM st GROUP BY supp ORDER BY supp"""

  /** EXACT GLOBAL RANK WITHOUT A SINGLE-PARTITION WINDOW — the
    * round-12 window-audit fix (q2i/q1p): `row_number().over(
    * Window.orderBy(...))` moves EVERY row to one partition, the
    * audit's target accident on an entity-scale frame (customers,
    * users) at 100 TB. The distributed exact shape: range-repartition
    * on the order key, sort within partitions, then number each
    * partition from its prefix-offset (one extra job collecting
    * per-partition COUNTS, never rows).
    *
    * WHY THE RDD SEAM IS LOAD-BEARING (round-13 finding — the
    * round-12 verdict's "Tungsten-native variant" was attempted,
    * probed, and REJECTED as unsound): any pure-SQL formulation must
    * evaluate the range-shuffled frame at least twice (once for the
    * per-partition counts, once for the ranked output), and
    * `RangePartitioner` seeds its boundary SAMPLING by `rdd.id` — two
    * physical evaluations of the same logical repartitionByRange can
    * draw DIFFERENT boundaries, silently double- or zero-assigning
    * ranks near every boundary. A two-job variant diverges outright;
    * a single-plan variant (offsets aggregated and broadcast-joined
    * back, leaning on exchange reuse to pin one evaluation) survives
    * one layer but breaks when layers nest: the tagged⋈offsets
    * SELF-join makes DeduplicateRelations re-mint one side's exprIds,
    * canonical equality fails, AQE reuse stops firing, and the probe
    * (tools/GlobalIndexProbe, the q2i triple-nest shape) measured
    * 96,160 distinct ranks over 100,000 rows. `zipWithIndex` is
    * immune BY CONSTRUCTION: its count job and its compute share the
    * ONE materialized partitioner instance. The Row round-trip is the
    * honest price of exactness; Spark itself ships this primitive
    * only at the RDD level for the same reason. */
  def withGlobalIndex(df: DataFrame, order: Seq[org.apache.spark.sql.Column],
      out: String): DataFrame = {
    val spark = df.sparkSession
    val parts = math.max(1,
      spark.sessionState.conf.numShufflePartitions)
    val sorted = df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
    val schema = sorted.schema
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema.add(out,
      org.apache.spark.sql.types.LongType, nullable = false))
  }

  /** Exact SQL `NTILE(k)` semantics over a [[withGlobalIndex]] column
    * (the first n mod k buckets take the extra row), 1-based — the
    * distributed twin of `ntile(k).over(Window.orderBy(...))`. `n`
    * comes from the caller's one driver-side count of the SAME frame
    * the index numbered. */
  def ntileOfIndex(idx: org.apache.spark.sql.Column, n: Long, k: Int)
      : org.apache.spark.sql.Column = {
    require(n > 0 && k > 0, s"ntile needs n>0, k>0 (got $n, $k)")
    val q = n / k
    val r = n % k
    val b = r * (q + 1)
    val qSafe = math.max(q, 1L) // n<k: the otherwise-branch never fires
    // floor over double division is exact for idx < 2^52 — any real
    // frame; Column `/` is double division, so floor() restores the
    // integer quotient
    (when(idx < b, floor(idx / lit(q + 1)))
      .otherwise(lit(r) + floor((idx - lit(b)) / lit(qSafe))))
      .cast("long") + 1L
  }
}
