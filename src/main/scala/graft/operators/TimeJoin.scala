package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-keyed joins for training-data pipelines — as-of (point-in-time)
  * join and interval/range join. Spark has no native ASOF/RANGE join
  * operator, and the naive formulations are non-equi joins that plan as
  * broadcast-nested-loop (O(n·m) — a scale killer), so both are
  * re-expressed as equi-shaped plans:
  *
  *  - as-of: union both sides with a tag, ONE shuffle+sort per
  *    partition key, then a `last(..., ignoreNulls)` carry-forward
  *    window — each row is touched once, state is one row per key;
  *  - range: quantize time into bins sized to the range width, explode
  *    the right side into the (at most 2) bins it can match, equi-join
  *    on (key, bin), then apply the exact range predicate — candidate
  *    pairs are bounded by bin co-residency, never n·m.
  *
  * Both are exactly replayable by an external SQL engine (DuckDB's
  * native ASOF JOIN / a plain non-equi join), which is the oracle for
  * q36/q37.
  */
object TimeJoin {

  /** Generic as-of join core: for each left row, the most recent right
    * row with `right.ts <= left.ts` within the same `key`. `rightCols`
    * are the right-side payload columns carried forward. Both inputs
    * must have columns `key` and `ts`. */
  def asofJoin(left: DataFrame, right: DataFrame,
      key: String, ts: String, rightCols: Seq[String]): DataFrame = {
    // right rows sort BEFORE left rows at equal ts (tag 0 < 1), so an
    // exactly-simultaneous right row is visible to the left row — the
    // same >= semantics as SQL ASOF JOIN
    val taggedLeft = left.withColumn("__tag", lit(1))
      .withColumns(rightCols.map(c => s"__r_$c" -> lit(null)).toMap)
    val taggedRight = rightCols.foldLeft(
        right.select((key +: ts +: rightCols).map(col): _*).withColumn("__tag", lit(0))) {
      (df, c) => df.withColumnRenamed(c, s"__r_$c")
    }
    // deterministic tie-break: among multiple right rows sharing one
    // (key, ts), the payload columns order the window, so last() always
    // carries the greatest payload tuple — without this, which right row
    // a left row sees at an exact-timestamp collision is engine-internal
    // row order (and an oracle using a different engine could differ)
    val w = Window.partitionBy(key)
      .orderBy(col(ts) +: col("__tag") +: rightCols.map(c => col(s"__r_$c")): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightCols.foldLeft(taggedLeft.unionByName(taggedRight, allowMissingColumns = true)) {
      (df, c) => df.withColumn(s"__asof_$c", last(s"__r_$c", ignoreNulls = true).over(w))
    }
    carried.filter(col("__tag") === 1)
      .drop("__tag" +: rightCols.map(c => s"__r_$c"): _*)
  }

  /** q36: point-in-time join over `events` — each click annotated with
    * the user's most recent purchase at-or-before the click. One
    * shuffle on user_id, one in-partition sort, one window pass. */
  def asofClickPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("p_us"), col("value").as("p_value"))
    asofJoin(clicks, purchases, key = "user_id", ts = "ts",
        rightCols = Seq("p_us", "p_value"))
      .select(
        col("user_id"),
        col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"),
        col("__asof_p_us").as("purchase_us"),
        round(col("__asof_p_value"), 2).as("purchase_value"))
      .orderBy("user_id", "click_id")
  }

  /** q77: TOLERANCE-BOUNDED as-of join — q36's point-in-time match
    * with a max-staleness window (pandas `merge_asof(tolerance=...)`,
    * kdb `wj` within bounds): a purchase older than the tolerance must
    * NOT annotate the click, because acting on stale state is worse
    * than acting on none. The as-of core already returns the LATEST
    * match ≤ ts, so tolerance is a pure post-projection: if the latest
    * is too old, no older row could qualify — one `when` per payload
    * column, no second join, no plan change. `stale_dropped`
    * distinguishes "a match existed but aged out" from "no purchase
    * ever" (the two nulls mean different things operationally, and the
    * hash grades the distinction). */
  def asofClickPurchaseTolerance(spark: SparkSession, dir: String,
      tolUs: Long = 3600000000L): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("p_us"), col("value").as("p_value"))
    val fresh = unix_micros(col("ts")) - col("__asof_p_us") <= tolUs
    asofJoin(clicks, purchases, key = "user_id", ts = "ts",
        rightCols = Seq("p_us", "p_value"))
      .select(
        col("user_id"),
        col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"),
        when(fresh, col("__asof_p_us")).as("purchase_us"),
        when(fresh, round(col("__asof_p_value"), 2)).as("purchase_value"),
        (col("__asof_p_us").isNotNull && !fresh).as("stale_dropped"))
      .orderBy("user_id", "click_id")
  }

  def asofClickPurchaseToleranceOracle: String = """
    WITH c AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
    p AS (
      SELECT user_id, ts, epoch_us(ts) AS p_us, max(value) AS p_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts),
    a AS (
      SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us,
             p.p_us, p.p_value
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts)
    SELECT user_id, click_id, click_us,
           CASE WHEN click_us - p_us <= 3600000000 THEN p_us END
             AS purchase_us,
           CASE WHEN click_us - p_us <= 3600000000 THEN round(p_value, 2) END
             AS purchase_value,
           (p_us IS NOT NULL AND click_us - p_us > 3600000000)
             AS stale_dropped
    FROM a ORDER BY user_id, click_id"""

  /** q78: NEAREST-direction as-of join — pandas `merge_asof(direction=
    * 'nearest')`: each click takes whichever purchase is closer in
    * time, behind or ahead, with ties (equal distance) resolved to the
    * BACKWARD match (the only side that exists in a live pipeline; the
    * forward match is only knowable in backfill). Composed as the
    * backward native as-of join CHAINED into the forward one — the
    * second join takes the first's output as its left side, so the
    * operator also exercises AsofJoinExec-over-AsofJoinExec composition
    * (both shuffles hash the same key, and the second join's
    * EnsureRequirements reuses the first's partitioning — no third
    * exchange). The distance arithmetic and direction pick are a pure
    * post-projection. `direction`/`dist_us` make the pick itself
    * hash-graded, not just the picked payload. */
  def asofClickPurchaseNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("p_us"), col("value").as("p_value"))
    val back = asofJoinNative(clicks, purchases, key = "user_id", ts = "ts",
        rightCols = Seq("p_us", "p_value"))
      .withColumnRenamed("p_us", "b_us")
      .withColumnRenamed("p_value", "b_value")
    val both = asofJoinNative(back, purchases, key = "user_id", ts = "ts",
        rightCols = Seq("p_us", "p_value"), forward = true)
      .withColumnRenamed("p_us", "f_us")
      .withColumnRenamed("p_value", "f_value")
    val cUs = unix_micros(col("ts"))
    val dBack = cUs - col("b_us")
    val dFwd = col("f_us") - cUs
    val takeBack = col("b_us").isNotNull &&
      (col("f_us").isNull || dBack <= dFwd)
    both.select(
        col("user_id"),
        col("event_id").as("click_id"),
        cUs.as("click_us"),
        when(takeBack, col("b_us")).otherwise(col("f_us")).as("purchase_us"),
        round(when(takeBack, col("b_value")).otherwise(col("f_value")), 2)
          .as("purchase_value"),
        when(takeBack, lit("backward"))
          .when(col("f_us").isNotNull, lit("forward"))
          .otherwise(lit("none")).as("direction"),
        when(takeBack, dBack)
          .when(col("f_us").isNotNull, dFwd).as("dist_us"))
      .orderBy("user_id", "click_id")
  }

  def asofClickPurchaseNearestOracle: String = """
    WITH c AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS c_us
      FROM events WHERE event_type = 'click'),
    p AS (
      SELECT user_id, ts, epoch_us(ts) AS p_us,
             max(value) AS bmax, min(value) AS fmin
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts),
    b AS (
      SELECT c.user_id, c.event_id, c.c_us, p.p_us AS b_us, p.bmax AS b_value
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts),
    f AS (
      SELECT c.user_id, c.event_id, p.p_us AS f_us, p.fmin AS f_value
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts),
    j AS (
      SELECT b.user_id, b.event_id, b.c_us, b.b_us, b.b_value,
             f.f_us, f.f_value,
             (b.b_us IS NOT NULL AND (f.f_us IS NULL
                OR b.c_us - b.b_us <= f.f_us - b.c_us)) AS take_back
      FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id)
    SELECT user_id, event_id AS click_id, c_us AS click_us,
           CASE WHEN take_back THEN b_us ELSE f_us END AS purchase_us,
           round(CASE WHEN take_back THEN b_value ELSE f_value END, 2)
             AS purchase_value,
           CASE WHEN take_back THEN 'backward'
                WHEN f_us IS NOT NULL THEN 'forward'
                ELSE 'none' END AS direction,
           CASE WHEN take_back THEN c_us - b_us
                WHEN f_us IS NOT NULL THEN f_us - c_us END AS dist_us
    FROM j ORDER BY user_id, click_id"""

  /** Native as-of join core: the same contract as [[asofJoin]], served
    * by the engine's custom operator ([[graft.plans.AsofJoinPlan]] →
    * `AsofJoinExec`) instead of the union+window composition. `right`
    * must contain `key`, `ts`, and `rightCols`; `rightCols` names must
    * not collide with left columns (same caller contract as the
    * composed form). See `AsofJoinExec`'s scaladoc for the plan-shape
    * comparison; `TimeJoinSpec` asserts both forms agree row-for-row.
    */
  def asofJoinNative(left: DataFrame, right: DataFrame,
      key: String, ts: String, rightCols: Seq[String],
      forward: Boolean = false): DataFrame =
    asofJoinNativeKeys(left, right, Seq(key), ts, rightCols, forward)

  /** Multi-key form of [[asofJoinNative]] — `AsofJoinPlan` declares
    * equal-arity key SEQUENCES, so composite partition keys (e.g.
    * (user, day) for matches that must not carry across a boundary)
    * ride the same operator: the keys all enter the clustered
    * distribution and the sort prefix, nothing else changes. */
  def asofJoinNativeKeys(left: DataFrame, right: DataFrame,
      keys: Seq[String], ts: String, rightCols: Seq[String],
      forward: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import graft.functions.GraftExtensions
    import graft.plans.AsofJoinPlan
    val spark = left.sparkSession
    GraftExtensions.registerStrategies(spark)
    val lPlan = left.queryExecution.analyzed
    // narrow the right side to what the operator consumes, and mint
    // fresh exprIds behind an Alias projection: both sides typically
    // derive from one base table, and duplicate attribute ids across a
    // binary node would corrupt downstream column binding
    val rNarrow = right.select((keys ++ (ts +: rightCols)).map(col): _*)
      .queryExecution.analyzed
    val rFresh = Project(rNarrow.output.map(a => Alias(a, a.name)()), rNarrow)
    val rOut = rFresh.projectList.map(_.toAttribute)
    val rByName = rOut.map(a => a.name -> a).toMap
    def lAttr(n: String) = lPlan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"left side has no column '$n'"))
    keys.foreach { k =>
      require(lAttr(k).dataType == rByName(k).dataType,
        s"as-of join key '$k' types must align across sides")
    }
    require(lAttr(ts).dataType == rByName(ts).dataType,
      s"as-of join time types must align across sides")
    // payload columns enter the right child's required sort order (the
    // deterministic tie rule) — reject unorderable types (maps) here
    // with a readable message instead of a planner error downstream
    rightCols.foreach { c =>
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(rByName(c).dataType),
        s"as-of payload column '$c' has unorderable type ${rByName(c).dataType}")
    }
    GraftSqlBridge.ofRows(spark, AsofJoinPlan(
      lPlan, rFresh,
      leftKeys = keys.map(lAttr), rightKeys = keys.map(rByName),
      leftTime = lAttr(ts), rightTime = rByName(ts),
      rightPayload = rightCols.map(rByName), forward = forward))
  }

  /** q79: SAME-DAY as-of join — the composite-key form of the
    * point-in-time match: state must NOT carry across a day boundary
    * (intraday trading state, daily-reset feature stores, GDPR-style
    * retention fences). Instead of post-filtering q36's output —
    * which cannot distinguish "no purchase today" from "yesterday's
    * purchase leaked through" — the DAY enters the native operator's
    * key tuple: (user_id, day) both cluster the exchange and prefix
    * the sort, so the merge's one-held-row state resets at each day
    * boundary BY CONSTRUCTION and a cross-day match is structurally
    * impossible, at identical cost to the single-key join. */
  def asofClickPurchaseSameDay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), to_date(col("ts")).as("d"),
        col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), to_date(col("ts")).as("d"),
        unix_micros(col("ts")).as("p_us"), col("value").as("p_value"))
    asofJoinNativeKeys(clicks, purchases, keys = Seq("user_id", "d"),
        ts = "ts", rightCols = Seq("p_us", "p_value"))
      .select(
        col("user_id"),
        col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"),
        col("p_us").as("purchase_us"),
        round(col("p_value"), 2).as("purchase_value"))
      .orderBy("user_id", "click_id")
  }

  def asofClickPurchaseSameDayOracle: String = """
    WITH c AS (
      SELECT user_id, event_id, ts, CAST(ts AS DATE) AS d
      FROM events WHERE event_type = 'click'),
    p AS (
      SELECT user_id, ts, CAST(ts AS DATE) AS d, epoch_us(ts) AS p_us,
             max(value) AS p_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts),
    a AS (
      SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us,
             p.p_us, p.p_value
      FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.d = p.d AND c.ts >= p.ts)
    SELECT user_id, click_id, click_us,
           p_us AS purchase_us, round(p_value, 2) AS purchase_value
    FROM a ORDER BY user_id, click_id"""

  /** Composed FORWARD as-of join (earliest right row with `right.ts >=
    * left.ts` per key; smallest payload tuple on exact-time ties) — the
    * window-form twin of the native `forward = true` path, kept for the
    * same reason the backward pair exists: two independent plans, one
    * contract, so `TimeJoinSpec`/`PropertySpec` can check them against
    * each other. Left rows tag 0 so an exactly-simultaneous right row
    * (tag 1) is inside the [current, ∞) frame — the mirror of the
    * backward form's tag trick. */
  def asofJoinForward(left: DataFrame, right: DataFrame,
      key: String, ts: String, rightCols: Seq[String]): DataFrame = {
    val taggedLeft = left.withColumn("__tag", lit(0))
      .withColumns(rightCols.map(c => s"__r_$c" -> lit(null)).toMap)
    val taggedRight = rightCols.foldLeft(
        right.select((key +: ts +: rightCols).map(col): _*).withColumn("__tag", lit(1))) {
      (df, c) => df.withColumnRenamed(c, s"__r_$c")
    }
    val w = Window.partitionBy(key)
      .orderBy(col(ts) +: col("__tag") +: rightCols.map(c => col(s"__r_$c")): _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = rightCols.foldLeft(taggedLeft.unionByName(taggedRight, allowMissingColumns = true)) {
      (df, c) => df.withColumn(s"__asof_$c", first(s"__r_$c", ignoreNulls = true).over(w))
    }
    carried.filter(col("__tag") === 0)
      .drop("__tag" +: rightCols.map(c => s"__r_$c"): _*)
  }

  /** q75: q36's point-in-time query served by the native operator —
    * same inputs, same tie rule, same oracle SQL; the result must be
    * indistinguishable from [[asofClickPurchase]]. */
  def asofClickPurchaseNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("p_us"), col("value").as("p_value"))
    asofJoinNative(clicks, purchases, key = "user_id", ts = "ts",
        rightCols = Seq("p_us", "p_value"))
      .select(
        col("user_id"),
        col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"),
        col("p_us").as("purchase_us"),
        round(col("p_value"), 2).as("purchase_value"))
      .orderBy("user_id", "click_id")
  }

  /** q76: the FORWARD point-in-time join served by the native operator
    * — each click annotated with the user's NEXT purchase at-or-after
    * the click (the label-attribution direction: "did the click convert,
    * and when?" — where q36/q75's backward direction is feature
    * attribution). Same plan shape as q75 (co-partition, two sorts, one
    * O(n) merge); the tie rule flips to smallest payload tuple, which
    * the oracle mirrors by pre-aggregating min(value) per (user, ts)
    * before its ASOF `<=` join. */
  def asofClickNextPurchaseNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("p_us"), col("value").as("p_value"))
    asofJoinNative(clicks, purchases, key = "user_id", ts = "ts",
        rightCols = Seq("p_us", "p_value"), forward = true)
      .select(
        col("user_id"),
        col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"),
        col("p_us").as("purchase_us"),
        round(col("p_value"), 2).as("purchase_value"))
      .orderBy("user_id", "click_id")
  }

  /** q37: interval join via time binning — purchases within 1 hour
    * before each click, counted per click. The right side explodes into
    * its bin and the next (a 1-hour range spans at most 2 one-hour
    * bins), the join is pure equi on (user_id, bin), and the exact
    * range predicate filters inside the matched bins. LEFT semantics:
    * clicks with no purchase in range keep n=0. */
  def rangeJoinBinned(spark: SparkSession, dir: String): DataFrame = {
    val binUs = 3600L * 1000000 // bin width = range width (1 hour)
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"))
      .withColumn("bin", floor(col("click_us") / binUs))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"),
        col("value").as("p_value"))
      // a purchase can only serve clicks in its own bin or the next one
      .withColumn("bin", explode(array(
        floor(col("p_us") / binUs), floor(col("p_us") / binUs) + 1)))
    val matched = clicks
      .join(purchases,
        clicks("user_id") === purchases("p_user") && clicks("bin") === purchases("bin"),
        "left")
      .withColumn("in_range",
        col("p_us").isNotNull &&
        col("p_us") <= col("click_us") && col("p_us") > col("click_us") - binUs)
    matched.groupBy("user_id", "click_id", "click_us")
      .agg(
        sum(when(col("in_range"), 1L).otherwise(0L)).as("n_purchases_1h"),
        round(sum(when(col("in_range"), col("p_value")).otherwise(0.0)), 2)
          .as("sum_purchase_value"))
      .orderBy("user_id", "click_id")
  }
}
