package graft.ml

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** qbm: EXACT DISTRIBUTED CART — a depth-2 greedy decision tree
  * trained entirely as relational algebra, the histogram method
  * (XGBoost/LightGBM's split finder) reduced to Catalyst aggregates:
  *
  *   1. one grouped pass builds per-(feature, value) histograms
  *      (n, positives) — any row count collapses to Σ|feature
  *      domains| rows (~70 here);
  *   2. a prefix-sum window turns each histogram row into a split
  *      CANDIDATE (left = value ≤ thr) with exact left/right counts;
  *   3. the gini objective is scored in EXACT INTEGERS —
  *      score_e6 = (posL²+negL²)·1e6 div nL + (posR²+negR²)·1e6 div nR
  *      (maximizing this minimizes weighted gini impurity; floor-e6
  *      keeps it deterministic across engines, ties broken by
  *      (feature, thr) so the argmax is total-ordered);
  *   4. the winning root split is a 1-row broadcast; a second scan
  *      tags each row's side and repeats 1–3 per side for the child
  *      splits — one scan PER LEVEL, the production shape (a depth-d
  *      tree over 100 TB is d passes, each map-side-combinable to
  *      kilobytes).
  *
  * Unlike spark.ml's DecisionTree (sampled quantile bins, partition-
  * order-sensitive ties) every step here is exactly replayable in any
  * engine — the ORACLE RETRAINS THE TREE and must land on the same
  * splits, counts, and training accuracy. Task: a PLANTED noisy
  * linear concept — the fixture's columns are mutually independent
  * (measured: every natural label is flat in every feature), so the
  * label is constructed from the features plus key-derived noise,
  * y = [2·qty + 5·disc − 3·tax + (orderkey mod 17) > 71] — giving
  * the tree real structure to find (root on the dominant feature,
  * children refining) and an accuracy the oracle can audit well above
  * the majority baseline.
  *
  * Numeric bound: pos²·1e6 needs pos ≤ 3·10⁶ per NODE for Long; at
  * 100 TB group first or widen to DECIMAL(38) (q1e doctrine). */
object Cart {

  /** (feature, value, y) long format — one row per (input row,
    * feature); the histogram pass groups this to |domain| rows. */
  private def featureRows(df: DataFrame): DataFrame = {
    val base = df.select(
      col("l_quantity").cast("long").as("qty"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"),
      (col("l_quantity").cast("long") * 2 +
        round(col("l_discount") * 100).cast("long") * 5 -
        round(col("l_tax") * 100).cast("long") * 3 +
        col("l_orderkey") % 17 > 71).cast("long").as("y"))
    base.select(explode(array(
      struct(lit("qty").as("feature"), col("qty").as("value")),
      struct(lit("disc").as("feature"), col("disc").as("value")),
      struct(lit("tax").as("feature"), col("tax").as("value")))).as("fv"),
      col("y"))
      .select(col("fv.feature").as("feature"), col("fv.value").as("value"),
        col("y"))
  }

  /** Best split per group column(s): histogram → prefix candidates →
    * integer-gini argmax. `df` must carry (feature, value, y) plus the
    * grouping columns in `grp` (empty for the root). Returns one row
    * per group: feature, thr, score_e6, nl, posl, nr, posr. */
  private def bestSplit(df: DataFrame, grp: Seq[String]): DataFrame = {
    val g = grp.map(col)
    val hist = df.groupBy((g :+ col("feature")) :+ col("value"): _*)
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val wCum = Window.partitionBy(g :+ col("feature"): _*).orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(g :+ col("feature"): _*)
    val cand = hist
      .withColumn("nl", sum("n").over(wCum))
      .withColumn("posl", sum("pos").over(wCum))
      .withColumn("nt", sum("n").over(wTot))
      .withColumn("post", sum("pos").over(wTot))
      .where(col("nl") < col("nt")) // thr = max value splits nothing off
      .select((g :+ col("feature")) :+ col("value").as("thr") :+
        col("nl") :+ col("posl") :+
        (col("nt") - col("nl")).as("nr") :+
        (col("post") - col("posl")).as("posr"): _*)
      .withColumn("score_e6", expr(
        """(posl * posl + (nl - posl) * (nl - posl)) * 1000000 div nl +
           (posr * posr + (nr - posr) * (nr - posr)) * 1000000 div nr"""))
    val wBest = Window.partitionBy(grp.map(col): _*)
      .orderBy(col("score_e6").desc, col("feature"), col("thr"))
    cand.withColumn("rk", row_number().over(wBest))
      .where(col("rk") === 1).drop("rk")
  }

  /** The graded tree: 3 rows (root, L, R) with each node's chosen
    * split, exact side counts, and the depth-2 training accuracy
    * (majority vote over the 4 leaves) replicated on every row. */
  def cartQuality(spark: SparkSession, dir: String): DataFrame =
    cartQualityOn(Tables.lineitem(spark, dir))

  /** Training entry over any frame with the lineitem feature columns —
    * specs plant frames whose optimal depth-2 tree is known. */
  private[graft] def cartQualityOn(lineitem: DataFrame): DataFrame = {
    val rows = featureRows(lineitem)
    val root = bestSplit(rows, Seq.empty)
    // second scan (one per level, the histogram-method shape): tag each
    // raw row's side with the broadcast 1-row root split
    val base = lineitem.select(
      col("l_quantity").cast("long").as("qty"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"),
      (col("l_quantity").cast("long") * 2 +
        round(col("l_discount") * 100).cast("long") * 5 -
        round(col("l_tax") * 100).cast("long") * 3 +
        col("l_orderkey") % 17 > 71).cast("long").as("y"))
      .crossJoin(broadcast(
        root.select(col("feature").as("rf"), col("thr").as("rthr"))))
      .withColumn("rootval",
        when(col("rf") === "qty", col("qty"))
          .when(col("rf") === "disc", col("disc"))
          .otherwise(col("tax")))
      .withColumn("side", when(col("rootval") <= col("rthr"), "L")
        .otherwise("R"))
    val sided = base.select(explode(array(
      struct(lit("qty").as("feature"), col("qty").as("value")),
      struct(lit("disc").as("feature"), col("disc").as("value")),
      struct(lit("tax").as("feature"), col("tax").as("value")))).as("fv"),
      col("y"), col("side"))
      .select(col("side"), col("fv.feature").as("feature"),
        col("fv.value").as("value"), col("y"))
    val children = bestSplit(sided, Seq("side")).cache()
    // training accuracy: 4 leaves, majority vote each — exact integers
    val acc = children.agg(
      sum(greatest(col("posl"), col("nl") - col("posl")) +
        greatest(col("posr"), col("nr") - col("posr"))).as("correct"),
      sum(col("nl") + col("nr")).as("n_total"))
      .select(expr("correct * 1000000 div n_total").as("train_acc_e6"),
        col("n_total"))
    val rootRow = root.select(lit("root").as("node"), col("feature"),
      col("thr"), col("score_e6"), col("nl"), col("posl"), col("nr"),
      col("posr"))
    val childRows = children.select(col("side").as("node"), col("feature"),
      col("thr"), col("score_e6"), col("nl"), col("posl"), col("nr"),
      col("posr"))
    rootRow.unionByName(childRows)
      .crossJoin(broadcast(acc))
      .orderBy("node")
  }

  /** DuckDB replay of [[cartQuality]]: retrains the tree — same
    * histograms, same integer gini, same tie-break — and must land on
    * identical splits and accuracy. */
  val cartQualityOracle: String = """
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_discount * 100) AS BIGINT) AS disc,
             CAST(round(l_tax * 100) AS BIGINT) AS tax,
             CASE WHEN CAST(l_quantity AS BIGINT) * 2
                       + CAST(round(l_discount * 100) AS BIGINT) * 5
                       - CAST(round(l_tax * 100) AS BIGINT) * 3
                       + l_orderkey % 17 > 71
                  THEN 1 ELSE 0 END AS y
      FROM lineitem),
    fr AS (
      SELECT 'qty' AS feature, qty AS value, y FROM base
      UNION ALL SELECT 'disc', disc, y FROM base
      UNION ALL SELECT 'tax', tax, y FROM base),
    hist AS (
      SELECT feature, value, count(1) AS n, sum(y) AS pos
      FROM fr GROUP BY 1, 2),
    cand AS (
      SELECT feature, value AS thr,
             sum(n) OVER w AS nl, sum(pos) OVER w AS posl,
             sum(n) OVER wt - sum(n) OVER w AS nr,
             sum(pos) OVER wt - sum(pos) OVER w AS posr
      FROM hist
      WINDOW w AS (PARTITION BY feature ORDER BY value
                   ROWS UNBOUNDED PRECEDING),
             wt AS (PARTITION BY feature)
      QUALIFY nl < sum(n) OVER wt),
    scored AS (
      SELECT *,
             (posl * posl + (nl - posl) * (nl - posl)) * 1000000 // nl +
             (posr * posr + (nr - posr) * (nr - posr)) * 1000000 // nr
               AS score_e6
      FROM cand),
    root AS (
      SELECT * FROM scored
      ORDER BY score_e6 DESC, feature, thr LIMIT 1),
    sided AS (
      SELECT b.*, CASE WHEN (CASE r.feature WHEN 'qty' THEN b.qty
                             WHEN 'disc' THEN b.disc ELSE b.tax END)
                       <= r.thr THEN 'L' ELSE 'R' END AS side
      FROM base b CROSS JOIN root r),
    fr2 AS (
      SELECT side, 'qty' AS feature, qty AS value, y FROM sided
      UNION ALL SELECT side, 'disc', disc, y FROM sided
      UNION ALL SELECT side, 'tax', tax, y FROM sided),
    hist2 AS (
      SELECT side, feature, value, count(1) AS n, sum(y) AS pos
      FROM fr2 GROUP BY 1, 2, 3),
    cand2 AS (
      SELECT side, feature, value AS thr,
             sum(n) OVER w AS nl, sum(pos) OVER w AS posl,
             sum(n) OVER wt - sum(n) OVER w AS nr,
             sum(pos) OVER wt - sum(pos) OVER w AS posr
      FROM hist2
      WINDOW w AS (PARTITION BY side, feature ORDER BY value
                   ROWS UNBOUNDED PRECEDING),
             wt AS (PARTITION BY side, feature)
      QUALIFY nl < sum(n) OVER wt),
    scored2 AS (
      SELECT *,
             (posl * posl + (nl - posl) * (nl - posl)) * 1000000 // nl +
             (posr * posr + (nr - posr) * (nr - posr)) * 1000000 // nr
               AS score_e6
      FROM cand2),
    children AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY side
          ORDER BY score_e6 DESC, feature, thr) AS rk
        FROM scored2) WHERE rk = 1),
    acc AS (
      SELECT CAST(sum(greatest(posl, nl - posl)
                    + greatest(posr, nr - posr)) * 1000000
                  // sum(nl + nr) AS BIGINT) AS train_acc_e6,
             CAST(sum(nl + nr) AS BIGINT) AS n_total
      FROM children),
    tree AS (
      SELECT 'root' AS node, feature, thr, score_e6, nl, posl, nr, posr
      FROM root
      UNION ALL
      SELECT side, feature, thr, score_e6, nl, posl, nr, posr
      FROM children)
    SELECT node, feature, CAST(thr AS BIGINT) AS thr,
           CAST(score_e6 AS BIGINT) AS score_e6,
           CAST(nl AS BIGINT) AS nl, CAST(posl AS BIGINT) AS posl,
           CAST(nr AS BIGINT) AS nr, CAST(posr AS BIGINT) AS posr,
           train_acc_e6, n_total
    FROM tree CROSS JOIN acc ORDER BY node"""

  /** qbq: FEATURE SCREENING BY EXACT KS SEPARATION — rank every
    * candidate feature by the Kolmogorov–Smirnov distance between its
    * positive-class and negative-class distributions, the standard
    * pre-training screen ("which features carry signal at all?") run
    * before fitting anything. The KS statistic per feature is
    * max over values v of |F⁺(v) − F⁻(v)|; fractions never materialize:
    * the gap is compared as |cumpos·totneg − cumneg·totpos| (one
    * cross-product per histogram row) and only floor-scaled to e6 at
    * the output — so the ranking, the argmax cut, and the statistic are
    * EXACT and engine-independent. Same planted label as qbm, so the
    * expected ordering is known: qty (weight 2 over range 50) and disc
    * (weight 5 over range 10) carry ~2× the signal of tax (weight 3
    *  over range 8), and the screen must find qty ≫ disc > tax.
    *
    * Scale shape: one grouped scan to |domain| histogram rows, prefix
    * sums over each tiny domain, one argmax window. Numeric bound:
    * cumpos·totneg needs n_pos·n_neg < 9·10¹⁸ — fine to ~3·10⁹ rows,
    * beyond that scale both counts down by a common 2^k first. */
  def featureKs(spark: SparkSession, dir: String): DataFrame = {
    val rows = featureRows(Tables.lineitem(spark, dir))
    val hist = rows.groupBy("feature", "value")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val wCum = Window.partitionBy("feature").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("feature")
    val gaps = hist
      .withColumn("cumpos", sum("pos").over(wCum))
      .withColumn("cumneg", sum(col("n") - col("pos")).over(wCum))
      .withColumn("totpos", sum("pos").over(wTot))
      .withColumn("totneg", sum(col("n") - col("pos")).over(wTot))
      .withColumn("gap_x",
        abs(col("cumpos") * col("totneg") - col("cumneg") * col("totpos")))
    val wBest = Window.partitionBy("feature")
      .orderBy(col("gap_x").desc, col("value"))
    gaps.withColumn("rk", row_number().over(wBest))
      .where(col("rk") === 1)
      .select(col("feature"), col("value").as("ks_at"),
        expr("gap_x * 1000000 div (totpos * totneg)").as("ks_e6"),
        col("totpos").as("n_pos"), col("totneg").as("n_neg"))
      .orderBy(col("ks_e6").desc, col("feature"))
  }

  /** DuckDB replay of [[featureKs]] — same histograms, same
    * cross-product gap, same argmax tie-break. */
  val featureKsOracle: String = """
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_discount * 100) AS BIGINT) AS disc,
             CAST(round(l_tax * 100) AS BIGINT) AS tax,
             CASE WHEN CAST(l_quantity AS BIGINT) * 2
                       + CAST(round(l_discount * 100) AS BIGINT) * 5
                       - CAST(round(l_tax * 100) AS BIGINT) * 3
                       + l_orderkey % 17 > 71
                  THEN 1 ELSE 0 END AS y
      FROM lineitem),
    fr AS (
      SELECT 'qty' AS feature, qty AS value, y FROM base
      UNION ALL SELECT 'disc', disc, y FROM base
      UNION ALL SELECT 'tax', tax, y FROM base),
    hist AS (
      SELECT feature, value, count(1) AS n, sum(y) AS pos
      FROM fr GROUP BY 1, 2),
    gaps AS (
      SELECT feature, value,
             sum(pos) OVER w AS cumpos,
             sum(n - pos) OVER w AS cumneg,
             sum(pos) OVER wt AS totpos,
             sum(n - pos) OVER wt AS totneg
      FROM hist
      WINDOW w AS (PARTITION BY feature ORDER BY value
                   ROWS UNBOUNDED PRECEDING),
             wt AS (PARTITION BY feature)),
    best AS (
      SELECT *, abs(cumpos * totneg - cumneg * totpos) AS gap_x,
             row_number() OVER (PARTITION BY feature
               ORDER BY abs(cumpos * totneg - cumneg * totpos) DESC, value)
               AS rk
      FROM gaps)
    SELECT feature, CAST(value AS BIGINT) AS ks_at,
           CAST(gap_x * 1000000 // (totpos * totneg) AS BIGINT) AS ks_e6,
           CAST(totpos AS BIGINT) AS n_pos, CAST(totneg AS BIGINT) AS n_neg
    FROM best WHERE rk = 1 ORDER BY ks_e6 DESC, feature"""
}
