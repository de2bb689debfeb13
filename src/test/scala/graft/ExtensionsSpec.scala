package graft

import graft.functions.GraftExtensions
import graft.report.Report

/** SQL-function registration (GraftExtensions) + the R-29 report sink.
  * The shared session is built with `spark.sql.extensions`; these tests
  * also call the runtime `register` path that a session built without
  * it (any long-lived session) relies on. */
class ExtensionsSpec extends SparkSpec {

  test("cosine_sim and squared_l2 resolve in SQL and compute correctly") {
    GraftExtensions.register(spark)
    val r = spark.sql("""
      SELECT cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS orth,
             cosine_sim(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS collinear,
             squared_l2(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS d2
    """).head()
    assert(math.abs(r.getDouble(0)) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 25.0) < 1e-12)
  }

  test("VectorSimplification folds squared_l2(x, x) to 0.0 but preserves null semantics") {
    import graft.functions.VectorFunctions
    import graft.plans.VectorSimplification
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions._
    val v = array(lit(1.0), lit(2.0), lit(3.0)) // non-nullable array
    val df = spark.range(1).select(VectorFunctions.squaredL2(v, v).as("d"))
    val folded = VectorSimplification(df.queryExecution.analyzed)
    assert(folded.expressions.exists(_.exists {
      case Literal(0.0, _) => true
      case _ => false
    }), s"rule did not fold:\n$folded")
    // nullable input must NOT fold (null in → null out)
    import spark.implicits._
    val nullable = Seq(Some(Seq(1.0)), None).toDF("v")
      .select(VectorFunctions.squaredL2(col("v"), col("v")).as("d"))
    val kept = VectorSimplification(nullable.queryExecution.analyzed)
    assert(!kept.expressions.exists(_.exists {
      case Literal(0.0, _) => true
      case _ => false
    }))
    assert(nullable.collect().map(r => r.isNullAt(0)).toSeq == Seq(false, true))
  }

  test("report comparison orders models by test RMSE (R-29)") {
    val df = Report.comparison(spark, Seq(
      Report.ModelResult("kmeans_cluster_avg", 1.003455, 1.033066),
      Report.ModelResult("als", 0.892506, 0.864197)))
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("als", "kmeans_cluster_avg"))
    assert(rows.head.getDouble(2) == 0.864197)
  }

  test("qaf table-valued function: graft_synth resolves in SQL, matches " +
      "the DSv2 connector row-for-row, and rejects non-literal bounds") {
    GraftExtensions.registerTableFunctions(spark)
    val sqlRows = spark.sql(
      "SELECT id, value_e6, bucket FROM graft_synth(100, 200)").collect()
    assert(sqlRows.length == 100)
    assert(sqlRows.map(_.getAs[Long]("id")).toSeq == (100L until 200L))
    sqlRows.foreach { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[Long]("value_e6") ==
        graft.sources.SynthSource.lehmer(id))
      assert(r.getAs[String]("bucket") == "b" + (id % 10))
    }
    // the TVF and the DSv2 connector expose the SAME relation
    val viaSource = spark.read.format("graft.sources.SynthSource")
      .option("rows", "200").option("parts", "2").load()
      .where(org.apache.spark.sql.functions.col("id") >= 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(sqlRows.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq == viaSource.toSeq)
    // bounds must be foldable literals
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_synth(100, rand())").collect()
    }
  }

  test("qam/qan/qao operator TVFs: pure-SQL invocation is row-identical " +
      "to the DataFrame twin, and composes with SQL on top") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(GraftExtensions.tvfTokenStats(spark, sfDir)) ==
      rows(graft.operators.Text.tokenStats(spark, sfDir)))
    assert(rows(GraftExtensions.tvfExactDedup(spark, sfDir)) ==
      rows(graft.operators.Dedup.exactByKey(spark, sfDir)))
    assert(rows(GraftExtensions.tvfCosineTopK(spark, sfDir)) ==
      rows(graft.operators.Similarity.bruteForceTopK(spark, sfDir)))
    // the TVF is a first-class relation: filters/aggregates compose and
    // the arguments participate (a different k changes the arity)
    GraftExtensions.registerTableFunctions(spark)
    val n = spark.sql(
      s"SELECT count(1) FROM graft_cosine_topk('$sfDir', 0, 3)")
      .head().getLong(0)
    assert(n == 3L)
    // a non-literal directory must be rejected, not silently read
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_token_stats(rand())").collect()
    }
  }

  test("columnLineage: cross-table expression unions both sources; passthrough keeps identity") {
    import org.apache.spark.sql.functions._
    val c = graft.Tables.customer(spark, sfDir)
    val o = graft.Tables.orders(spark, sfDir)
    val df = c.join(o, col("c_custkey") === col("o_custkey"))
      .select(
        col("c_name"),
        (col("c_acctbal") + col("o_totalprice")).as("exposure"),
        col("o_orderkey"))
    val lin = graft.plans.ColumnLineage.lineage(df)
    assert(lin.contains(("c_name", "customer", "c_name")))
    assert(lin.contains(("o_orderkey", "orders", "o_orderkey")))
    // the computed column must union sources from BOTH tables
    assert(lin.contains(("exposure", "customer", "c_acctbal")))
    assert(lin.contains(("exposure", "orders", "o_totalprice")))
    assert(lin.count(_._1 == "exposure") == 2)
    // chained alias: lineage follows through a second projection
    val df2 = df.select((col("exposure") * 2).as("double_exposure"))
    val lin2 = graft.plans.ColumnLineage.lineage(df2)
    assert(lin2.toSet == Set(
      ("double_exposure", "customer", "c_acctbal"),
      ("double_exposure", "orders", "o_totalprice")))
  }

  test("subplanReuse: semantic equality finds shared subtrees, not text matches") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, sfDir)
    // same filter written two ways: sameResult must still match, and
    // the shared subtree is filter-over-relation (2 nodes), not just
    // the relation
    val a = li.filter(col("l_quantity") >= 10).groupBy("l_returnflag").count()
    val b = li.filter(!(col("l_quantity") < 10)).groupBy("l_returnflag")
      .agg(sum("l_quantity"))
    val (n, maxNodes, root) = graft.plans.SubplanReuse.shared(a, b)
    assert(n >= 1L)
    assert(root == "LogicalRelation" || maxNodes >= 1L)
    // disjoint tables share nothing
    val c = graft.Tables.customer(spark, sfDir).groupBy("c_mktsegment").count()
    assert(graft.plans.SubplanReuse.shared(a, c)._1 == 0L)
    // identical frames share their whole plan: largest = full node count
    val (nSelf, maxSelf, _) = graft.plans.SubplanReuse.shared(a, a)
    val total = a.queryExecution.analyzed.collect { case x => 1 }.sum.toLong
    assert(maxSelf == total, "a plan shares all of itself with itself")
    assert(nSelf == total, "every prefix subtree is shared with itself")
  }

  test("qcc SQL UDAF: typed Aggregator rides SQL with real partial aggregation; exact vs expression twin") {
    import org.apache.spark.sql.functions.col
    val df = graft.functions.GraftExtensions.sqlUdaf(spark, sfDir)
    // the ScalaAggregator must split partial/final across the group-by
    // shuffle like any builtin aggregate (reduce = map-side combine)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_sse") ||
      plan.contains("partial_sse"), s"no partial UDAF phase in:\n$plan")
    val rows = df.collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("paths_agree"),
        "typed Aggregator and codegen expression must agree exactly")
      assert(r.getAs[Long]("sse_e6") == r.getAs[Long]("sse_expr_e6"))
      assert(r.getAs[Long]("sse_e6") > 0L)
    }
    // independent truth on one bucket, plain Scala off the raw floats
    val b0 = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") % 4 === 0)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(x =>
        math.floor(x.toDouble * 1000 + 0.5)))
    val truth = b0.map { vq =>
      vq.zipWithIndex.map { case (v, i) =>
        val c = (0 * 31 + i * 17) % 2001 - 1000
        (v - c) * (v - c)
      }.sum
    }.sum.toLong
    assert(rows.find(_.getAs[Long]("b") == 0L).get
      .getAs[Long]("sse_e6") == truth)
  }

  test("qcd custom generator: graft_shingles ≡ posexplode(ngrams) row-for-row; short/null rows yield none") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftExtensions.register(spark)
    val docs = Tables.documents(spark, sfDir)
    docs.createOrReplaceTempView("docs_gen_spec")
    val gen = spark.sql(
      """SELECT doc_id, pos, gram FROM docs_gen_spec
        |LATERAL VIEW graft_shingles(text, 3) s AS pos, gram""".stripMargin)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"),
        r.getAs[String]("gram"))).sorted
    val twin = docs.select(col("doc_id"),
        posexplode(graft.operators.Text.ngrams(
          graft.operators.Text.tokens(col("text")), 3)))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"),
        r.getAs[String]("col"))).sorted
    assert(gen.length == twin.length && gen.nonEmpty)
    assert(gen.sameElements(twin),
      "generator must reproduce explode(ngrams) including positions")
    // generator contract on degenerate rows: empty output, and
    // LATERAL VIEW OUTER re-admits them as nulls
    import spark.implicits._
    Seq(("", 1L), ("one two", 2L), (null: String, 3L)).toDF("text", "id")
      .createOrReplaceTempView("degens")
    assert(spark.sql(
      """SELECT id, pos FROM degens
        |LATERAL VIEW graft_shingles(text, 3) s AS pos, gram""".stripMargin)
      .count() == 0L)
    val outer = spark.sql(
      """SELECT id, pos FROM degens
        |LATERAL VIEW OUTER graft_shingles(text, 3) s AS pos, gram""".stripMargin)
      .collect()
    assert(outer.length == 3 && outer.forall(_.isNullAt(1)))
  }

  test("qce custom window fn: one-pass streak ≡ two-window gaps-and-islands; 1 Window operator vs 2") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.RunningStreak.runningStreak
    val mv = Tables.lineitem(spark, sfDir)
      .where(col("l_suppkey") % 37 === 0)
      .select(col("l_suppkey").as("supp"), col("l_shipdate"),
        col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") >= 25).as("f"))
    val ord = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val onePass = mv.withColumn("streak",
      runningStreak(col("f"), Seq(col("supp")), ord))
    // built-in composition: rn − last reset position (two windows)
    val w = Window.partitionBy("supp").orderBy(ord: _*)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val twoPass = mv
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("last_reset",
        max(when(!col("f"), col("rn"))).over(wRun))
      .withColumn("streak", when(!col("f"), 0L)
        .otherwise(col("rn") - coalesce(col("last_reset"), lit(0L))))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("supp"), r.getAs[Long]("l_orderkey"),
        r.getAs[Int]("l_linenumber")) -> r.getAs[Long]("streak")
    val a = onePass.collect().map(key).toMap
    val b = twoPass.collect().map(key).toMap
    assert(a.nonEmpty && a == b,
      "custom window function must equal the gaps-and-islands composition")
    // count optimized-plan Window nodes (the executed string under AQE
    // prints current + initial plans and double-counts)
    def nWindowOps(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.size
    assert(nWindowOps(onePass) == 1, "custom fn: exactly one window pass")
    assert(nWindowOps(twoPass) >= 2,
      "composition needs two window passes (last_reset consumes rn)")
  }
}
