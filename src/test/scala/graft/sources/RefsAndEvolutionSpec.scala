package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-12 feature hardening: the refusal lanes and edge cases the
  * graded rows (qeq widening, qer reshard, qes show_create, qet
  * branches/tags) don't exercise. */
class RefsAndEvolutionSpec extends SparkSpec {

  private def sql(s: String) = spark.sql(s)

  override def withFixture(test: NoArgTest) = {
    GraftTxnCatalog.register(spark)
    super.withFixture(test)
  }

  test("widening: stats column only within the long lane; key refuses") {
    sql("DROP TABLE IF EXISTS graft.ev_widen")
    sql("""CREATE TABLE graft.ev_widen (k BIGINT, v INT, f FLOAT)
           USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='1000',
                          'stats_cols'='v')""")
    sql("INSERT INTO graft.ev_widen SELECT id, CAST(id AS INT)," +
      " CAST(id AS FLOAT) FROM range(100)")
    // stats column: INT -> BIGINT stays in the Long stat lane
    sql("ALTER TABLE graft.ev_widen ALTER COLUMN v TYPE BIGINT")
    // stats pruning still works on the widened column's recorded bounds
    assert(sql("SELECT sum(v) FROM graft.ev_widen WHERE v < 50")
      .head().getLong(0) == (0L until 50L).sum)
    // a FLOAT stats column could never widen (float lane unsupported)
    val e1 = intercept[Exception] {
      sql("ALTER TABLE graft.ev_widen ALTER COLUMN k TYPE DECIMAL(38,0)")
    }
    assert(e1.getMessage.contains("structural"), e1.getMessage)
    // post-widen inserts + old files in one scan
    sql("INSERT INTO graft.ev_widen SELECT id + 100," +
      " 5000000000 + id, CAST(0.5 AS FLOAT) FROM range(10)")
    assert(sql("SELECT max(v) FROM graft.ev_widen").head().getLong(0) ==
      5000000009L)
  }

  test("reshard: refuses non-positive params; data + identity survive") {
    sql("DROP TABLE IF EXISTS graft.ev_rsh")
    sql("""CREATE TABLE graft.ev_rsh (
             id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 7 INCREMENT BY 1),
             k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='4','layout_div'='1000')""")
    sql("INSERT INTO graft.ev_rsh (k, v) SELECT id, id * 2 FROM range(500)")
    intercept[Exception] {
      sql("CALL graft.system.reshard('ev_rsh', 0, CAST(1000 AS BIGINT))")
    }
    val v = sql("CALL graft.system.reshard('ev_rsh', 8, CAST(2000 AS BIGINT))")
      .head().getLong(0)
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/ev_rsh"
    val m = TxnTable.readManifest(root, v.toInt)
    assert(m.shards == 8 && m.layoutDiv == 2000L)
    assert(sql("SELECT count(1), sum(v), min(id) FROM graft.ev_rsh").head()
      === org.apache.spark.sql.Row(500L, (0L until 500L).map(_ * 2).sum, 7L))
    // identity watermark survives the rewrite: the next insert extends
    sql("INSERT INTO graft.ev_rsh (k, v) SELECT id + 500, 0 FROM range(5)")
    assert(sql("SELECT count(DISTINCT id) FROM graft.ev_rsh")
      .head().getLong(0) == 505L)
  }

  test("branches: drop-after-publish refuses; double create refuses; ref resolution") {
    sql("DROP TABLE IF EXISTS graft.ev_wap")
    sql("""CREATE TABLE graft.ev_wap (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='1000')""")
    sql("INSERT INTO graft.ev_wap SELECT id, 1 FROM range(100)")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/ev_wap"
    val bRoot = TxnTable.createBranch(root, "b1")
    intercept[Exception] { TxnTable.createBranch(root, "b1") }
    TxnTable.append(spark, bRoot, spark.range(100, 120)
      .select(col("id").as("k"), lit(2L).as("v")), "b1_add")
    // the branch reads through the named ref; main is untouched
    assert(sql("SELECT count(1) FROM graft.ev_wap VERSION AS OF 'b1'")
      .head().getLong(0) == 120L)
    assert(sql("SELECT count(1) FROM graft.ev_wap").head().getLong(0) == 100L)
    val v = TxnTable.publishBranch(root, "b1")
    assert(v == 2 && sql("SELECT count(1) FROM graft.ev_wap")
      .head().getLong(0) == 120L)
    // a published branch's files belong to the table now
    val e = intercept[Exception] { TxnTable.dropBranch(root, "b1") }
    assert(e.getMessage.contains("referenced"), e.getMessage)
    // the release lifecycle: OPTIMIZE re-homes the bytes under main,
    // but the PUBLISH manifest (v2) still references the branch paths
    sql("CALL graft.system.optimize('ev_wap', 2)")
    val e2 = intercept[Exception] { TxnTable.dropBranch(root, "b1") }
    assert(e2.getMessage.contains("v2"), e2.getMessage)
    // retiring the referencing history makes the drop legal, and the
    // table reads on
    sql("CALL graft.system.expire_versions('ev_wap', 3)")
    TxnTable.dropBranch(root, "b1")
    assert(sql("SELECT count(1), sum(v) FROM graft.ev_wap").head()
      === org.apache.spark.sql.Row(120L, 100L + 40L))
    // tags: bad or expired versions refuse; a retained one resolves
    intercept[Exception] { TxnTable.setTag(root, "t9", 99) }
    intercept[Exception] { TxnTable.setTag(root, "t1", 1) } // expired above
    TxnTable.setTag(root, "t3", 3)
    assert(sql("SELECT count(1) FROM graft.ev_wap VERSION AS OF 't3'")
      .head().getLong(0) == 120L)
    intercept[Exception] { TxnTable.resolveRef(root, "nope") }
  }

  test("fast-forward publish carries branch-side structural state (r14 fix)") {
    sql("DROP TABLE IF EXISTS graft.ev_ffs")
    sql("""CREATE TABLE graft.ev_ffs (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='1000')""")
    sql("INSERT INTO graft.ev_ffs SELECT id, 1 FROM range(100)")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/ev_ffs"
    val bRoot = TxnTable.createBranch(root, "ddl")
    // branch-side DDL + DML: rename a column, add a CHECK, append under
    // the new structure — main untouched, so the publish fast-forwards
    TxnTable.renameColumn(spark, bRoot, "v", "w")
    TxnTable.setCheck(spark, bRoot, "k >= 0")
    TxnTable.append(spark, bRoot, spark.range(100, 120)
      .select(col("id").as("k"), lit(2L).as("w")), "ddl_add")
    val v = TxnTable.publishBranch(root, "ddl")
    val m = TxnTable.readManifest(root, v)
    // the published manifest must carry the BRANCH's structural fields
    // (the r14 fix: the old fast-forward arm copied them from the fork
    // point, silently discarding branch DDL)
    assert(m.renames == Seq("v" -> "w"), s"renames lost: ${m.renames}")
    assert(m.checkExpr == "k >= 0", s"check lost: '${m.checkExpr}'")
    // and main serves the data under the branch's logical surface
    assert(sql("SELECT count(1), sum(w) FROM graft.ev_ffs").head()
      === org.apache.spark.sql.Row(120L, 140L))
  }

  test("local roots: a missing dir throws; a scheme root is refused") {
    val hconf = spark.sessionState.newHadoopConf()
    // a sidecar read covers only dirs the table wrote: a missing one is
    // an error, never an empty vector
    val noDv = TxnTable.FileEntry("data/v0-x/part.parquet", 10L, 0L, 9L,
      dv = "data/dv-v1-missing/_dv/__fid=0", dvRows = 1L)
    intercept[IllegalArgumentException](
      TxnTable.readDvPositions("/no/such/dir/for/graft", noDv, hconf))
    // a root with a URI scheme fails before anything is written under it
    val local = graft.Fs.scratch("graft_scheme_spec")
    graft.Fs.deleteRecursively(local)
    val df = spark.range(10).select(col("id").as("k"), col("id").as("v"))
    Seq(s"file:$local", "hdfs://nn/warehouse/t").foreach { r =>
      Seq(
        () => TxnTable.create(spark, r, df, "k", 2),
        () => TxnTable.createEmpty(spark, r, "k BIGINT, v BIGINT", "k", 2, 10L),
        () => TxnTable.latestVersion(r)).foreach { op =>
        val e = intercept[IllegalArgumentException](op())
        assert(e.getMessage.contains("must be a local path"), e.getMessage)
      }
    }
    assert(!new java.io.File(local).exists && !new java.io.File("file:").exists,
      "a refused root must leave nothing behind")
  }

  test("branch-table addressing: real tables win; missing branches refuse") {
    sql("DROP TABLE IF EXISTS graft.ev__odd")
    // a REAL table whose name contains the separator resolves as
    // itself, never as a branch probe
    sql("""CREATE TABLE graft.ev__odd (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='100')""")
    sql("INSERT INTO graft.ev__odd SELECT id, id FROM range(10)")
    assert(sql("SELECT count(1) FROM graft.ev__odd").head().getLong(0) == 10L)
    // a branch-table name whose base table exists but branch doesn't
    intercept[Exception] {
      sql("SELECT * FROM graft.ev__odd__nope").collect()
    }
    // and one whose base doesn't exist either
    intercept[Exception] {
      sql("SELECT * FROM graft.no_such__branch").collect()
    }
  }

  test("show_create: 2-column (Z-order) layouts refuse a lossy render") {
    val root = graft.Fs.scratch("graft_refs_zorder_spec")
    graft.Fs.deleteRecursively(root)
    TxnTable.createZordered(spark, root,
      spark.range(100).select(col("id").as("k"), (col("id") % 10).as("y")),
      "k", "y", bits = 4, shards = 4)
    val e = intercept[Exception] {
      TxnProcedures.showCreateDdl(root, "graft.zz")
    }
    assert(e.getMessage.contains("Z-order"), e.getMessage)
  }

  test("exact global ntile/rank match their single-partition window twins") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 103).select(
      col("id").as("k"), (col("id") * 37 % 101).as("v"))
    val windowed = df.withColumn("t",
        ntile(5).over(Window.orderBy(col("v").desc, col("k"))).cast("long"))
      .withColumn("r",
        row_number().over(Window.orderBy(col("v").desc, col("k"))).cast("long"))
    val n = df.count()
    val distributed = graft.operators.Relational.withGlobalIndex(df,
      Seq(col("v").desc, col("k")), "__i")
      .withColumn("t2", graft.operators.Relational.ntileOfIndex(col("__i"), n, 5))
      .withColumn("r2", col("__i") + 1L)
    val joined = windowed.join(distributed, Seq("k", "v"))
    assert(joined.where(col("t") =!= col("t2") || col("r") =!= col("r2"))
      .count() == 0L, "distributed rank/ntile must be bit-identical")
    // n < k edge: every row its own tile, no division hazard
    val tiny = spark.range(3).select(col("id").as("k"))
    val t = graft.operators.Relational.withGlobalIndex(tiny, Seq(col("k")), "__i")
      .select(graft.operators.Relational.ntileOfIndex(col("__i"), 3, 5).as("t"))
      .collect().map(_.getLong(0)).sorted
    assert(t.toSeq == Seq(1L, 2L, 3L))
  }
}
