package graft

import graft.sources.{GraftTxnCatalog, TxnTable}
import org.apache.spark.sql.functions._

/** The transactional format's SQL catalog identity: DDL/DML/time
  * travel as pure SQL text over the snapshot log, with manifest-stat
  * file pruning at the connector boundary. */
class TxnCatalogSpec extends SparkSpec {

  private def sql(s: String) = spark.sql(s)

  override def withFixture(test: NoArgTest) = {
    GraftTxnCatalog.register(spark)
    super.withFixture(test)
  }

  test("CREATE/INSERT/SELECT round-trip; each INSERT is one commit") {
    sql("DROP TABLE IF EXISTS graft.spec_rt")
    sql("""CREATE TABLE graft.spec_rt (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='4','layout_div'='1000')""")
    sql("INSERT INTO graft.spec_rt SELECT id, id * 2 FROM range(500)")
    sql("INSERT INTO graft.spec_rt SELECT id, id * 2 FROM range(500, 1000)")
    assert(sql("SELECT count(1), sum(v) FROM graft.spec_rt").head() ===
      org.apache.spark.sql.Row(1000L, (0L until 1000L).map(_ * 2).sum))
    // the SQL surface drove the SAME log: versions 0(create),1,2
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/spec_rt"
    assert(TxnTable.versions(root) == Seq(0, 1, 2))
    assert(TxnTable.readManifestRaw(root, 2).deltaOf == 1, "INSERT = delta append")
  }

  test("VERSION AS OF reads history; TIMESTAMP AS OF resolves; pinned writes refuse") {
    sql("DROP TABLE IF EXISTS graft.spec_tt")
    sql("""CREATE TABLE graft.spec_tt (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='4','layout_div'='100')""")
    sql("INSERT INTO graft.spec_tt SELECT id, 1 FROM range(50)")
    sql("INSERT OVERWRITE graft.spec_tt SELECT id, 9 FROM range(10)")
    assert(sql("SELECT count(1) FROM graft.spec_tt VERSION AS OF 0").head().getLong(0) == 0)
    assert(sql("SELECT count(1) FROM graft.spec_tt VERSION AS OF 1").head().getLong(0) == 50)
    assert(sql("SELECT count(1), sum(v) FROM graft.spec_tt VERSION AS OF 2").head() ===
      org.apache.spark.sql.Row(10L, 90L))
    // head == v2
    assert(sql("SELECT sum(v) FROM graft.spec_tt").head().getLong(0) == 90)
    // a write against a time-travel snapshot fails loudly
    val e = intercept[Exception] {
      sql("INSERT INTO graft.spec_tt VERSION AS OF 1 SELECT id, 0 FROM range(1)")
    }
    // (Spark rejects this at parse/analysis; any loud failure is correct)
    assert(e != null)
  }

  test("pushed key filter prunes files at the connector; residual keeps exactness") {
    sql("DROP TABLE IF EXISTS graft.spec_prune")
    sql("""CREATE TABLE graft.spec_prune (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='8','layout_div'='4000')""")
    sql("INSERT INTO graft.spec_prune SELECT id, id % 7 FROM range(4000)")
    val q = sql("SELECT count(1), sum(k) FROM graft.spec_prune WHERE k BETWEEN 1000 AND 1240")
    val scans = q.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, "must plan a DSv2 scan")
    val desc = scans.head.description()
    assert(desc.contains("GraftTxnScan"), desc)
    val Kept = """files_kept=(\d+)/(\d+)""".r.unanchored
    val (kept, total) = desc match {
      case Kept(a, b) => (a.toInt, b.toInt)
      case _          => fail(s"no pruning evidence in: $desc")
    }
    assert(kept < total, s"no file pruning: $kept/$total")
    assert(q.head() === org.apache.spark.sql.Row(241L, (1000L to 1240L).sum))
  }

  test("stats_cols TBLPROPERTY prunes a non-key SQL predicate") {
    sql("DROP TABLE IF EXISTS graft.spec_vstats")
    sql("""CREATE TABLE graft.spec_vstats (k BIGINT, t BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='4','layout_div'='1000',
                          'stats_cols'='t')""")
    // three ingest-time bands, each spanning the full key range
    (0 until 3).foreach { i =>
      sql(s"INSERT INTO graft.spec_vstats SELECT id, $i * 100 + id % 100 FROM range(1000)")
    }
    val q = sql("SELECT count(1) FROM graft.spec_vstats WHERE t >= 100 AND t <= 199")
    val desc = q.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head.description()
    val Kept = """files_kept=(\d+)/(\d+)""".r.unanchored
    val (kept, total) = desc match {
      case Kept(a, b) => (a.toInt, b.toInt)
      case _          => fail(s"no pruning evidence in: $desc")
    }
    assert(kept < total, s"value stats must prune: $kept/$total")
    assert(q.head().getLong(0) == 1000L, "t-band [100,199] is exactly batch 1")
  }

  test("check TBLPROPERTY lands as the table CHECK; violating INSERT rejected") {
    sql("DROP TABLE IF EXISTS graft.spec_check")
    sql("""CREATE TABLE graft.spec_check (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='100',
                          'check'='v >= 0')""")
    sql("INSERT INTO graft.spec_check SELECT id, id FROM range(10)")
    val e = intercept[Exception] {
      sql("INSERT INTO graft.spec_check SELECT id + 50, -1 FROM range(5)")
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("CHECK constraint") ||
        Option(e.getCause).exists(_.getMessage.contains("CHECK constraint"))),
      s"got: ${e.getMessage}")
    assert(sql("SELECT count(1) FROM graft.spec_check").head().getLong(0) == 10)
  }

  test("DDL surface: missing TBLPROPERTIES, duplicate CREATE, DROP, existence") {
    sql("DROP TABLE IF EXISTS graft.spec_ddl")
    intercept[Exception] {
      sql("CREATE TABLE graft.spec_ddl (k BIGINT) USING graft_txn")
    }
    sql("""CREATE TABLE graft.spec_ddl (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='10')""")
    intercept[Exception] {
      sql("""CREATE TABLE graft.spec_ddl (k BIGINT) USING graft_txn
             TBLPROPERTIES ('key'='k','shards'='2','layout_div'='10')""")
    }
    assert(sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("spec_ddl"))
    sql("DROP TABLE graft.spec_ddl")
    intercept[Exception] { sql("SELECT * FROM graft.spec_ddl") }
  }

  test("DELETE FROM: key-range surgical; non-key via row-level rewrite; no-WHERE truncates") {
    sql("DROP TABLE IF EXISTS graft.spec_del")
    sql("""CREATE TABLE graft.spec_del (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='8','layout_div'='1600')""")
    sql("INSERT INTO graft.spec_del SELECT id, id % 3 FROM range(1600)")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/spec_del"
    val v1Paths = TxnTable.readManifest(root, 1).files.map(_.path).toSet
    sql("DELETE FROM graft.spec_del WHERE k >= 450 AND k <= 520")
    assert(sql("SELECT count(1) FROM graft.spec_del").head().getLong(0)
      == 1600 - 71)
    // surgical: [450,520] sits inside the 400-599 shard — 1 rewrite, 7 carried
    val m2 = TxnTable.readManifest(root, 2)
    assert(m2.files.map(_.path).count(v1Paths.contains) == 7, "7 files carry by path")
    // history intact through SQL
    assert(sql("SELECT count(1) FROM graft.spec_del VERSION AS OF 1")
      .head().getLong(0) == 1600)
    // equality predicate works (collapses to [x, x])
    sql("DELETE FROM graft.spec_del WHERE k = 0")
    assert(sql("SELECT count(1) FROM graft.spec_del").head().getLong(0)
      == 1600 - 72)
    // a non-key predicate routes through the row-level rewrite (full
    // copy-on-write replace): rows gone, one commit, priced honestly
    sql("DELETE FROM graft.spec_del WHERE v = 1")
    assert(TxnTable.latestVersion(root) == 4)
    assert(sql("SELECT count(1) FROM graft.spec_del WHERE v = 1")
      .head().getLong(0) == 0)
    assert(sql("SELECT count(1) FROM graft.spec_del").head().getLong(0) == 1019)
    // and history is still intact underneath the rewrite
    assert(sql("SELECT count(1) FROM graft.spec_del VERSION AS OF 1")
      .head().getLong(0) == 1600)
    // DELETE with no WHERE empties the table as one commit
    sql("DELETE FROM graft.spec_del")
    assert(sql("SELECT count(1) FROM graft.spec_del").head().getLong(0) == 0)
  }

  test("MERGE INTO and UPDATE: copy-on-write through the stats-inline write path") {
    sql("DROP TABLE IF EXISTS graft.spec_dml")
    sql("""CREATE TABLE graft.spec_dml (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='4','layout_div'='1000')""")
    sql("INSERT INTO graft.spec_dml SELECT id, id FROM range(1000)")
    sql("UPDATE graft.spec_dml SET v = v + 100 WHERE k % 10 = 0")
    assert(sql("SELECT sum(v) FROM graft.spec_dml").head().getLong(0)
      == (0L until 1000L).sum + 100 * 100)
    sql("""
      MERGE INTO graft.spec_dml t
      USING (SELECT id * 2 AS k, -1 AS v FROM range(300, 600)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    // sources k = 600,602,...,1198: 200 matched (600..998 even), 100 inserted
    assert(sql("SELECT count(1) FROM graft.spec_dml").head().getLong(0) == 1100)
    assert(sql("SELECT count(1) FROM graft.spec_dml WHERE v = -1")
      .head().getLong(0) == 300)
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/spec_dml"
    assert(TxnTable.latestVersion(root) == 3)
    // manifests carry REAL task-emitted stats: files cover disjoint-ish
    // ranges and rows sum exactly (no post-write scan built them)
    val m3 = TxnTable.readManifest(root, 3)
    assert(m3.files.map(_.nRows).sum == 1100)
    assert(m3.files.forall(f => f.minK <= f.maxK && f.bytes > 0))
    // history before the merge is intact
    assert(sql("SELECT count(1) FROM graft.spec_dml VERSION AS OF 2")
      .head().getLong(0) == 1000)
    // MERGE with WHEN MATCHED THEN DELETE also lands (keep rows only)
    sql("""
      MERGE INTO graft.spec_dml t
      USING (SELECT id AS k FROM range(100)) s
      ON t.k = s.k
      WHEN MATCHED THEN DELETE""")
    assert(sql("SELECT count(1) FROM graft.spec_dml").head().getLong(0) == 1000)
  }

  test("readStream.table: version offsets, exactly-once resume, rewrite refused") {
    sql("DROP TABLE IF EXISTS graft.spec_stream")
    sql("""CREATE TABLE graft.spec_stream (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='1000')""")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/spec_stream"
    val ckpt = graft.Fs.scratch("graft_txnspec_stream_ckpt")
    graft.Fs.deleteRecursively(ckpt)
    val got = new java.util.concurrent.atomic.AtomicLong(0)
    def run(): Unit = {
      val consume: (org.apache.spark.sql.DataFrame, Long) => Unit =
        (df, _) => { got.addAndGet(df.count()); () }
      val q = spark.readStream.table("graft.spec_stream").writeStream
        .foreachBatch(consume)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    sql("INSERT INTO graft.spec_stream SELECT id, 0 FROM range(100)")
    run()
    assert(got.get() == 100)
    sql("INSERT INTO graft.spec_stream SELECT id + 100, 0 FROM range(40)")
    run()
    assert(got.get() == 140, "resume must deliver ONLY the new append")
    // an idle run delivers nothing (no empty-batch re-delivery)
    run()
    assert(got.get() == 140)
    // a rewrite between consumed offsets is refused, not re-delivered
    TxnTable.optimize(spark, root, 1)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("REWRITE")), chain(e).mkString(" | "))
  }

  test("readStream.table streams a shallow clone's source files and its own") {
    Seq("spec_clone_src", "spec_clone_dst").foreach(t =>
      sql(s"DROP TABLE IF EXISTS graft.$t"))
    sql("""CREATE TABLE graft.spec_clone_src (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='1000')""")
    sql("INSERT INTO graft.spec_clone_src SELECT id, id FROM range(100)")
    // the clone's v0 references the source's files by absolute path;
    // its own append lands root-relative beside them
    TxnTable.shallowClone(whRoot("spec_clone_src"), whRoot("spec_clone_dst"))
    sql("INSERT INTO graft.spec_clone_dst SELECT id + 100, id FROM range(40)")
    val ckpt = graft.Fs.scratch("graft_txnspec_clone_stream_ckpt")
    graft.Fs.deleteRecursively(ckpt)
    val got = new java.util.concurrent.atomic.AtomicLong(0)
    val consume: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (df, _) => { got.addAndGet(df.agg(sum("k")).head().getLong(0)); () }
    val q = spark.readStream.table("graft.spec_clone_dst").writeStream
      .foreachBatch(consume)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    assert(got.get() == (0L until 140L).sum)
  }

  test("a committed data file gone from disk fails a SQL scan and readStream.table") {
    sql("DROP TABLE IF EXISTS graft.spec_lost_file")
    sql("""CREATE TABLE graft.spec_lost_file (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='1000')""")
    sql("INSERT INTO graft.spec_lost_file SELECT id, id FROM range(100)")
    sql("INSERT INTO graft.spec_lost_file SELECT id, id FROM range(100, 150)")
    val root = whRoot("spec_lost_file")
    val files = TxnTable.readManifest(root, TxnTable.latestVersion(root)).files
    assert(files.size >= 2, "a file must survive the loss")
    val lost = files.head.path
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, lost))
    def refused(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.isInstanceOf[java.io.FileNotFoundException] &&
          c.getMessage.contains(lost))
    val scan = intercept[Exception](sql("SELECT sum(k) FROM graft.spec_lost_file").collect())
    assert(refused(scan), scan)
    val ckpt = graft.Fs.scratch("graft_txnspec_lost_file_ckpt")
    graft.Fs.deleteRecursively(ckpt)
    val q = spark.readStream.table("graft.spec_lost_file").writeStream
      .format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val stream = try intercept[Exception](q.awaitTermination()) finally q.stop()
    assert(refused(stream), stream)
  }

  test("ALTER TABLE: ADD COLUMNS is metadata-only; SET/UNSET check; narrowing refused") {
    sql("DROP TABLE IF EXISTS graft.spec_alter")
    sql("""CREATE TABLE graft.spec_alter (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='100')""")
    sql("INSERT INTO graft.spec_alter SELECT id, id FROM range(100)")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/spec_alter"
    sql("ALTER TABLE graft.spec_alter ADD COLUMNS (w STRING)")
    // metadata-only: v2 carries exactly v1's files
    assert(TxnTable.readManifest(root, 2).files.map(_.path) ==
      TxnTable.readManifest(root, 1).files.map(_.path))
    // old files null-fill; new-shape inserts land; v1 stays 2-column
    assert(sql("SELECT count(1) FROM graft.spec_alter WHERE w IS NULL")
      .head().getLong(0) == 100)
    sql("INSERT INTO graft.spec_alter SELECT id + 100, 0, 'x' FROM range(5)")
    assert(sql("SELECT count(1) FROM graft.spec_alter WHERE w = 'x'")
      .head().getLong(0) == 5)
    assert(sql("SELECT * FROM graft.spec_alter VERSION AS OF 1")
      .columns.toSeq == Seq("k", "v"))
    // CHECK through SQL DDL, then dropped
    sql("ALTER TABLE graft.spec_alter SET TBLPROPERTIES ('check'='v >= 0')")
    intercept[Exception] {
      sql("INSERT INTO graft.spec_alter SELECT id + 200, -1, 'y' FROM range(1)")
    }
    sql("ALTER TABLE graft.spec_alter UNSET TBLPROPERTIES ('check')")
    sql("INSERT INTO graft.spec_alter SELECT id + 200, -1, 'y' FROM range(1)")
    // renames and drops are metadata-only column-mapping commits
    // (ColumnMappingSpec owns the deep coverage); structural columns
    // still refuse
    sql("ALTER TABLE graft.spec_alter RENAME COLUMN v TO vv")
    assert(spark.table("graft.spec_alter").columns.toSeq ==
      Seq("k", "vv", "w"))
    sql("ALTER TABLE graft.spec_alter DROP COLUMN w")
    assert(spark.table("graft.spec_alter").columns.toSeq == Seq("k", "vv"))
    intercept[Exception] {
      sql("ALTER TABLE graft.spec_alter RENAME COLUMN k TO kk")
    }
  }

  test("CTAS creates + loads in one statement; RTAS replaces; failed CTAS drops") {
    sql("DROP TABLE IF EXISTS graft.spec_ctas")
    sql("""CREATE TABLE graft.spec_ctas USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='4','layout_div'='100')
           AS SELECT id AS k, id * 2 AS v FROM range(100)""")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/spec_ctas"
    assert(TxnTable.latestVersion(root) == 0,
      "staged CTAS publishes ONE atomic commit")
    assert(sql("SELECT sum(v) FROM graft.spec_ctas").head().getLong(0) == 9900L)
    sql("""REPLACE TABLE graft.spec_ctas USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='50')
           AS SELECT id AS k, id * 3 AS v FROM range(50)""")
    assert(TxnTable.latestVersion(root) == 1,
      "staged RTAS is a COMMIT of the same log, not a fresh one")
    assert(sql("SELECT sum(v) FROM graft.spec_ctas").head().getLong(0) == 3675L)
    // the replaced content stays time-travelable
    assert(sql("SELECT sum(v) FROM graft.spec_ctas VERSION AS OF 0")
      .head().getLong(0) == 9900L)
    // a failed RTAS leaves the CURRENT content serving reads
    intercept[Exception] {
      sql("""REPLACE TABLE graft.spec_ctas USING graft_txn
             TBLPROPERTIES ('key'='k','shards'='2','layout_div'='50')
             AS SELECT id AS k,
                       CAST(assert_true(id < 0, 'rtas boom') AS BIGINT) AS v
             FROM range(50)""")
    }
    assert(TxnTable.latestVersion(root) == 1)
    assert(sql("SELECT sum(v) FROM graft.spec_ctas").head().getLong(0) == 3675L)
    // a CTAS whose write fails must not leave a half-made table behind
    sql("DROP TABLE IF EXISTS graft.spec_ctas_fail")
    intercept[Exception] {
      sql("""CREATE TABLE graft.spec_ctas_fail USING graft_txn
             TBLPROPERTIES ('key'='k','shards'='2','layout_div'='100')
             AS SELECT id AS k,
                       CAST(assert_true(id < 0, 'boom') AS BIGINT) AS v
             FROM range(100)""")
    }
    assert(!spark.catalog.tableExists("graft.spec_ctas_fail"))
  }

  test("metadata-only aggregates fold from the manifest; distinct declines") {
    sql("DROP TABLE IF EXISTS graft.spec_meta")
    sql("""CREATE TABLE graft.spec_meta (k BIGINT, c BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='4','layout_div'='100',
                          'stats_cols'='c')""")
    sql("INSERT INTO graft.spec_meta SELECT id, id + 1000 FROM range(100)")
    sql("INSERT INTO graft.spec_meta SELECT -id - 1, id FROM range(10)")
    val q = sql("""SELECT count(*) AS n, min(k) AS mnk, max(k) AS mxk,
                          min(c) AS mnc, max(c) AS mxc FROM graft.spec_meta""")
    assert(q.queryExecution.sparkPlan.collectFirst {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }.isDefined, "metadata aggregate must plan as a LocalTableScan")
    assert(q.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.isEmpty, "metadata aggregate must open no data file")
    assert(q.head() == org.apache.spark.sql.Row(110L, -10L, 99L, 0L, 1099L))
    // empty table: count 0, min/max null — still metadata-only
    sql("DROP TABLE IF EXISTS graft.spec_meta_empty")
    sql("""CREATE TABLE graft.spec_meta_empty (k BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='10')""")
    val e = sql(
      "SELECT count(*) AS n, min(k) AS mn FROM graft.spec_meta_empty")
    assert(e.head() == org.apache.spark.sql.Row(0L, null))
    // aggregates the stats can't answer plan a REAL scan
    val ctl = sql("SELECT count(DISTINCT k) FROM graft.spec_meta")
    assert(ctl.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.nonEmpty, "count(DISTINCT) must decline aggregate pushdown")
    assert(ctl.head().getLong(0) == 110L)
    // a WHERE blocks complete pushdown too (residual filters survive)
    val f = sql("SELECT count(*) FROM graft.spec_meta WHERE k >= 0")
    assert(f.head().getLong(0) == 100L)
  }

  test("metadata-only SUM/COUNT(col): null semantics, sentinel declines") {
    sql("DROP TABLE IF EXISTS graft.spec_msum")
    sql("""CREATE TABLE graft.spec_msum (k BIGINT, c BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='100',
                          'stats_cols'='c')""")
    sql("INSERT INTO graft.spec_msum SELECT id, id * 2 FROM range(100)")
    // an ALL-null batch: min/max get sentinels (decline), but
    // count(c)/sum(c) carry exact facts (0 non-null) and still fold
    sql("INSERT INTO graft.spec_msum" +
      " SELECT -id - 1, CAST(NULL AS BIGINT) FROM range(5)")
    val q = sql(
      "SELECT count(*) AS n, count(c) AS nc, sum(c) AS s FROM graft.spec_msum")
    assert(q.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.isEmpty, "count/sum over exact facts must stay metadata-only")
    assert(q.head() == org.apache.spark.sql.Row(105L, 100L, 9900L))
    val mm = sql("SELECT min(c) FROM graft.spec_msum")
    assert(mm.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.nonEmpty, "a sentinel-carrying file must decline min/max pushdown")
    assert(mm.head().getLong(0) == 0L)
    // a sum whose total cannot fit a Long declines BEFORE pushdown
    sql("DROP TABLE IF EXISTS graft.spec_msum_big")
    sql("""CREATE TABLE graft.spec_msum_big (k BIGINT, c BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='1','layout_div'='10',
                          'stats_cols'='c')""")
    sql(s"INSERT INTO graft.spec_msum_big" +
      s" SELECT id, ${Long.MaxValue / 2} FROM range(3)")
    val big = sql("SELECT sum(c) FROM graft.spec_msum_big")
    assert(big.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.nonEmpty, "an out-of-Long-range total must decline, not wrap")
  }

  test("writeStream.toTable: epoch-ledgered exactly-once sink; CHECK gates epochs") {
    val ckpt = graft.Fs.scratch("spec_sink_ckpt")
    graft.Fs.deleteRecursively(ckpt)
    sql("DROP TABLE IF EXISTS graft.spec_sink_src")
    sql("DROP TABLE IF EXISTS graft.spec_sink_dst")
    sql("""CREATE TABLE graft.spec_sink_src (k BIGINT, c BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='1000')""")
    sql("""CREATE TABLE graft.spec_sink_dst (k BIGINT, c BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='1000',
                          'check'='c >= 0')""")
    def run(): Unit = {
      val q = spark.readStream.table("graft.spec_sink_src")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft.spec_sink_dst")
      try q.awaitTermination() finally q.stop()
    }
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/spec_sink_dst"
    sql("INSERT INTO graft.spec_sink_src SELECT id, id FROM range(100)")
    run() // epoch 0
    sql("INSERT INTO graft.spec_sink_src SELECT id + 100, id FROM range(50)")
    run() // epoch 1: exactly the new rows
    val v = TxnTable.latestVersion(root)
    assert(sql("SELECT count(1) FROM graft.spec_sink_dst")
      .head().getLong(0) == 150)
    assert(TxnTable.lastTxnVersion(root, null).isEmpty) // null appId absent
    // lost-ack replay: drop the engine's commit marker, rerun — no-op
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(new java.io.File(s"$ckpt/commits/${commits.last.getName}").delete())
    new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc").delete()
    run()
    assert(TxnTable.latestVersion(root) == v, "replayed epoch must not commit")
    assert(sql("SELECT count(1) FROM graft.spec_sink_dst")
      .head().getLong(0) == 150)
    // a violating epoch fails loudly at the sink's CHECK gate
    sql("INSERT INTO graft.spec_sink_src SELECT id + 200, -1 FROM range(5)")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("CHECK constraint")))
    assert(TxnTable.latestVersion(root) == v)
    assert(sql("SELECT count(1) FROM graft.spec_sink_dst")
      .head().getLong(0) == 150)
  }

  test("runtime V2 filtering: a dim-side predicate prunes fact FILES at execution") {
    sql("DROP TABLE IF EXISTS graft.spec_rt")
    sql("""CREATE TABLE graft.spec_rt (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='8','layout_div'='1000')""")
    sql("INSERT INTO graft.spec_rt SELECT id, id * 2 FROM range(1000)")
    // the label is not invertible into key bounds the connector accepts
    spark.range(1000).selectExpr("id AS dk",
      "CASE WHEN id BETWEEN 500 AND 560 THEN 'hot' ELSE 'cold' END AS seg")
      .createOrReplaceTempView("spec_rt_dim")
    val q = sql("""SELECT count(1) AS n, sum(f.v) AS s
                   FROM graft.spec_rt f JOIN spec_rt_dim d ON f.k = d.dk
                   WHERE d.seg = 'hot'""")
    val scan = q.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collectFirst {
      case s: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        s
    }.getOrElse(fail("join did not plan a runtime-filterable scan"))
    assert(q.collect()(0) == org.apache.spark.sql.Row(61L, 64660L))
    // keys 500..560 live in file-shards 4 of 8 (125-wide): 1 file kept
    assert(scan.description().contains("files_kept=1/8"),
      s"runtime filter must prune files: ${scan.description()}")
  }

  test("group-filtered UPDATE rewrites only the band's files; scattered degrades whole") {
    sql("DROP TABLE IF EXISTS graft.spec_gf")
    sql("""CREATE TABLE graft.spec_gf (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='8','layout_div'='1000')""")
    sql("INSERT INTO graft.spec_gf SELECT id, id FROM range(1000)")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/spec_gf"
    val v1Paths = TxnTable.readManifest(root, 1).files.map(_.path).toSet
    // band [500, 560] lives in one 125-wide shard: 7 of 8 files carry
    sql("UPDATE graft.spec_gf SET v = v + 1000000 WHERE k BETWEEN 500 AND 560")
    val m2 = TxnTable.readManifest(root, 2)
    assert(m2.files.map(_.path).count(v1Paths.contains) == 7,
      s"7 untouched files must carry by path, got ${m2.files.map(_.path)}")
    assert(sql("SELECT sum(v) FROM graft.spec_gf").head().getLong(0) ==
      999L * 1000 / 2 + 61L * 1000000)
    assert(sql("SELECT sum(v) FROM graft.spec_gf VERSION AS OF 1")
      .head().getLong(0) == 999L * 1000 / 2)
    // a scattered predicate keeps every file: the honest full rewrite
    sql("UPDATE graft.spec_gf SET v = v + 1 WHERE k % 10 = 3")
    val m3 = TxnTable.readManifest(root, 3)
    assert(!m3.files.map(_.path).exists(m2.files.map(_.path).toSet),
      "a scattered UPDATE must rewrite everything (no stale carry)")
    assert(sql("SELECT sum(v) FROM graft.spec_gf").head().getLong(0) ==
      999L * 1000 / 2 + 61L * 1000000 + 100)
  }

  test("manifest statistics: exact rows/bytes reported; small dim auto-broadcasts") {
    sql("DROP TABLE IF EXISTS graft.spec_stats")
    sql("""CREATE TABLE graft.spec_stats (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='100')""")
    sql("INSERT INTO graft.spec_stats SELECT id, id FROM range(100)")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/spec_stats"
    val m = TxnTable.readManifest(root, 1)
    val rel = sql("SELECT * FROM graft.spec_stats")
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.head
    assert(rel.stats.rowCount.contains(BigInt(100)))
    assert(rel.stats.sizeInBytes.toLong == m.files.map(_.bytes).sum)
    // stats follow the pruned file set: a one-shard probe reports less
    val pruned = sql("SELECT * FROM graft.spec_stats WHERE k < 10")
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.head
    assert(pruned.stats.rowCount.contains(BigInt(50)),
      s"pruned stats must count only kept files, got ${pruned.stats.rowCount}")
    // a joined small dim broadcasts with no hint
    spark.range(5000).selectExpr("id AS fk", "id AS fv")
      .createOrReplaceTempView("spec_stats_fact")
    val j = sql("""SELECT count(1) FROM spec_stats_fact f
                   JOIN graft.spec_stats d ON f.fk % 100 = d.k""")
    assert(j.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.nonEmpty, "manifest stats must let the small txn dim auto-broadcast")
    assert(j.head().getLong(0) == 5000L)
  }

  test("TRUNCATE TABLE empties the head as a commit; SHOW TBLPROPERTIES renders the manifest") {
    sql("DROP TABLE IF EXISTS graft.spec_trunc")
    sql("""CREATE TABLE graft.spec_trunc (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='100',
                          'check'='v >= 0')""")
    sql("INSERT INTO graft.spec_trunc SELECT id, id FROM range(100)")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/spec_trunc"
    sql("TRUNCATE TABLE graft.spec_trunc")
    assert(sql("SELECT count(1) FROM graft.spec_trunc").head().getLong(0) == 0)
    // history intact; later inserts compose; CHECK survives the truncate
    assert(sql("SELECT sum(v) FROM graft.spec_trunc VERSION AS OF 2")
      .head().getLong(0) == 4950L)
    sql("INSERT INTO graft.spec_trunc SELECT id, 1 FROM range(5)")
    assert(sql("SELECT sum(v) FROM graft.spec_trunc").head().getLong(0) == 5L)
    intercept[Exception] {
      sql("INSERT INTO graft.spec_trunc SELECT 90, -1")
    }
    val props = sql("SHOW TBLPROPERTIES graft.spec_trunc").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("format") == "graft_txn" && props("key") == "k" &&
      props("check") == "v >= 0" && props("shards") == "2")
    // a pinned time-travel snapshot refuses TRUNCATE... via the table API
    intercept[Exception] {
      new GraftTxnCatalog {
        initialize("g", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("warehouse", graft.Fs.scratch("graft_txn_catalog_wh"))))
      }.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, "spec_trunc"), "1")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TruncatableTable]
        .truncateTable()
    }
  }

  test("DataFrameReader versionAsOf/timestampAsOf options time-travel too") {
    sql("DROP TABLE IF EXISTS graft.spec_vopt")
    sql("""CREATE TABLE graft.spec_vopt (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='100')""")
    sql("INSERT INTO graft.spec_vopt SELECT id, id FROM range(50)")
    sql("INSERT INTO graft.spec_vopt SELECT id + 50, id FROM range(50)")
    // the third time-travel entry path (after SQL VERSION AS OF and the
    // TVF): the reader options map onto loadTable(ident, version|ts)
    assert(spark.read.option("versionAsOf", 1)
      .table("graft.spec_vopt").count() == 50)
    assert(spark.read.option("timestampAsOf", "2030-01-01 00:00:00")
      .table("graft.spec_vopt").count() == 100)
    // (writing FROM a pinned read into the live table is legal — the
    // pinned-write refusal is on the pinned TABLE itself, covered by
    // the VERSION AS OF spec above)
  }

  test("SQL and Scala surfaces are ONE table: API commits visible to SQL and back") {
    sql("DROP TABLE IF EXISTS graft.spec_both")
    sql("""CREATE TABLE graft.spec_both (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='100')""")
    sql("INSERT INTO graft.spec_both SELECT id, 0 FROM range(50)")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/spec_both"
    // a Scala-API surgical merge lands as v2; SQL sees it immediately
    TxnTable.mergeRange(spark, root, spark.range(10)
      .select(col("id").as("k"), lit(7L).as("v")))
    assert(sql("SELECT sum(v) FROM graft.spec_both").head().getLong(0) == 70L)
    assert(sql("SELECT sum(v) FROM graft.spec_both VERSION AS OF 1")
      .head().getLong(0) == 0L)
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  private def whRoot(t: String) = graft.Fs.scratch("graft_txn_catalog_wh") + s"/$t"

  private def dataDirs(root: String): Set[String] =
    Option(new java.io.File(s"$root/data").list()).map(_.toSet).getOrElse(Set.empty)

  /** Drain `src` into `dst` as one AvailableNow streaming run. */
  private def runSink(src: String, dst: String, ckpt: String): Unit = {
    val q = spark.readStream.table(src)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(dst)
    try q.awaitTermination() finally q.stop()
  }

  test("key lanes must be BIGINT: CREATE TABLE and CTAS refuse an INT key before writing") {
    sql("DROP TABLE IF EXISTS graft.spec_intkey")
    val e1 = intercept[Exception] {
      sql("""CREATE TABLE graft.spec_intkey (k INT, v BIGINT) USING graft_txn
             TBLPROPERTIES ('key'='k','shards'='2','layout_div'='10')""")
    }
    assert(messages(e1).exists(_.contains("key column k must be BIGINT")),
      messages(e1))
    assert(!spark.catalog.tableExists("graft.spec_intkey"))
    val e2 = intercept[Exception] {
      sql("""CREATE TABLE graft.spec_intkey USING graft_txn
             TBLPROPERTIES ('key'='k','shards'='2','layout_div'='10')
             AS SELECT CAST(id AS INT) AS k, id AS v FROM range(10)""")
    }
    assert(messages(e2).exists(_.contains("key column k must be BIGINT")),
      messages(e2))
    assert(!new java.io.File(whRoot("spec_intkey") + "/data").exists,
      "a refused CTAS must not write data")
  }

  test("CHECK binds every write: wide UPDATE, MERGE and a stream epoch are rejected") {
    val ckpt = graft.Fs.scratch("spec_chk_ckpt")
    graft.Fs.deleteRecursively(ckpt)
    sql("DROP TABLE IF EXISTS graft.spec_chk")
    sql("DROP TABLE IF EXISTS graft.spec_chk_src")
    sql("""CREATE TABLE graft.spec_chk (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='4','layout_div'='100',
                          'check'='v >= 0')""")
    sql("INSERT INTO graft.spec_chk SELECT id, id FROM range(100)")
    val root = whRoot("spec_chk")
    val (v0, dirs0) = (TxnTable.latestVersion(root), dataDirs(root))
    def rejected(what: String, bad: Int)(stmt: => Unit): Unit = {
      val e = intercept[Exception](stmt)
      assert(messages(e).exists(_.contains(s"CHECK constraint (v >= 0) " +
        s"violated by $bad row(s); commit rejected, attempt cleaned")),
        s"$what: ${messages(e)}")
      assert(TxnTable.latestVersion(root) == v0, s"$what moved the head")
      assert(dataDirs(root) == dirs0, s"$what left an attempt dir")
    }
    // 50 % selective: the copy-on-write rewrite, not the MoR route
    rejected("UPDATE", 3)(sql("UPDATE graft.spec_chk SET v = v - 3 WHERE k < 50"))
    rejected("MERGE", 4)(sql("""
      MERGE INTO graft.spec_chk t
      USING (SELECT id AS k, -1L AS v FROM range(98, 102)) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"""))
    sql("""CREATE TABLE graft.spec_chk_src (k BIGINT, v BIGINT) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='1000')""")
    sql("INSERT INTO graft.spec_chk_src SELECT id + 200, 1 - id FROM range(4)")
    rejected("stream epoch", 2)(runSink("graft.spec_chk_src", "graft.spec_chk", ckpt))
    assert(sql("SELECT count(1), sum(v) FROM graft.spec_chk").head() ===
      org.apache.spark.sql.Row(100L, 4950L))
  }

  test("UPDATE, MERGE and stream epochs write the batch path's full per-file stats") {
    val ckpt = graft.Fs.scratch("spec_twin_ckpt")
    graft.Fs.deleteRecursively(ckpt)
    sql("DROP TABLE IF EXISTS graft.spec_twin")
    sql("DROP TABLE IF EXISTS graft.spec_twin_src")
    sql("""CREATE TABLE graft.spec_twin (k BIGINT, t BIGINT, s STRING) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='4','layout_div'='400',
                          'stats_cols'='t,s','stats_types'='long,string')""")
    sql("""INSERT INTO graft.spec_twin SELECT id,
             CASE WHEN id % 7 = 0 THEN NULL ELSE id * 13 % 997 END,
             concat('doc-', id) FROM range(400)""")
    val root = whRoot("spec_twin")
    def twinOfNewFiles(what: String): Unit = {
      val v = TxnTable.latestVersion(root)
      val prev = TxnTable.readManifest(root, v - 1).files.map(_.path).toSet
      val m = TxnTable.readManifest(root, v)
      val added = m.files.filterNot(f => prev(f.path))
      assert(added.nonEmpty && added.forall(_.bloom.length == 2), s"$what: $added")
      TxnStatsTwin.assertMatches(spark, root, m, added)
    }
    // 50 % selective: the copy-on-write rewrite, not the MoR route
    sql("UPDATE graft.spec_twin SET t = t + 1, s = concat(s, '-u') WHERE k < 200")
    twinOfNewFiles("UPDATE")
    sql("""MERGE INTO graft.spec_twin t
           USING (SELECT id * 3 AS k, id AS t, concat('m-', id) AS s
                  FROM range(200)) s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET t = s.t, s = s.s
           WHEN NOT MATCHED THEN INSERT (k, t, s) VALUES (s.k, s.t, s.s)""")
    twinOfNewFiles("MERGE")
    // a typed (string) stats lane streams too
    sql("""CREATE TABLE graft.spec_twin_src (k BIGINT, t BIGINT, s STRING) USING graft_txn
           TBLPROPERTIES ('key'='k','shards'='2','layout_div'='1000')""")
    sql("""INSERT INTO graft.spec_twin_src SELECT id + 1000, id,
             CASE WHEN id % 5 = 0 THEN NULL ELSE concat('e-', id) END
           FROM range(300)""")
    runSink("graft.spec_twin_src", "graft.spec_twin", ckpt)
    twinOfNewFiles("stream epoch")
  }
}
