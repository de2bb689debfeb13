package graft.sources

import graft.sources.TxnTable.Manifest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** qdo/qdp: SQL `MERGE INTO` / `UPDATE` (and non-key `DELETE`) on the
  * transactional table — `SupportsRowLevelOperations`, GROUP-BASED
  * copy-on-write: Spark rewrites the command into a `ReplaceData` plan
  * that reads the target through the connector's own scan, computes
  * carried + updated + inserted rows, and hands them to the
  * connector's write, which must replace what the scan read. The key-
  * range fast paths stay where they were (SupportsDelete metadata
  * deletes, [[TxnTable.mergeRange]] surgical upserts); this seam is
  * the GENERAL path — arbitrary predicates, arbitrary assignments —
  * priced honestly as a full-snapshot replace commit.
  *
  * The write side is a real distributed [[TxnBatchWrite]] whose tasks
  * write through the one txn file writer ([[TxnFileWriter]]) — the
  * same per-file stats fold (rows, key ranges, every stats lane's
  * min/max/count/sum/bloom) and the same CHECK count as a batch
  * INSERT — and ship each file's stats to the driver as its
  * `WriterCommitMessage`; the manifest is assembled from the task
  * messages, scanning nothing, and a CHECK violation rejects the
  * command with its attempt dir deleted. The write declares
  * `RequiresDistributionAndOrdering` ORDERED BY the table key, so
  * Spark range-partitions + sorts and the replacement files stay
  * range-clustered — pruning survives a MERGE. Commit is the same
  * put-if-absent CAS; a concurrent writer landing first fails the
  * command loudly (write-write conflict on a replace cannot rebase —
  * the Delta ConcurrentModificationException semantics). */
object TxnRowLevel {

  private[sources] class TxnReplaceWrite(root: String, base: Manifest,
      info: LogicalWriteInfo, op: String,
      carriedPaths: () => Seq[String] = () => Nil)
      extends Write with RequiresDistributionAndOrdering {

    override def requiredDistribution(): Distribution =
      Distributions.ordered(requiredOrdering())
    override def requiredOrdering(): Array[SortOrder] = Array(
      Expressions.sort(Expressions.column(base.keyCol), SortDirection.ASCENDING))
    // strict: AQE must not coalesce the range partitions — the shard
    // count IS the layout, and a rebalanced single file would quietly
    // lose the post-DML pruning the ordered distribution exists for
    override def requiredNumPartitions(): Int = base.shards
    override def distributionStrictlyRequired(): Boolean = true

    override def toBatch: BatchWrite = {
      // the plan's rows arrive under LOGICAL names; the files a
      // rewrite emits must carry the PHYSICAL names the manifest's
      // pinned DDL speaks (the column-mapping write translation,
      // positionally — structural and CHECK-referenced columns refuse
      // renames, so every lane binds to the same name in both worlds)
      val l2p = base.renames.map(_.swap).toMap
      val schema = StructType(info.schema().fields.map(f =>
        f.copy(name = l2p.getOrElse(f.name, f.name))))
      new TxnBatchWrite(root, base, TxnFileWriter.plan(SparkSession.active,
        schema, base.keyCol, base.keyCol2, base.checkExpr, base.statsCols,
        base.statsTypes), op, carriedPaths)
    }
  }

  private[sources] class TxnBatchWrite(root: String, base: Manifest,
      plan: TxnFileWriter.WritePlan, op: String,
      carriedPaths: () => Seq[String]) extends BatchWrite {
    private val attempt = java.util.UUID.randomUUID().toString.take(8)
    private val sub = f"data/v${base.version + 1}%08d-$attempt"

    override def createBatchWriterFactory(info: PhysicalWriteInfo)
        : DataWriterFactory =
      new TxnWriterFactory(s"$root/$sub", plan)

    // runs ONCE on the driver after every task committed: assemble the
    // manifest FROM the task messages (no post-write scan), CARRY every
    // base file the group-filtered scan skipped by path (their rows
    // never flowed through the write — see TxnRowLevelOperation), and
    // publish with the same put-if-absent CAS as every other commit
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val rewritten = TxnFileWriter.fileEntries(root, sub, base.checkExpr,
        messages.toSeq.collect { case s: TxnFileWriter.FileStats => s })
      val carry = carriedPaths().toSet
      val files = base.files.filter(f => carry(f.path)) ++ rewritten
      // an arbitrary SQL rewrite: the row-level delta is not recorded
      // (the change feed refuses this version rather than guessing)
      val m = TxnTable.successor(base, op, files, cdfKind = "")
      if (!TxnTable.commit(root, base.version + 1, m)) {
        graft.Fs.deleteRecursively(s"$root/$sub")
        throw new java.util.ConcurrentModificationException(
          s"$op on $root lost the commit race for v${base.version + 1}: " +
            "a replace computed from a stale snapshot cannot rebase — retry " +
            "the statement against the new head")
      }
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      graft.Fs.deleteRecursively(s"$root/$sub")
  }

  /** One task writes one file under `outDir` through the txn file
    * writer; its commit message is that file's [[TxnFileWriter.FileStats]]. */
  private[sources] class TxnWriterFactory(outDir: String,
      plan: TxnFileWriter.WritePlan) extends DataWriterFactory {

    override def createWriter(partitionId: Int, taskId: Long)
        : DataWriter[InternalRow] = new DataWriter[InternalRow] {
      private val w = new TxnFileWriter.Writer(plan, outDir)
      private val width = w.schema.length

      // a group-based ReplaceData query prefixes each row with the
      // __row_operation column (always a KEEP op — 5 WRITE / 6
      // WRITE_WITH_METADATA — delete rows never reach a replace write;
      // Spark strips the prefix itself only on the metadata-attribute
      // task). Shift it off with a reusable ordinal projection; any
      // other shape fails loudly rather than writing a torn row.
      private var shift: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
      private def dataRow(row: InternalRow): InternalRow =
        if (row.numFields == width) row
        else {
          require(row.numFields == width + 1,
            s"row has ${row.numFields} fields for $width-column " +
              s"schema (${plan.schemaDdl})")
          val op = row.getInt(0)
          require(op == 5 || op == 6,
            s"unexpected __row_operation $op in a replace write")
          if (shift == null)
            shift = org.apache.spark.sql.catalyst.ProjectingInternalRow(
              w.schema, 1 to width)
          shift.project(row)
          shift
        }

      override def write(raw: InternalRow): Unit = {
        if (!w.isOpen) w.open(TxnFileWriter.partName(partitionId))
        w.write(dataRow(raw))
      }
      override def commit(): WriterCommitMessage =
        if (w.isOpen) w.close() else TxnFileWriter.NoFile
      override def abort(): Unit = w.abort()
      override def close(): Unit = ()
    }
  }

  /** The row-level operation itself: scan = the table's pruning scan
    * (Spark reads the target through it), write = the replace write.
    *
    * GROUP-FILTERED copy-on-write (the Iceberg shape): the scan stays
    * runtime-filterable, so Spark's row-level group-filtering rule
    * plants a dynamic subquery — the keys the command actually touches
    * — and files containing none of them are NEVER READ. The write
    * then must not treat its messages as the whole table: the commit
    * carries every base file the scan skipped BY PATH (`carriedPaths`
    * prices the carry from the scan's final kept set, observed AFTER
    * execution — static and runtime pruning priced identically). A
    * band-shaped UPDATE thus rewrites O(matching files), not O(table);
    * a scattered predicate degrades honestly to the full rewrite
    * (kept = all, carry = none). File-level stats never filter ROWS
    * (kept files are read whole — matched rows update, unmatched carry
    * through the write), so correctness never depends on the pruning. */
  private[sources] class TxnRowLevelOperation(root: String, base: Manifest,
      command: RowLevelOperation.Command) extends RowLevelOperation {
    @volatile private var builtScan: TxnScan = _
    override def command(): RowLevelOperation.Command = command
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new TxnScanBuilder(SparkSession.active, root, base,
        onBuild = s => builtScan = s)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder {
        override def build(): Write = new TxnReplaceWrite(root, base, info,
          s"sql_${command.toString.toLowerCase}",
          carriedPaths = () => {
            val scan = builtScan
            require(scan != null,
              s"row-level $command on $root: write committed before the " +
                "target scan was planned — the carry set is unpriceable")
            val kept = scan.keptPaths
            base.files.map(_.path).filterNot(kept)
          })
      }
    override def description(): String =
      s"GraftTxnRowLevel($command, group-filtered copy-on-write, " +
        s"v${base.version})"
  }

  // ------------------------------------------------------------------
  // qdo / qdp: MERGE INTO and UPDATE graded end-to-end
  // ------------------------------------------------------------------

  /** qdo: SQL `MERGE INTO` — matched keys update (source cents + 1000),
    * unmatched sources insert (the qda upsert shape, now as the ANSI
    * statement with arbitrary match semantics instead of a key-banded
    * API call). The replacement lands through the distributed
    * stats-inline write path; the graded row replays the serial upsert
    * arithmetic from orders, asserts one commit (v3 = create + insert
    * + merge), and probes that the post-merge layout still PRUNES (the
    * ordered-distribution contract): a key-range probe through the
    * connector opens a strict file subset. */
  def sqlMergeInto(spark: SparkSession, dir: String): DataFrame = {
    GraftTxnCatalog.register(spark)
    val orders = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    orders.createOrReplaceTempView("orders_sqlmrg")
    val mx = orders.agg(max("k")).head().getLong(0) // 1-row probe (qaq)
    spark.sql("DROP TABLE IF EXISTS graft.sql_merge")
    spark.sql(s"""
      CREATE TABLE graft.sql_merge (k BIGINT, cents BIGINT) USING graft_txn
      TBLPROPERTIES ('key'='k', 'shards'='16', 'layout_div'='${mx + 1}')""")
    spark.sql("INSERT INTO graft.sql_merge SELECT k, cents FROM orders_sqlmrg")
    // source: every mod-7 key updated, fresh surrogate keys inserted
    spark.sql("""
      MERGE INTO graft.sql_merge t
      USING (
        SELECT k, cents + 1000 AS cents FROM orders_sqlmrg WHERE k % 7 = 0
        UNION ALL
        SELECT -k - 1, 4200 FROM orders_sqlmrg WHERE k % 101 = 0
      ) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET cents = s.cents
      WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)""")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/sql_merge"
    require(TxnTable.latestVersion(root) == 2, "MERGE must commit exactly v2")
    // the replace stayed range-clustered: a narrow key probe still prunes
    val probe = spark.sql(
      s"SELECT count(1) AS n FROM graft.sql_merge WHERE k BETWEEN 1 AND ${mx / 64}")
    val scan = probe.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collectFirst { case t: TxnScan => t }
      .getOrElse(sys.error("probe did not plan a GraftTxnScan"))
    spark.sql("""
        SELECT count(1) AS n_rows, sum(cents) AS sum_cents,
               sum(CASE WHEN k < 0 THEN 1 ELSE 0 END) AS inserted_rows,
               count(DISTINCT k) AS n_keys
        FROM graft.sql_merge""")
      .withColumn("n_versions", lit(TxnTable.latestVersion(root) + 1L))
      .withColumn("pruned_after_merge", lit(scan.filesKept < scan.filesTotal))
  }

  val sqlMergeIntoOracle: String = """
    WITH b AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    ins AS (SELECT count(1) AS n FROM b WHERE k % 101 = 0),
    upd AS (SELECT count(1) AS n FROM b WHERE k % 7 = 0)
    SELECT CAST(count(1) + ins.n AS BIGINT) AS n_rows,
           CAST(sum(cents) + 1000 * upd.n + 4200 * ins.n AS BIGINT)
             AS sum_cents,
           CAST(ins.n AS BIGINT) AS inserted_rows,
           CAST(count(DISTINCT k) + ins.n AS BIGINT) AS n_keys,
           CAST(3 AS BIGINT) AS n_versions,
           true AS pruned_after_merge
    FROM b, ins, upd GROUP BY ins.n, upd.n"""

  /** qdp: SQL `UPDATE ... SET ... WHERE` — the qct bump as the ANSI
    * statement: arbitrary predicate (mod-7 keys), arbitrary assignment,
    * rewritten by Spark into the copy-on-write replace and committed
    * through the stats-inline write. History intact: v1 re-read after
    * the update still carries the original sum (hash-coupled). */
  def sqlUpdate(spark: SparkSession, dir: String): DataFrame = {
    GraftTxnCatalog.register(spark)
    val orders = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    orders.createOrReplaceTempView("orders_sqlupd")
    val mx = orders.agg(max("k")).head().getLong(0) // 1-row probe (qaq)
    spark.sql("DROP TABLE IF EXISTS graft.sql_update")
    spark.sql(s"""
      CREATE TABLE graft.sql_update (k BIGINT, cents BIGINT) USING graft_txn
      TBLPROPERTIES ('key'='k', 'shards'='16', 'layout_div'='${mx + 1}')""")
    spark.sql("INSERT INTO graft.sql_update SELECT k, cents FROM orders_sqlupd")
    spark.sql("UPDATE graft.sql_update SET cents = cents + 10 WHERE k % 7 = 0")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/sql_update"
    spark.sql("""
        SELECT count(1) AS n_rows, sum(cents) AS sum_cents,
               sum(CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END) AS bumped_rows
        FROM graft.sql_update""")
      .crossJoin(broadcast(spark.sql(
        "SELECT sum(cents) AS sum_cents_v1 FROM graft.sql_update VERSION AS OF 1")))
      .withColumn("n_versions", lit(TxnTable.latestVersion(root) + 1L))
  }

  val sqlUpdateOracle: String = """
    WITH b AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    upd AS (SELECT count(1) AS n FROM b WHERE k % 7 = 0)
    SELECT CAST(count(1) AS BIGINT) AS n_rows,
           CAST(sum(cents) + 10 * upd.n AS BIGINT) AS sum_cents,
           CAST(upd.n AS BIGINT) AS bumped_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents_v1,
           CAST(3 AS BIGINT) AS n_versions
    FROM b, upd GROUP BY upd.n"""

  /** qdu: the GROUP-FILTERED copy-on-write priced end-to-end — a
    * band-shaped `UPDATE ... WHERE k BETWEEN lo AND hi` where the
    * condition never reaches the scan statically (no Filter node
    * exists above a ReplaceData read — asserted: zero pushed filters),
    * yet the commit rewrites ONLY the band's files: Spark's row-level
    * runtime group filter computes the touched keys, the scan skips
    * every file containing none of them, and the write carries the
    * skipped files BY PATH (paths checked against the REAL v1
    * manifest, count replayed from the shard-overlap arithmetic — the
    * qd8 surgical pricing, now reached by the ANSI statement through
    * the group-filter protocol instead of a bespoke API). The
    * scattered-predicate degradation stays graded by qdl/qdo/qdp
    * (kept = all files, carry = none, the honest full rewrite).
    * History intact: v1 re-reads its original sum after the update. */
  def sqlGroupFilteredUpdate(spark: SparkSession, dir: String): DataFrame = {
    GraftTxnCatalog.register(spark)
    val orders = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    orders.createOrReplaceTempView("orders_sqlgf")
    val mx = orders.agg(max("k")).head().getLong(0) // 1-row probe (qaq)
    spark.sql("DROP TABLE IF EXISTS graft.sql_gfupd")
    spark.sql(s"""
      CREATE TABLE graft.sql_gfupd (k BIGINT, cents BIGINT) USING graft_txn
      TBLPROPERTIES ('key'='k', 'shards'='16', 'layout_div'='${mx + 1}')""")
    spark.sql("INSERT INTO graft.sql_gfupd SELECT k, cents FROM orders_sqlgf")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/sql_gfupd"
    val v1Paths = TxnTable.readManifest(root, 1).files.map(_.path).toSet
    val (lo, hi) = (mx / 2, mx / 2 + mx / 16)
    spark.sql(
      s"UPDATE graft.sql_gfupd SET cents = cents + 10 WHERE k BETWEEN $lo AND $hi")
    require(TxnTable.latestVersion(root) == 2,
      "group-filtered UPDATE must commit exactly v2")
    val m2 = TxnTable.readManifest(root, 2)
    val carried = m2.files.map(_.path).count(v1Paths.contains)
    val rewrittenNew = m2.files.size - carried
    spark.sql("""
        SELECT count(1) AS n_rows, sum(cents) AS sum_cents,
               count(DISTINCT k) AS n_keys
        FROM graft.sql_gfupd""")
      .crossJoin(broadcast(spark.sql(
        "SELECT sum(cents) AS sum_cents_v1 FROM graft.sql_gfupd VERSION AS OF 1")))
      .withColumn("n_files_carried", lit(carried.toLong))
      .withColumn("band_files_pruned",
        lit(carried > 0 && rewrittenNew > 0 &&
          carried + rewrittenNew == m2.files.size))
  }

  /** The surgical pricing replay: carried = shards whose key range
    * misses the band; the update arithmetic over orders. */
  val sqlGroupFilteredUpdateOracle: String = """
    WITH b AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    m AS (SELECT max(k) AS mx FROM b),
    probe AS (SELECT mx // 2 AS lo, mx // 2 + mx // 16 AS hi FROM m),
    s AS (SELECT k, cents, k * 16 // (m.mx + 1) AS shard FROM b, m),
    f AS (SELECT shard, min(k) AS mn, max(k) AS mx2 FROM s GROUP BY shard),
    untouched AS (
      SELECT count(1) AS n FROM f, probe
      WHERE probe.hi < f.mn OR probe.lo > f.mx2),
    upd AS (SELECT count(1) AS n FROM s, probe
            WHERE k BETWEEN probe.lo AND probe.hi)
    SELECT CAST(count(1) AS BIGINT) AS n_rows,
           CAST(sum(cents) + 10 * upd.n AS BIGINT) AS sum_cents,
           CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
           CAST(sum(cents) AS BIGINT) AS sum_cents_v1,
           CAST(untouched.n AS BIGINT) AS n_files_carried,
           true AS band_files_pruned
    FROM s, upd, untouched GROUP BY upd.n, untouched.n"""

  /** qeo: `WHEN NOT MATCHED BY SOURCE` through the row-level seam —
    * the round-11 verdict's item 2, the clause every sync/SCD-
    * retirement job uses. Two merges compose on one table:
    *
    *  1. a SYNC merge — matched keys refresh, unmatched sources
    *     insert, and target rows ABSENT from the source retire via
    *     `WHEN NOT MATCHED BY SOURCE AND k % 5 = 0 THEN DELETE`;
    *  2. an SCD retirement — `WHEN NOT MATCHED BY SOURCE THEN UPDATE`
    *     flags every remaining unmatched row (`cents = -1`).
    *
    * The by-source direction is the exact DUAL of qdu's group-filter
    * optimization: a file with no source match can no longer be
    * SKIPPED (its rows may retire), so the graded row asserts the
    * honest full rewrite — ZERO files carried by path across both
    * commits (`by_source_full_rewrite`), where qdu asserts carry > 0
    * for the by-target band. Counts from both match directions
    * (updated / inserted / deleted / retired), the surviving
    * rows/sum, and v1 history are all replayed from orders. */
  def sqlMergeBySource(spark: SparkSession, dir: String): DataFrame = {
    GraftTxnCatalog.register(spark)
    val orders = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    orders.createOrReplaceTempView("orders_sqlbys")
    val mx = orders.agg(max("k")).head().getLong(0) // 1-row probe (qaq)
    spark.sql("DROP TABLE IF EXISTS graft.sql_bysrc")
    spark.sql(s"""
      CREATE TABLE graft.sql_bysrc (k BIGINT, cents BIGINT) USING graft_txn
      TBLPROPERTIES ('key'='k', 'shards'='16', 'layout_div'='${mx + 1}')""")
    spark.sql("INSERT INTO graft.sql_bysrc SELECT k, cents FROM orders_sqlbys")
    val root = graft.Fs.scratch("graft_txn_catalog_wh") + "/sql_bysrc"
    val v1Paths = TxnTable.readManifest(root, 1).files.map(_.path).toSet
    // source = the mod-3 slice (refreshed values) + surrogate inserts;
    // everything else is "absent from source" — the retirement lane
    spark.sql("""
      MERGE INTO graft.sql_bysrc t
      USING (
        SELECT k, cents + 1000 AS cents FROM orders_sqlbys WHERE k % 3 = 0
        UNION ALL
        SELECT -k - 1, 4200 FROM orders_sqlbys WHERE k % 101 = 0
      ) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET cents = s.cents
      WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)
      WHEN NOT MATCHED BY SOURCE AND t.k % 5 = 0 THEN DELETE""")
    require(TxnTable.latestVersion(root) == 2,
      "by-source MERGE must commit exactly v2")
    // SCD retirement: whatever the (smaller) source no longer covers
    // is flagged in place — UPDATE through the by-source direction
    spark.sql("""
      MERGE INTO graft.sql_bysrc t
      USING (SELECT k FROM orders_sqlbys WHERE k % 3 = 0
             UNION ALL
             SELECT -k - 1 FROM orders_sqlbys WHERE k % 101 = 0) s
      ON t.k = s.k
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET cents = -1""")
    require(TxnTable.latestVersion(root) == 3,
      "retirement MERGE must commit exactly v3")
    // both by-source commits must have read EVERYTHING: a skipped file
    // could hide rows that needed to retire (the qdu dual)
    val carried = (TxnTable.readManifest(root, 2).files.map(_.path) ++
      TxnTable.readManifest(root, 3).files.map(_.path))
      .count(v1Paths.contains)
    spark.sql("""
        SELECT count(1) AS n_rows, sum(cents) AS sum_cents,
               sum(CASE WHEN cents = -1 THEN 1 ELSE 0 END) AS retired_rows,
               sum(CASE WHEN k < 0 THEN 1 ELSE 0 END) AS surrogate_rows
        FROM graft.sql_bysrc""")
      .crossJoin(broadcast(spark.sql(
        "SELECT sum(cents) AS sum_cents_v1 FROM graft.sql_bysrc VERSION AS OF 1")))
      .withColumn("by_source_full_rewrite", lit(carried == 0))
      .withColumn("n_versions", lit(TxnTable.latestVersion(root) + 1L))
  }

  /** Replay: merge 1 updates mod-3 (+1000), inserts surrogates (4200),
    * deletes mod-5-not-mod-3; merge 2 retires every surviving row that
    * is neither mod-3 nor a surrogate (cents = -1). */
  val sqlMergeBySourceOracle: String = """
    WITH b AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    m1 AS (
      -- after merge 1: mod-3 refreshed, mod-5 (and not mod-3) deleted
      SELECT k, CASE WHEN k % 3 = 0 THEN cents + 1000 ELSE cents END AS cents
      FROM b WHERE k % 3 = 0 OR k % 5 <> 0
      UNION ALL
      SELECT -k - 1, CAST(4200 AS BIGINT) FROM b WHERE k % 101 = 0),
    m2 AS (
      -- after merge 2: rows outside source (not mod-3, not surrogate)
      -- retire to -1
      SELECT k, CASE WHEN k >= 0 AND k % 3 <> 0 THEN CAST(-1 AS BIGINT)
                     ELSE cents END AS cents
      FROM m1),
    v1 AS (SELECT CAST(sum(cents) AS BIGINT) AS s FROM b)
    SELECT CAST(count(1) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(sum(CASE WHEN cents = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS retired_rows,
           CAST(sum(CASE WHEN k < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS surrogate_rows,
           v1.s AS sum_cents_v1,
           true AS by_source_full_rewrite,
           CAST(4 AS BIGINT) AS n_versions
    FROM m2, v1 GROUP BY v1.s"""
}
