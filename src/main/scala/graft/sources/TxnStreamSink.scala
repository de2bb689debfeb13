package graft.sources

import graft.sources.TxnTable.Manifest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** qdr: STREAMING WRITE INTO the transactional table —
  * `df.writeStream.toTable("graft.t")` as a real DSv2
  * [[StreamingWrite]], completing the table's streaming story (qdm
  * reads FROM it; this writes INTO it; together:
  * `readStream.table(src) → transform → writeStream.toTable(dst)`).
  *
  * Exactly-once is the Delta txnAppId/txnVersion contract at the SINK
  * seam, not foreachBatch user code (qd4's shape, now inside the
  * connector): appId = the streaming query's checkpoint-stable id,
  * txnVersion = the epoch id. Epoch commit goes through
  * [[TxnTable.commitAdds]] — the ledger is consulted under the CURRENT
  * head inside the optimistic retry, so a replayed epoch (the lost-ack
  * crash window: sink committed, engine ack lost, restart re-runs the
  * batch) publishes NOTHING, mints NO version, and the duplicate files
  * the replay wrote are deleted — they live under the NEW run's
  * attempt directory, never the committed epoch's (run-scoped dirs are
  * what make the delete safe).
  *
  * The write path is the one txn file writer ([[TxnFileWriter]], via
  * [[TxnRowLevel]]'s task writer): executor tasks write parquet
  * directly, fold every per-file stat (rows, key ranges, each stats
  * lane's min/max/count/sum/bloom, typed lanes included) and the CHECK
  * count, and ship them as commit messages; the driver folds messages
  * into a DELTA manifest — O(batch) data AND metadata per epoch, zero
  * post-write scans. An epoch with a CHECK violation is rejected with
  * the batch write's message, its attempt dir is cleaned, and the
  * query fails loudly. */
object TxnStreamSink {

  /** Epoch files follow the SOURCE partitioning (one file per input
    * partition, exact stats inline) — deliberately NOT
    * `RequiresDistributionAndOrdering`: Spark's planner consults the
    * distribution of the statement's OUTER `Write`, shared with batch
    * INSERTs (which would then shuffle twice — once for the declared
    * distribution, once for the append's own layout), and per-epoch
    * re-clustering is the compaction's job anyway: continuous ingest +
    * periodic `OPTIMIZE` (qd0/qdj) is the Delta/Iceberg production
    * pattern, and the manifest stats keep every epoch file prunable in
    * the meantime. */
  private[sources] class TxnStreamingWrite(root: String, base: Manifest,
      info: LogicalWriteInfo) extends StreamingWrite {

    private val appId = info.queryId()
    // run-scoped attempt tag: a replayed epoch (new run) writes under a
    // DIFFERENT directory than the committed original, so dropping the
    // duplicate can never touch committed data
    private val runTag = java.util.UUID.randomUUID().toString.take(8)
    private def subFor(epochId: Long) = f"data/stream-$runTag-e$epochId%06d"

    override def createStreamingWriterFactory(info: PhysicalWriteInfo)
        : StreamingDataWriterFactory =
      new TxnStreamingWriterFactory(root, runTag,
        TxnFileWriter.plan(SparkSession.active,
          StructType.fromDDL(base.schemaDdl), base.keyCol, base.keyCol2,
          base.checkExpr, base.statsCols, base.statsTypes))

    override def commit(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit = {
      val sub = subFor(epochId)
      val files = TxnFileWriter.fileEntries(root, sub, base.checkExpr,
        messages.toSeq.collect { case s: TxnFileWriter.FileStats => s })
      if (files.isEmpty) return // empty epoch: nothing to publish
      val (_, _, applied) = TxnTable.commitAdds(root, files,
        op = s"stream_${appId.take(8)}_e$epochId",
        txn = Some(appId -> epochId))
      // a replayed epoch published nothing: drop this run's duplicates
      if (!applied) graft.Fs.deleteRecursively(s"$root/$sub")
    }

    override def abort(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit =
      graft.Fs.deleteRecursively(s"$root/${subFor(epochId)}")
  }

  /** Per-epoch delegation onto the row-level task writer: same file
    * writer, same stats — only the target directory is epoch-scoped
    * (and run-scoped, see [[TxnStreamingWrite.subFor]]). */
  private[sources] class TxnStreamingWriterFactory(root: String,
      runTag: String, plan: TxnFileWriter.WritePlan)
      extends StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
        : DataWriter[InternalRow] =
      new TxnRowLevel.TxnWriterFactory(
        f"$root/data/stream-$runTag-e$epochId%06d", plan)
        .createWriter(partitionId, taskId)
  }

  /** qdr: the table-to-table streaming pipeline, every surface SQL/
    * API-native — `readStream.table("graft.src") → filter →
    * writeStream.toTable("graft.dst")` — graded end-to-end across
    * three runs and one staged crash:
    *
    *  - run 1 (AvailableNow) drains the 6 staged key-sextile appends
    *    of the source table into dst as ONE ledgered epoch commit;
    *  - 3 more sextiles land in src; run 2 resumes from the engine
    *    checkpoint and delivers exactly the new rows as epoch 1;
    *  - the lost-ack crash window: the engine's last commit marker is
    *    deleted and run 3 REPLAYS epoch 1 — the sink's inline ledger
    *    (appId = the checkpoint-stable query id, txnVersion = epoch)
    *    detects it under the current head, publishes NOTHING, mints no
    *    version, and removes the replay's run-scoped duplicate files
    *    (`replay_noop` asserts version AND data-dir parity);
    *  - a violating slice (negative chars) lands in src; run 4 must
    *    FAIL loudly at the sink's CHECK gate — validated against the
    *    epoch's rows AS WRITTEN, then cleaned — leaving dst bit-intact
    *    (`check_refused`, folded into the final aggregates).
    *
    * Metadata cost rides the oracle too: both data epochs committed as
    * DELTA manifests (`epochs_are_deltas` — O(batch) metadata per
    * epoch, the qd5 shape through the connector sink). The final
    * n_rows/chars_sum replay the 9-sextile even-key arithmetic from
    * documents — a re-delivered, dropped, or half-published epoch
    * shifts a hash-graded column. */
  def sqlStreamSink(spark: SparkSession, dir: String): DataFrame = {
    GraftTxnCatalog.register(spark)
    val ckpt = graft.Fs.scratch("graft_txn_sink_ckpt")
    graft.Fs.deleteRecursively(ckpt)
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id").as("k"), col("n_chars").cast("long").as("c"))
    docs.createOrReplaceTempView("docs_sqlsink")
    val mx = docs.agg(max("k")).head().getLong(0) // 1-row probe (qaq)
    spark.sql("DROP TABLE IF EXISTS graft.sink_src")
    spark.sql("DROP TABLE IF EXISTS graft.sink_dst")
    spark.sql(s"""
      CREATE TABLE graft.sink_src (k BIGINT, c BIGINT) USING graft_txn
      TBLPROPERTIES ('key'='k', 'shards'='4', 'layout_div'='${mx + 1}')""")
    spark.sql(s"""
      CREATE TABLE graft.sink_dst (k BIGINT, c BIGINT) USING graft_txn
      TBLPROPERTIES ('key'='k', 'shards'='4', 'layout_div'='${mx + 1}',
                     'check'='c >= 0')""")
    def stage(slices: Range): Unit = slices.foreach { s =>
      spark.sql("INSERT INTO graft.sink_src SELECT k, c FROM docs_sqlsink" +
        s" WHERE k * 9 div ${mx + 1} = $s")
    }
    def run(): Unit = {
      val q = spark.readStream.table("graft.sink_src")
        .where(col("k") % 2 === 0) // the pipeline's transform
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft.sink_dst")
      try q.awaitTermination() finally q.stop()
    }
    val dstRoot = graft.Fs.scratch("graft_txn_catalog_wh") + "/sink_dst"
    stage(0 until 6)
    run() // epoch 0: the 6 staged sextiles
    stage(6 until 9)
    run() // epoch 1: exactly the 3 new ones
    val vAfter = TxnTable.latestVersion(dstRoot)
    val dirsAfter = new java.io.File(s"$dstRoot/data").listFiles()
      .count(_.isDirectory)
    // the lost-ack crash window: sink committed, engine ack lost
    graft.Fs.dropLastCommitAck(ckpt)
    run() // replays epoch 1 — the ledger must make it a no-op
    val replayNoop = TxnTable.latestVersion(dstRoot) == vAfter &&
      new java.io.File(s"$dstRoot/data").listFiles()
        .count(_.isDirectory) == dirsAfter
    val ledgerEpoch = TxnTable.readManifestRaw(dstRoot, vAfter).txns
      .map(_._2).headOption.getOrElse(-1L)
    // the DATA epochs (dst history = v0 create, v1 the CHECK DDL
    // commit, v2+v3 the two stream epochs): each must be a DELTA of
    // its predecessor — O(batch) metadata per epoch
    val streamVersions = (1 to vAfter).filter(v =>
      TxnTable.readManifestRaw(dstRoot, v).op.startsWith("stream_"))
    val epochsAreDeltas = streamVersions.size == 2 && streamVersions.forall(
      v => TxnTable.readManifestRaw(dstRoot, v).deltaOf == v - 1)
    // a violating slice must be REFUSED at the sink's CHECK gate
    spark.sql("INSERT INTO graft.sink_src" +
      s" SELECT k + ${mx + 1}, -1 FROM docs_sqlsink WHERE k % 1001 = 0")
    val checkRefused =
      try { run(); false }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          def chain(t: Throwable): Seq[String] =
            if (t == null) Nil
            else Option(t.getMessage).toSeq ++ chain(t.getCause)
          chain(e).exists(_.contains("CHECK constraint")) &&
            TxnTable.latestVersion(dstRoot) == vAfter
      }
    spark.sql("""
        SELECT count(1) AS n_rows, sum(c) AS chars_sum,
               count(DISTINCT k) AS n_keys
        FROM graft.sink_dst""")
      .withColumn("n_versions", lit(vAfter + 1L))
      .withColumn("ledger_epoch", lit(ledgerEpoch))
      .withColumn("epochs_are_deltas", lit(epochsAreDeltas))
      .withColumn("replay_noop", lit(replayNoop))
      .withColumn("check_refused", lit(checkRefused))
  }

  val sqlStreamSinkOracle: String = """
    WITH d AS (SELECT doc_id AS k, CAST(n_chars AS BIGINT) AS c
               FROM documents),
    fin AS (
      SELECT CAST(count(1) AS BIGINT) AS n_rows,
             CAST(sum(c) AS BIGINT) AS chars_sum,
             CAST(count(DISTINCT k) AS BIGINT) AS n_keys
      FROM d WHERE k % 2 = 0)
    SELECT fin.n_rows, fin.chars_sum, fin.n_keys,
           CAST(4 AS BIGINT) AS n_versions,
           CAST(1 AS BIGINT) AS ledger_epoch,
           true AS epochs_are_deltas, true AS replay_noop,
           true AS check_refused
    FROM fin"""
}
