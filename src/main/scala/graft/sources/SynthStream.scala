package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** qa8: the STREAMING half of the qa6 connector — a custom
  * `MicroBatchStream` with offset management and ADMISSION CONTROL
  * (`SupportsTriggerAvailableNow` ⊃ `SupportsAdmissionControl`): the
  * source owns a monotone long offset over its deterministic Lehmer
  * row space, `latestOffset(start, limit)` admits at most `batch` rows
  * per trigger, `prepareForTriggerAvailableNow` pins the backfill
  * target so `Trigger.AvailableNow` drains the space in bounded
  * batches and SELF-TERMINATES — the engine-side machinery a
  * replayable production source (Kafka, a CDC log) implements, here
  * hash-checkable because the row space regenerates from a range in
  * any engine.
  *
  * Exactly-once shape: `planInputPartitions(start, end)` is a pure
  * function of the offset pair, so a restarted/retried batch rebuilds
  * the identical rows; `commit(offset)` is the driver's
  * acknowledgment, not a state mutation. The graded query streams the
  * space through a Complete-mode aggregate into a memory sink and
  * grades the final counts PLUS the multi-batch evidence (row cap
  * honored per progress event, > 1 batch ran). */
class SynthStream extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SynthSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val rows = Option(properties.get("rows")).map(_.toLong).getOrElse(1000L)
    val batch = Option(properties.get("batch")).map(_.toLong).getOrElse(256L)
    new SynthStreamTable(rows, batch)
  }
}

object SynthStream {
  /** qa8 graded query: AvailableNow over the custom stream, Complete
    * aggregate, memory sink; batch arithmetic graded. */
  def streamingSourceAudit(spark: SparkSession, dir: String): DataFrame = {
    val rows = 20000L; val batch = 4096L
    val stream = spark.readStream.format("graft.sources.SynthStream")
      .option("rows", rows.toString).option("batch", batch.toString).load()
    val agg = stream
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum("value_e6").as("sum_lehmer"))
    val qname = "graft_synthstream_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    var nBatches = 0L
    var capHonored = true
    graft.SessionConf.withShufflePartitions(spark, 8) {
      val q = agg.writeStream.outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .format("memory").queryName(qname).start()
      try {
        q.awaitTermination() // AvailableNow self-terminates
        val progress = q.recentProgress.filter(_.numInputRows > 0)
        nBatches = progress.length.toLong
        capHonored = progress.forall(_.numInputRows <= batch)
      } finally q.stop()
    }
    val expectedBatches = (rows + batch - 1) / batch
    spark.table(qname)
      .withColumn("n_batches", lit(nBatches))
      .withColumn("batches_expected", lit(expectedBatches))
      .withColumn("drained_in_capped_batches",
        lit(capHonored && nBatches == expectedBatches))
      .orderBy("bucket")
  }

  def streamingSourceAuditOracle: String = """
    WITH g AS (
      SELECT i AS id,
             ((i % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647
               AS value_e6,
             'b' || CAST(i % 10 AS VARCHAR) AS bucket
      FROM (SELECT unnest(range(20000)) AS i))
    SELECT bucket, CAST(count(1) AS BIGINT) AS n,
           CAST(sum(value_e6) AS BIGINT) AS sum_lehmer,
           CAST(5 AS BIGINT) AS n_batches,
           CAST(5 AS BIGINT) AS batches_expected,
           true AS drained_in_capped_batches
    FROM g GROUP BY bucket ORDER BY bucket"""

  /** qal: RESTART-REPLAY for the custom source — the q3l checkpoint
    * doctrine applied to SynthStream (round-7 verdict item 6): qa8
    * proved admission control within ONE query lifetime; this proves
    * the offsets a production restart actually rides on. Run 1 drains
    * the space up to `cut` through a checkpointed Append parquet sink
    * and terminates (the "crash"); run 2 is a NEW query object over the
    * SAME checkpoint with more data available (a larger `rows` target —
    * the source's backfill grew while the job was down). Recovery must
    * restore the committed offset from the checkpoint via
    * `deserializeOffset` and resume at exactly `cut`: re-reading from 0
    * would land duplicate ids in new batch ids (the sink's transaction
    * log only dedupes REPLAYED batches, not re-emitted data), which the
    * per-bucket counts and the distinct-id column would hash-fail;
    * under-reading would miss ids. The per-run `numInputRows` totals
    * ride as exact contract columns: run 1 = cut, run 2 = rows - cut,
    * zero overlap. */
  def streamingRestartReplay(spark: SparkSession, dir: String): DataFrame = {
    val rows = 20000L; val cut = 12288L; val batch = 4096L
    val sinkDir = graft.Fs.scratch("graft_synthstream_restart_sink")
    val ckptDir = graft.Fs.scratch("graft_synthstream_restart_ckpt")
    graft.Fs.deleteRecursively(sinkDir)
    graft.Fs.deleteRecursively(ckptDir)
    // one drain = one query lifetime (a fresh query object per call, so
    // the second genuinely reconstructs offsets from ckptDir); `target`
    // plays the role of "how much data exists right now"
    def drain(target: Long): Long = {
      val stream = spark.readStream.format("graft.sources.SynthStream")
        .option("rows", target.toString).option("batch", batch.toString)
        .load()
      val q = stream.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", sinkDir)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination() // AvailableNow self-terminates
        q.recentProgress.map(_.numInputRows).sum
      } finally q.stop()
    }
    val run1 = drain(cut)  // drains [0, cut), then "crashes"
    val run2 = drain(rows) // resumes from the checkpointed offset
    spark.read.parquet(sinkDir)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum("value_e6").as("sum_lehmer"),
        countDistinct("id").as("n_distinct"))
      .withColumn("run1_rows", lit(run1))
      .withColumn("run2_rows", lit(run2))
      .withColumn("resumed_without_replay",
        lit(run1 == cut && run2 == rows - cut))
      .orderBy("bucket")
  }

  def streamingRestartReplayOracle: String = """
    WITH g AS (
      SELECT i AS id,
             ((i % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647
               AS value_e6,
             'b' || CAST(i % 10 AS VARCHAR) AS bucket
      FROM (SELECT unnest(range(20000)) AS i))
    SELECT bucket, CAST(count(1) AS BIGINT) AS n,
           CAST(sum(value_e6) AS BIGINT) AS sum_lehmer,
           CAST(count(DISTINCT id) AS BIGINT) AS n_distinct,
           CAST(12288 AS BIGINT) AS run1_rows,
           CAST(7712 AS BIGINT) AS run2_rows,
           true AS resumed_without_replay
    FROM g GROUP BY bucket ORDER BY bucket"""

  /** qcw: foreachBatch TRANSACTIONAL-SINK IDEMPOTENCE + the
    * concurrent-writer negative control (round-8 verdict item 4).
    *
    * Structured Streaming's contract with an external sink is
    * at-least-once batch delivery: after a crash between "batch N
    * executed" and "commits/N written", recovery RE-RUNS batch N with
    * the SAME batchId, and the sink must deduplicate on that txn id.
    * Here the sink is a foreachBatch writer with exactly the
    * production shape: write the batch to an attempt dir, then
    * publish a put-if-absent marker per batchId (the TxnTable hard
    * link, i.e. the epoch/txn table every exactly-once sink keeps) —
    * a re-delivered batchId finds the marker and SKIPS, leaving the
    * sink byte-identical.
    *
    * The re-delivery is STAGED deterministically, not hoped for:
    * after run 1 drains 4 batches, the newest `commits/N` file is
    * deleted (exactly the crash window above) and a new query object
    * resumes from the same checkpoint — the engine re-runs batch 3,
    * the marker check fires, `n_replayed = 1`, and the per-bucket
    * aggregate proves no row landed twice (a non-idempotent sink
    * would double batch 3's 4096 rows and hash-fail).
    *
    * The negative control: a SECOND writer started against the SAME
    * checkpoint root while the first is live must be REJECTED (one
    * checkpoint = one logical writer — Spark enforces it by query id;
    * `second_writer_rejected` grades the refusal). At 100 TB these
    * two properties are what make a streaming pipeline restartable
    * and exclusively-owned; both are graded, not asserted. */
  def batchReplayIdempotence(spark: SparkSession, dir: String): DataFrame = {
    val rows = 16384L; val batch = 4096L
    val sinkDir = graft.Fs.scratch("graft_replay_idem_sink")
    val ckptDir = graft.Fs.scratch("graft_replay_idem_ckpt")
    val ctlCkpt = graft.Fs.scratch("graft_replay_idem_ctl")
    Seq(sinkDir, ckptDir, ctlCkpt).foreach(graft.Fs.deleteRecursively)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(sinkDir))
    val replayed = new java.util.concurrent.atomic.AtomicLong(0)
    val executed = new java.util.concurrent.atomic.AtomicLong(0)
    def marker(id: Long) =
      java.nio.file.Paths.get(sinkDir, f"batch-$id%04d.committed")
    val writeBatch: (DataFrame, Long) => Unit = (df, id) => {
      if (java.nio.file.Files.exists(marker(id))) replayed.incrementAndGet()
      else {
        df.write.mode("overwrite").parquet(s"$sinkDir/batch_$id")
        // put-if-absent publish (another attempt may have raced us)
        try java.nio.file.Files.createFile(marker(id))
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          replayed.incrementAndGet() }
        executed.incrementAndGet()
      }
    }
    def run(): Unit = {
      val stream = spark.readStream.format("graft.sources.SynthStream")
        .option("rows", rows.toString).option("batch", batch.toString)
        .load()
      val q = graft.SessionConf.withShufflePartitions(spark, 8) {
        stream.writeStream.outputMode(OutputMode.Append())
          .foreachBatch(writeBatch)
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow()).start()
      }
      try q.awaitTermination() finally q.stop()
    }
    run()
    val batchesRun1 = executed.get()
    // the crash window: batch N executed, its sink txn committed, but
    // the engine's commits/N ack lost — recovery must re-deliver N
    graft.Fs.dropLastCommitAck(ckptDir)
    run()
    // negative control: second concurrent writer on one checkpoint root
    val liveStream = spark.readStream.format("graft.sources.SynthStream")
      .option("rows", (rows * 1000).toString).option("batch", batch.toString)
      .load()
    // by default Spark lets a new run of the same query TAKE OVER
    // (stopActiveRunOnRestart) — the exclusivity control must pin it
    // off so the second writer is refused rather than usurping
    val rejected = graft.SessionConf.withConfs(spark,
      "spark.sql.streaming.stopActiveRunOnRestart" -> "false") {
      val qA = liveStream.writeStream.outputMode(OutputMode.Append())
        .format("noop").option("checkpointLocation", ctlCkpt)
        .trigger(Trigger.ProcessingTime("60 seconds")).start()
      try {
        liveStream.writeStream.outputMode(OutputMode.Append())
          .format("noop").option("checkpointLocation", ctlCkpt)
          .trigger(Trigger.ProcessingTime("60 seconds")).start()
          .stop() // unreachable: the start must throw
        false
      } catch { case e: Throwable =>
        String.valueOf(e.getMessage).contains("already active")
      } finally qA.stop()
    }
    val dirs = (0L until batchesRun1).map(i => s"$sinkDir/batch_$i")
    spark.read.parquet(dirs: _*)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum("value_e6").as("sum_lehmer"),
        countDistinct("id").as("n_distinct"))
      .withColumn("n_batches", lit(batchesRun1))
      .withColumn("n_replayed", lit(replayed.get()))
      .withColumn("replay_skipped", lit(replayed.get() == 1L))
      .withColumn("second_writer_rejected", lit(rejected))
      .orderBy("bucket")
  }

  def batchReplayIdempotenceOracle: String = """
    WITH g AS (
      SELECT i AS id,
             ((i % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647
               AS value_e6,
             'b' || CAST(i % 10 AS VARCHAR) AS bucket
      FROM (SELECT unnest(range(16384)) AS i))
    SELECT bucket, CAST(count(1) AS BIGINT) AS n,
           CAST(sum(value_e6) AS BIGINT) AS sum_lehmer,
           CAST(count(DISTINCT id) AS BIGINT) AS n_distinct,
           CAST(4 AS BIGINT) AS n_batches,
           CAST(1 AS BIGINT) AS n_replayed,
           true AS replay_skipped,
           true AS second_writer_rejected
    FROM g GROUP BY bucket ORDER BY bucket"""
}

private[sources] class SynthStreamTable(rows: Long, batch: Long)
    extends Table with SupportsRead {
  override def name(): String = s"synth-stream($rows)"
  override def schema(): StructType = SynthSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = SynthSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new SynthMicroBatchStream(rows, batch)
      }
    }
}

private[sources] case class SynthOffset(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

private[sources] class SynthMicroBatchStream(rows: Long, batch: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  // the backfill target AvailableNow pins before the first trigger;
  // until prepared, the "latest" the source reports is everything
  @volatile private var target: Long = rows

  override def prepareForTriggerAvailableNow(): Unit = target = rows

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batch)

  // The engine passes back the limit the source should honor — usually
  // this source's own default (maxRows(batch)), but AvailableNow wraps
  // it in a composite and an admission-control source must derive the
  // cap from the ARGUMENT, not re-read its constructor: ignoring it
  // over-admits the moment the engine tightens the limit (round-7
  // advisor finding).
  private def admitCap(limit: ReadLimit): Long = limit match {
    case r: ReadMaxRows        => r.maxRows()
    case _: ReadAllAvailable   => Long.MaxValue
    case c: CompositeReadLimit => c.getReadLimits.map(admitCap).min
    // min-rows (and any future limit kind) carries no row CAP — admit
    // the source's own batch size, never more than the engine allows
    case _                     => batch
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SynthOffset].pos
    val admitted = math.min(admitCap(limit), math.max(0L, target - s))
    SynthOffset(s + admitted)
  }
  override def reportLatestOffset(): Offset = SynthOffset(target)

  override def initialOffset(): Offset = SynthOffset(0L)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control variant is used")
  override def deserializeOffset(json: String): Offset =
    SynthOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[SynthOffset].pos,
      end.asInstanceOf[SynthOffset].pos)
    // pure function of the offset pair — a retried batch is identical
    if (e <= s) Array.empty
    else Array(SynthPartition(s, e))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SynthReaderFactory(SynthSource.schema.fieldNames)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
