package graft.sources

import java.util

import graft.sources.TxnTable.FileEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** qe6: STREAMING the change data feed — `readStream.format(
  * "graft.sources.TxnCdfSource").option("root", ...)` plans a
  * micro-batch stream whose OFFSETS ARE THE LOG'S VERSIONS and whose
  * rows are exactly what each commit RECORDED ([[TxnTable.changeFeed]]
  * semantics): append versions serve their add files as inserts, DML
  * versions serve their change files (deletes and update pre/post
  * images), and no-change versions (optimize, purge, metadata DDL)
  * contribute nothing — so the stream COMPOSES ACROSS REWRITES that
  * the append-only adds-stream (qdm) must refuse. This is the Delta
  * CDF streaming shape: downstream materialized views consume
  * row-level deltas exactly-once under engine checkpointing, at
  * O(changes) per batch over any table size.
  *
  * Readers delegate to Spark's vectorized parquet factories (one per
  * file class); a thin wrapper appends the per-batch constants
  * (`_change_type` for add files, `_commit_version` for all) to each
  * row — no extra pass, no shuffle. Column-mapped snapshots refuse
  * (same contract as the adds-stream); schema widening mid-range is
  * fine (old files null-fill under the head's pinned schema). */
class TxnCdfSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = Option(options.get("root")).getOrElse(
      sys.error("TxnCdfSource needs option 'root'"))
    val m = TxnTable.readManifest(root, TxnTable.latestVersion(root))
    // column-mapped snapshots stream fine (qep): the surface is the
    // LOGICAL schema; files read under their stable physical names and
    // align positionally (see TxnCdfMicroBatchStream)
    TxnTable.logicalSchema(m)
      .add("_change_type", StringType)
      .add("_commit_version", LongType)
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TxnCdfTable(properties.get("root"), schema)
}

private[sources] class TxnCdfTable(root: String, outSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft_txn_cdf.`$root`"
  override def schema(): StructType = outSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = outSchema
      override def toMicroBatchStream(ckpt: String): MicroBatchStream =
        new TxnCdfMicroBatchStream(SparkSession.active, root, outSchema,
          caps = TxnAdmission.Caps.from(k => Option(options.get(k))))
      override def description(): String = s"GraftTxnCdfScan($root)"
    }
}

private[sources] class TxnCdfMicroBatchStream(spark: SparkSession,
    root: String, outSchema: StructType,
    startAt: Option[Int] = None,
    caps: TxnAdmission.Caps = TxnAdmission.Caps.none) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // outSchema = LOGICAL data columns + (_change_type, _commit_version).
  // Files are read under the PHYSICAL schema pinned from the head DDL
  // (qep): a rename is metadata-only — physical file names never
  // change and columns never reorder — so physically-read rows align
  // positionally with the logical output attributes, and the stream
  // survives RENAME COLUMN commits anywhere in its range. Arity is
  // padded/truncated against the stream's fixed output (an ADD COLUMN
  // after stream start is the next run's surface, as before).
  private val dataSchema = {
    val phys = StructType.fromDDL(
      TxnTable.readManifest(root, TxnTable.latestVersion(root)).schemaDdl)
    StructType(phys.fields.take(outSchema.fields.length - 2))
  }
  private val cdfFileSchema = dataSchema.add("_change_type", StringType)

  private case class CdfOffset(version: Int) extends Offset {
    override def json(): String = version.toString
  }

  private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(TxnTable.latestVersion(root))

  // `startingVersion` (the option surface, qe5's binding): the first
  // batch begins AT that version; absent = the initial load
  override def initialOffset(): Offset =
    CdfOffset(startAt.map(_ - 1).getOrElse(-1))
  override def deserializeOffset(json: String): Offset = CdfOffset(json.toInt)
  private def head: Int = availableNowCap.getOrElse(TxnTable.latestVersion(root))

  override def latestOffset(): Offset = CdfOffset(head)
  // admission control (qen): same version/files/bytes trigger caps as
  // the adds-stream — a long-history CDF backfill drains in bounded,
  // checkpointable batches instead of one unbounded first batch
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    caps.defaultLimit
  override def reportLatestOffset(): Offset = CdfOffset(head)
  // what each version SERVES downstream: adds versions their added
  // data files; DML versions their change file (1 file; the manifest
  // records its rows, not bytes — a files cap is exact, a bytes cap
  // counts DML change files as free); no-change versions nothing
  private def cdfVersionFiles(v: Int): Seq[FileEntry] = {
    val raw = TxnTable.readManifestRaw(root, v)
    raw.cdfKind match {
      case "files" => Seq(FileEntry(raw.cdfPath, raw.cdfRows, 0L, 0L))
      case "adds"  => TxnAdmission.addsOf(root, v)
      case _       => Nil
    }
  }
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    CdfOffset(TxnAdmission.admit(root,
      start.asInstanceOf[CdfOffset].version, head, limit, caps,
      cdfVersionFiles))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private def parquetScanOver(schema: StructType, paths: Seq[String]) =
    TxnTable.parquetScan(spark, root, paths, schema, schema)

  import TxnCdfStream.CdfPartition

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val vFrom = start.asInstanceOf[CdfOffset].version
    val vTo = end.asInstanceOf[CdfOffset].version
    (math.max(vFrom + 1, 0) to vTo).flatMap { v =>
      val raw = TxnTable.readManifestRaw(root, v)
      val m = TxnTable.readManifest(root, v)
      raw.cdfKind match {
        case "adds" =>
          val before =
            if (v == 0) Set.empty[String]
            else TxnTable.readManifest(root, v - 1).files.map(_.path).toSet
          val adds = m.files.map(_.path).filterNot(before.contains)
          if (adds.isEmpty) Nil
          else parquetScanOver(dataSchema, adds).toBatch.planInputPartitions()
            .map(p => CdfPartition(p, insert = true, v.toLong)).toSeq
        case "files" =>
          parquetScanOver(cdfFileSchema, Seq(raw.cdfPath))
            .toBatch.planInputPartitions()
            .map(p => CdfPartition(p, insert = false, v.toLong)).toSeq
        case "none" => Nil
        case _ => sys.error(s"change feed not recorded for v$v " +
          s"(op=${raw.op}): an arbitrary rewrite's row delta is unknown")
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TxnCdfStream.CdfReaderFactory(
      parquetScanOver(dataSchema, Nil).createReaderFactory(),
      parquetScanOver(cdfFileSchema, Nil).createReaderFactory())
}

object TxnCdfStream {
  import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
  import org.apache.spark.unsafe.types.UTF8String

  /** One wrapped partition per underlying parquet split: `insert` set
    * for add files (the constant the file class implies), unset for
    * change files (their rows carry their own `_change_type`). */
  private[sources] case class CdfPartition(inner: InputPartition,
      insert: Boolean, version: Long) extends InputPartition {
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  /** Appends the per-partition constants to each delegate row: add
    * files gain (_change_type='insert', version); change files (whose
    * rows already end with their own type) gain (version). Row-based
    * on purpose — the constants append via a JoinedRow, zero copies of
    * the data columns. */
  private[sources] class CdfReaderFactory(
      dataFactory: PartitionReaderFactory,
      cdfFactory: PartitionReaderFactory) extends PartitionReaderFactory {
    override def supportColumnarReads(p: InputPartition): Boolean = false
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val c = p.asInstanceOf[CdfPartition]
      val delegate =
        (if (c.insert) dataFactory else cdfFactory).createReader(c.inner)
      val consts: InternalRow =
        if (c.insert) new GenericInternalRow(
          Array[Any](UTF8String.fromString("insert"), c.version))
        else new GenericInternalRow(Array[Any](c.version))
      val joined = new JoinedRow()
      new PartitionReader[InternalRow] {
        override def next(): Boolean = delegate.next()
        override def get(): InternalRow = joined(delegate.get(), consts)
        override def close(): Unit = delegate.close()
      }
    }
  }

  /** qe6: the STREAMING change feed graded across two runs and one
    * engine checkpoint. Run 1 (`Trigger.AvailableNow`) drains the
    * initial load + an append + a surgical band delete — inserts from
    * add files, deletes from change files, in one stream. Between
    * runs, an OPTIMIZE rewrites EVERY data file and a merge commits
    * update images; run 2 resumes from the checkpointed version offset
    * and delivers EXACTLY the merge's pre/post rows — zero rows for
    * the optimize (`across_rewrite`: the adds-stream qdm must refuse
    * this exact history; the CDF stream composes across it, which is
    * the reason change files exist). Per-class counts/sums accumulate
    * in foreachBatch and replay from orders arithmetic; exactly-once
    * falls out of the version offsets in the checkpoint. */
  def txnStreamChanges(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{TxnTable => T}
    val root = graft.Fs.scratch("graft_txn_cdfstream")
    val ckpt = graft.Fs.scratch("graft_txn_cdfstream_ckpt")
    graft.Fs.deleteRecursively(ckpt)
    val base = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val mx = base.agg(max("k")).head().getLong(0) // 1-row probe (qaq)
    T.create(spark, root, base, "k", 16) // v0
    T.append(spark, root,
      base.where(col("k") % 101 === 0)
        .select((-col("k") - 1).as("k"), (col("cents") + 3).as("cents")),
      "cdf_ins") // v1
    T.deleteRange(spark, root, mx / 5, mx / 5 + mx / 16) // v2
    val acc = new java.util.concurrent.atomic.AtomicReference(
      Map.empty[(Int, String), (Long, Long)]) // (run, type) -> (rows, sum)
    def run(idx: Int): Unit = {
      val consume: (DataFrame, Long) => Unit = (df, _) => {
        df.groupBy("_change_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("s"))
          .collect().foreach { r =>
            acc.updateAndGet { m =>
              val key = (idx, r.getString(0))
              val (n0, s0) = m.getOrElse(key, (0L, 0L))
              m.updated(key, (n0 + r.getLong(1), s0 + r.getLong(2)))
            }
          }
        ()
      }
      val q = graft.SessionConf.withShufflePartitions(spark, 8) {
        spark.readStream.format("graft.sources.TxnCdfSource")
          .option("root", root).load()
          .writeStream.foreachBatch(consume)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      try q.awaitTermination() finally q.stop()
    }
    run(0)
    T.optimize(spark, root, 16) // v3: every file rewritten, ZERO changes
    T.mergeRange(spark, root,
      base.where(col("k") <= mx / 50 && col("k") % 3 === 0)
        .select(col("k"), (col("cents") + 1000L).as("cents"))) // v4
    run(1)
    val m = acc.get()
    def cell(run: Int, t: String): (Long, Long) = m.getOrElse((run, t), (0L, 0L))
    val run1OnlyMerge = !m.keys.exists { case (r, t) =>
      r == 1 && t != "update_preimage" && t != "update_postimage" }
    spark.range(1).select(
      lit(cell(0, "insert")._1).as("r0_insert_rows"),
      lit(cell(0, "insert")._2).as("r0_insert_sum"),
      lit(cell(0, "delete")._1).as("r0_delete_rows"),
      lit(cell(0, "delete")._2).as("r0_delete_sum"),
      lit(cell(1, "update_preimage")._1).as("r1_pre_rows"),
      lit(cell(1, "update_preimage")._2).as("r1_pre_sum"),
      lit(cell(1, "update_postimage")._1).as("r1_post_rows"),
      lit(cell(1, "update_postimage")._2).as("r1_post_sum"),
      lit(run1OnlyMerge).as("across_rewrite"))
  }

  /** Orders arithmetic per class and run; the optimize contributing
    * zero rows is the contract constant `across_rewrite`. */
  val txnStreamChangesOracle: String = """
    WITH b AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    m AS (SELECT max(k) AS mx FROM b),
    ins AS (SELECT CAST(count(1) AS BIGINT) AS n,
                   CAST(coalesce(sum(cents + 3), 0) AS BIGINT) AS s
            FROM b WHERE k % 101 = 0),
    tot AS (SELECT CAST(count(1) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS s FROM b),
    del AS (SELECT CAST(count(1) AS BIGINT) AS n,
                   CAST(coalesce(sum(cents), 0) AS BIGINT) AS s
            FROM b, m
            WHERE k BETWEEN m.mx // 5 AND m.mx // 5 + m.mx // 16),
    mrg AS (SELECT CAST(count(1) AS BIGINT) AS n,
                   CAST(coalesce(sum(cents), 0) AS BIGINT) AS s
            FROM b, m WHERE k <= m.mx // 50 AND k % 3 = 0)
    SELECT tot.n + ins.n AS r0_insert_rows, tot.s + ins.s AS r0_insert_sum,
           del.n AS r0_delete_rows, del.s AS r0_delete_sum,
           mrg.n AS r1_pre_rows, mrg.s AS r1_pre_sum,
           mrg.n AS r1_post_rows, mrg.s + 1000 * mrg.n AS r1_post_sum,
           true AS across_rewrite
    FROM tot, ins, del, mrg"""
}
