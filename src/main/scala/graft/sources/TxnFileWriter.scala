package graft.sources

import graft.sources.TxnTable.{BloomBits, BloomSeeds, FileEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, UnsafeProjection, XXH64}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.functions.{coalesce, expr, lit}
import org.apache.spark.sql.types.StructType

/** The ONE writer behind every txn file: data files (the batch
  * snapshot write [[TxnTable.writeSnapshot]], the SQL row-level replace
  * [[TxnRowLevel]], the streaming sink [[TxnStreamSink]]), change-data-
  * feed change files and deletion-vector sidecars.
  *
  * A task writes parquet through Spark's own InternalRow write support
  * and folds each file's manifest stats from the rows AS WRITTEN (the
  * row folded is the very object handed to the parquet writer): rows,
  * key and key2 min/max, and per stats lane min/max, non-null count,
  * exact sum and bloom bits, plus the CHECK violation count. The stats
  * lanes ([[TxnTable.statSourceExpr]], the one definition of a lane) and
  * the CHECK predicate are bound ONCE on the driver against the write
  * schema ([[plan]]) and evaluated per row by one projection. Each file
  * ships to the driver as a [[FileStats]], and [[fileEntries]] turns a
  * write's messages into manifest [[FileEntry]]s, rejecting the write
  * when any row violated the CHECK (standard SQL: FALSE violates, NULL
  * passes). Change files and sidecars use a [[bare]] plan: no key, no
  * lanes, only the row count. Batch writes go through [[write]]; the
  * DSv2 writers drive a [[Writer]] per task themselves. */
private[sources] object TxnFileWriter {

  /** One written file's stats — the task→driver commit message of
    * every txn data write. `rel` is the file's path under the attempt
    * dir; `n` = 0 marks a task that wrote no file. `vsum` rides as an
    * exact BigInteger so the driver applies the Long-overflow
    * sentinel. */
  final case class FileStats(rel: String, n: Long,
      hasK: Boolean, mnK: Long, mxK: Long,
      hasK2: Boolean, mnK2: Long, mxK2: Long, bytes: Long, chkBad: Long,
      vmn: Array[Long], vmx: Array[Long], vcnt: Array[Long],
      vsum: Array[java.math.BigInteger], bloom: Array[Array[Byte]])
      extends WriterCommitMessage

  /** What every file of one write folds: the write schema, the key
    * ordinals (-1 = no such column), and `nV` stats lanes (then the
    * CHECK violation flag, when the table has a CHECK) as expressions
    * bound to the schema's ordinals. */
  final case class WritePlan(schemaDdl: String, keyOrd: Int, key2Ord: Int,
      nV: Int, lanes: Seq[Expression])

  /** Bind a write's stats lanes and CHECK predicate on the driver:
    * analyzed over a relation of the write schema through the session
    * (functions, casts and time zones resolve exactly as in a query),
    * then bound to ordinals so the executor needs no analyzer. A table
    * without stats lanes or CHECK binds nothing and its writer folds
    * only rows and key ranges. */
  def plan(spark: SparkSession, schema: StructType, keyCol: String,
      keyCol2: String, checkExpr: String, statsCols: Seq[String],
      statsTypes: Seq[String]): WritePlan = {
    TxnTable.requireBigintKeys(schema, keyCol, keyCol2)
    val cols = statsCols.zipWithIndex.map { case (c, i) =>
      TxnTable.statSourceExpr(c,
        if (statsTypes.length > i) statsTypes(i) else "long")
    } ++ (if (checkExpr.isEmpty) Nil
          else Seq(!coalesce(expr(checkExpr), lit(true))))
    val lanes =
      if (cols.isEmpty) Nil
      else {
        val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val rel = LocalRelation(DataTypeUtils.toAttributes(schema))
        val qe = spark.sessionState.executePlan(Project(
          cols.zipWithIndex.map { case (c, i) =>
            Alias(classic.expression(c), s"__lane$i")() }, rel))
        qe.assertAnalyzed()
        // runtime-replaceable functions (encode, ...) evaluate through
        // their replacement, which the optimizer would otherwise swap in
        ReplaceExpressions(qe.analyzed) match {
          case Project(list, child) =>
            BindReferences.bindReferences(list, child.output)
          case other => throw new IllegalArgumentException(
            s"stats lanes / CHECK ($checkExpr) must be row-level " +
              s"expressions, got plan ${other.nodeName}")
        }
      }
    WritePlan(schema.toDDL, schema.fieldIndex(keyCol),
      if (keyCol2.isEmpty) -1 else schema.fieldIndex(keyCol2),
      statsCols.length, lanes)
  }

  /** A plan that folds only rows: change files and sidecars, whose
    * manifest reference needs no key range or lanes. */
  def bare(schema: StructType): WritePlan =
    WritePlan(schema.toDDL, -1, -1, 0, Nil)

  /** A unique part-file name for the task writing partition `pid`. */
  def partName(pid: Int): String =
    f"part-$pid%05d-${java.util.UUID.randomUUID().toString.take(8)}.parquet"

  /** The executor side: writes one parquet file at a time under
    * `outDir` (a task may roll through several — the batch write opens
    * one per shard run) and folds its stats. Built once per task: the
    * Hadoop conf and the lane projection are per-task state. */
  final class Writer(plan: WritePlan, outDir: String) {
    val schema: StructType = StructType.fromDDL(plan.schemaDdl)
    private val conf = {
      // clone of a once-loaded defaults template: a bare
      // `new Configuration()` re-parses the XML defaults per TASK
      val c = ConfCache.defaultsCopy()
      ParquetWriteSupport.setSchema(schema, c)
      // the write-support/schema-converter read these from the RAW
      // hadoop conf (ParquetFileFormat.prepareWrite normally seeds
      // them); seed the session defaults by ConfigEntry so a key
      // rename breaks the build, not the executor
      val sqlc = org.apache.spark.sql.internal.SQLConf
      Seq(sqlc.PARQUET_WRITE_LEGACY_FORMAT,
        sqlc.PARQUET_OUTPUT_TIMESTAMP_TYPE,
        sqlc.PARQUET_FIELD_ID_WRITE_ENABLED,
        sqlc.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
        sqlc.PARQUET_REBASE_MODE_IN_WRITE,
        sqlc.PARQUET_INT96_REBASE_MODE_IN_WRITE)
        .foreach(e => c.set(e.key, e.defaultValueString))
      c
    }
    private val nV = plan.nV
    private val chkOrd = if (plan.lanes.length > nV) nV else -1
    private val lanes: UnsafeProjection =
      if (plan.lanes.isEmpty) null
      else {
        val p = UnsafeProjection.create(plan.lanes)
        p.initialize(org.apache.spark.TaskContext.getPartitionId())
        p
      }
    private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
    private var path: org.apache.hadoop.fs.Path = _
    private var rel = ""
    private var n = 0L; private var chkBad = 0L
    private var hasK = false; private var mnK = 0L; private var mxK = 0L
    private var hasK2 = false; private var mnK2 = 0L; private var mxK2 = 0L
    private var vmn: Array[Long] = _; private var vmx: Array[Long] = _
    private var vcnt: Array[Long] = _
    private var vsum: Array[java.math.BigInteger] = _
    private var bloom: Array[java.util.BitSet] = _

    def isOpen: Boolean = writer != null

    def open(relPath: String): Unit = {
      rel = relPath
      path = new org.apache.hadoop.fs.Path(s"$outDir/$relPath")
      writer = new TxnParquetBuilder(path, conf).build()
      n = 0L; chkBad = 0L; hasK = false; hasK2 = false
      vmn = Array.fill(nV)(Long.MaxValue); vmx = Array.fill(nV)(Long.MinValue)
      vcnt = Array.fill(nV)(0L)
      vsum = Array.fill(nV)(java.math.BigInteger.ZERO)
      bloom = Array.fill(nV)(new java.util.BitSet(BloomBits))
    }

    def write(row: InternalRow): Unit = {
      if (plan.keyOrd >= 0 && !row.isNullAt(plan.keyOrd)) {
        val k = row.getLong(plan.keyOrd)
        if (!hasK) { hasK = true; mnK = k; mxK = k }
        else { if (k < mnK) mnK = k; if (k > mxK) mxK = k }
      }
      if (plan.key2Ord >= 0 && !row.isNullAt(plan.key2Ord)) {
        val k2 = row.getLong(plan.key2Ord)
        if (!hasK2) { hasK2 = true; mnK2 = k2; mxK2 = k2 }
        else { if (k2 < mnK2) mnK2 = k2; if (k2 > mxK2) mxK2 = k2 }
      }
      if (lanes != null) {
        val l = lanes(row)
        var i = 0
        while (i < nV) {
          if (!l.isNullAt(i)) {
            val v = l.getLong(i)
            if (v < vmn(i)) vmn(i) = v
            if (v > vmx(i)) vmx(i) = v
            vcnt(i) += 1
            vsum(i) = vsum(i).add(java.math.BigInteger.valueOf(v))
            // the prober's twin: pmod(xxhash64(v, seed), bits) —
            // XxHash64 folds children left-to-right from seed 42
            var sd = 0
            while (sd < BloomSeeds) {
              val h = XXH64.hashLong(sd.toLong, XXH64.hashLong(v, 42L))
              bloom(i).set(((h % BloomBits + BloomBits) % BloomBits).toInt)
              sd += 1
            }
          }
          i += 1
        }
        if (chkOrd >= 0 && l.getBoolean(chkOrd)) chkBad += 1
      }
      writer.write(row)
      n += 1
    }

    /** Close the open file and return its stats. */
    def close(): FileStats = {
      writer.close()
      writer = null
      FileStats(rel, n, hasK, mnK, mxK, hasK2, mnK2, mxK2,
        path.getFileSystem(conf).getFileStatus(path).getLen, chkBad,
        vmn, vmx, vcnt, vsum, bloom.map(_.toByteArray))
    }

    /** Close and delete the open file, if any. */
    def abort(): Unit =
      if (writer != null) {
        writer.close()
        writer = null
        path.getFileSystem(conf).delete(path, false)
      }
  }

  /** The driver call of every batch txn file write: ONE job writes `df`
    * under `outDir` and returns each written file's stats. `df` holds
    * the plan's columns, then, when `runCol` is set, one trailing BIGINT
    * run column: a partition opens one file per run of equal values
    * under `runCol=N/` (Hive's default-partition name for a null) — the
    * dir name is the layout contract (`__shard=N` data, `__fid=N`
    * sidecars), so the caller partitions and sorts each run contiguous.
    * Without `runCol` each non-empty partition writes one file directly
    * under `outDir`. */
  def write(df: DataFrame, outDir: String, plan: WritePlan,
      runCol: String = ""): Seq[FileStats] = {
    // mapPartitionsUnclean: the closure calls a static method with only
    // serializable locals captured — the ClosureCleaner ASM scan it
    // skips was a measurable per-commit driver cost (stack samples)
    org.apache.spark.graftbridge.RddBridge
      .mapPartitionsUnclean(df.queryExecution.toRdd) { it =>
        writeRuns(it, outDir, plan, runCol)
      }.collect().toSeq
  }

  /** The executor side of [[write]]: consume one partition. */
  private def writeRuns(it: Iterator[InternalRow], outDir: String,
      plan: WritePlan, runCol: String): Iterator[FileStats] = {
    val w = new Writer(plan, outDir)
    val pid = org.apache.spark.TaskContext.getPartitionId()
    val recs = scala.collection.mutable.ArrayBuffer[FileStats]()
    if (runCol.isEmpty) {
      while (it.hasNext) {
        if (!w.isOpen) w.open(partName(pid))
        w.write(it.next())
      }
    } else {
      val runOrd = w.schema.length
      val project = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        w.schema, 0 until runOrd)
      var cur = 0L; var curNull = false
      while (it.hasNext) {
        val row = it.next()
        val rNull = row.isNullAt(runOrd)
        val r = if (rNull) 0L else row.getLong(runOrd)
        if (!w.isOpen || rNull != curNull || r != cur) {
          if (w.isOpen) recs += w.close()
          curNull = rNull; cur = r
          val dir = s"$runCol=" + (if (rNull) "__HIVE_DEFAULT_PARTITION__" else r)
          w.open(s"$dir/${partName(pid)}")
        }
        project.project(row)
        w.write(project)
      }
    }
    if (w.isOpen) recs += w.close()
    recs.iterator
  }

  /** The message of a task that wrote no file. */
  val NoFile: FileStats = FileStats("", 0L, false, 0L, 0L, false, 0L, 0L,
    0L, 0L, Array.empty, Array.empty, Array.empty, Array.empty, Array.empty)

  /** The driver side of every txn data write: the tasks' messages as
    * manifest entries under the attempt dir `sub`, sorted by path. Any
    * CHECK violation deletes the attempt dir and rejects the write
    * before a manifest can reference it. All-null lanes keep the
    * full-range sentinels ("prunes nothing"); a per-file sum outside
    * the Long range stores the (-1, 0) "unknown" sentinel. */
  def fileEntries(root: String, sub: String, checkExpr: String,
      recs: Seq[FileStats]): Seq[FileEntry] = {
    val bad = recs.map(_.chkBad).sum
    if (bad != 0) {
      graft.Fs.deleteRecursively(s"$root/$sub")
      throw new IllegalArgumentException(
        s"requirement failed: CHECK constraint ($checkExpr) violated by " +
          s"$bad row(s); commit rejected, attempt cleaned")
    }
    val longMax = java.math.BigInteger.valueOf(Long.MaxValue)
    recs.filter(_.n > 0).map { r =>
      val (mn, mx) = if (r.hasK) (r.mnK, r.mxK) else (0L, 0L)
      val (mn2, mx2) =
        if (r.hasK2) (r.mnK2, r.mxK2) else (Long.MinValue, Long.MaxValue)
      val nV = r.vcnt.length
      val vmins = (0 until nV).map(i =>
        if (r.vcnt(i) == 0) Long.MinValue else r.vmn(i))
      val vmaxs = (0 until nV).map(i =>
        if (r.vcnt(i) == 0) Long.MaxValue else r.vmx(i))
      val (vcnts, vsums) = (0 until nV).map { i =>
        if (r.vsum(i).abs.compareTo(longMax) > 0) (-1L, 0L)
        else (r.vcnt(i), r.vsum(i).longValueExact)
      }.unzip
      val blooms = r.bloom.toSeq.map(java.util.Base64.getEncoder.encodeToString)
      FileEntry(s"$sub/${r.rel}", r.n, mn, mx, mn2, mx2, r.bytes,
        vmins, vmaxs, bloom = blooms, vcnt = vcnts, vsum = vsums)
    }.sortBy(_.path)
  }

  /** parquet-hadoop builder over Spark's own InternalRow write support. */
  private class TxnParquetBuilder(path: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        InternalRow, TxnParquetBuilder](path) {
    withConf(conf)
    withCompressionCodec(
      org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
    override def self(): TxnParquetBuilder = this
    override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
