package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.TxnTable.{FileEntry, Manifest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** What every txn commit op carries into its successor manifest from
  * the head it read: each op runs on a fresh copy of one table that
  * holds every carried fact at once (a CHECK, typed stats columns, a
  * rename, a drop tombstone, a ledger entry, an identity column and its
  * watermark), and the successor must differ from that head in exactly
  * the fields the op changes. */
class ManifestParitySpec extends SparkSpec {

  /** The fields a successor carries from the head unless its op
    * changes them. */
  private def facts(m: Manifest): Map[String, Any] = Map(
    "keyCol" -> m.keyCol, "schemaDdl" -> m.schemaDdl, "shards" -> m.shards,
    "layoutDiv" -> m.layoutDiv, "keyCol2" -> m.keyCol2,
    "checkExpr" -> m.checkExpr, "statsCols" -> m.statsCols,
    "statsTypes" -> m.statsTypes, "txns" -> m.txns, "renames" -> m.renames,
    "dropped" -> m.dropped, "nextId" -> m.nextId,
    "identityCol" -> m.identityCol, "identityStart" -> m.identityStart)

  /** Rows under the fixture's logical names (`v` renamed to `w`, `x`
    * dropped); `withId` adds explicit identity values. */
  private def rows(lo: Long, hi: Long, withId: Boolean = true): DataFrame = {
    val cols = Seq(col("id").as("k"), (col("id") % 50).as("t"),
      concat(lit("s"), col("id").cast("string")).as("s"),
      (col("id") % 7).as("c"), (col("id") * 2).as("w"),
      (col("id") % 100).cast("int").as("n"))
    spark.range(lo, hi).select(
      (if (withId) cols :+ (col("id") + 100000L).as("id") else cols): _*)
  }

  private lazy val fixture: String = {
    val r = graft.Fs.scratch("graft_parity_base")
    TxnTable.createEmpty(spark, r,
      "k BIGINT, id BIGINT, t BIGINT, s STRING, c BIGINT, v BIGINT, " +
        "x BIGINT, n INT", "k", 4, 1000L,
      statsCols = Seq("t", "s"), statsTypes = Seq("long", "string"),
      identityCol = "id", identityStart = 100L)
    TxnTable.appendWithIdentity(spark, r,
      rows(0, 200, withId = false).withColumnRenamed("w", "v")
        .withColumn("x", lit(1L)), "id", "seed")
    TxnTable.appendTxn(spark, r, rows(200, 300).withColumnRenamed("w", "v")
      .withColumn("x", lit(1L)), "app", 1L)
    TxnTable.setCheck(spark, r, "c >= 0")
    TxnTable.renameColumn(spark, r, "v", "w")
    TxnTable.dropColumn(spark, r, "x")
    r
  }

  private def copyOf(name: String): String = {
    val (src, dst) = (Paths.get(fixture),
      Paths.get(graft.Fs.scratch(s"graft_parity_$name")))
    graft.Fs.deleteRecursively(dst.toString)
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    dst.toString
  }

  private def head(r: String): Manifest =
    TxnTable.readManifestRaw(r, TxnTable.latestVersion(r))

  /** Runs `op` on `r`; returns the head it read (resolved) and the
    * successor (raw, as committed). */
  private def step(r: String)(op: => Any): (Manifest, Manifest) = {
    val base = TxnTable.readManifest(r, TxnTable.latestVersion(r))
    op
    val next = head(r)
    assert(next.version == base.version + 1, s"${next.op} minted no version")
    (base, next)
  }

  /** `next` carries every fact of `base` but those named in `changed`. */
  private def carries(base: Manifest, next: Manifest, changed: String*): Unit = {
    val keep = facts(base).keySet -- changed
    assert(facts(next).view.filterKeys(keep).toMap ==
      facts(base).view.filterKeys(keep).toMap, next.op)
  }

  /** The delta/full choice of an adds commit at `base`. */
  private def addsDeltaOf(base: Manifest): Int =
    if ((base.version + 1) % 4 == 0) -1 else base.version

  private def fields(m: Manifest): Seq[String] =
    StructType.fromDDL(m.schemaDdl).fieldNames.toSeq

  private def cdf(m: Manifest): (Int, String, String, Long) =
    (m.deltaOf, m.cdfKind, m.cdfPath, m.cdfRows)

  test("the fixture carries every fact a successor must keep") {
    val m = head(copyOf("fixture"))
    assert(m.checkExpr == "c >= 0" && m.statsTypes == Seq("long", "string"))
    assert(m.renames == Seq("v" -> "w") && m.dropped == Seq("x"))
    assert(m.txns == Seq("app" -> 1L) && m.nextId == 200L)
    assert(m.identityCol == "id" && m.identityStart == 100L)
  }

  test("metadata-only DDL commits change only their own fact") {
    val r1 = copyOf("set_check")
    val (b1, n1) = step(r1)(TxnTable.setCheck(spark, r1, "c < 100"))
    carries(b1, n1, "checkExpr")
    assert(n1.op == "set_check" && n1.checkExpr == "c < 100")
    assert(cdf(n1) == ((-1, "none", "", 0L)) && n1.files == b1.files)

    val r2 = copyOf("add_column")
    val (b2, n2) = step(r2)(TxnTable.addColumn(spark, r2, "z", "STRING"))
    carries(b2, n2, "schemaDdl")
    assert(n2.op == "add_column_z" && fields(n2) == fields(b2) :+ "z")
    assert(cdf(n2) == ((-1, "none", "", 0L)) && n2.files == b2.files)

    val r3 = copyOf("widen")
    val (b3, n3) = step(r3)(TxnTable.widenColumnType(spark, r3, "n", "BIGINT"))
    carries(b3, n3, "schemaDdl")
    assert(n3.op == "widen_n_bigint" && fields(n3) == fields(b3))
    assert(StructType.fromDDL(n3.schemaDdl)("n").dataType.sql == "BIGINT")
    assert(cdf(n3) == ((-1, "none", "", 0L)) && n3.files == b3.files)

    val r4 = copyOf("rename")
    val (b4, n4) = step(r4)(TxnTable.renameColumn(spark, r4, "w", "u"))
    carries(b4, n4, "renames")
    assert(n4.op == "rename_w_to_u" && n4.renames == Seq("v" -> "u"))
    assert(cdf(n4) == ((-1, "none", "", 0L)) && n4.files == b4.files)

    val r5 = copyOf("drop")
    val (b5, n5) = step(r5)(TxnTable.dropColumn(spark, r5, "n"))
    carries(b5, n5, "schemaDdl", "dropped")
    assert(n5.op == "drop_column_n" && fields(n5) == fields(b5).filter(_ != "n"))
    assert(n5.dropped == Seq("n", "x"))
    assert(cdf(n5) == ((-1, "none", "", 0L)) && n5.files == b5.files)
  }

  test("restore takes the target's facts, the head's ledger and watermark") {
    val r = copyOf("restore")
    TxnTable.appendWithIdentity(spark, r, rows(300, 310, withId = false),
      "id", "more_ids")
    val target = TxnTable.readManifest(r, 2)
    val (b, n) = step(r)(TxnTable.restore(spark, r, 2))
    assert(n.op == "restore_v2" && cdf(n) == ((-1, "", "", 0L)))
    assert(facts(n) == facts(target) ++ Map("txns" -> b.txns,
      "nextId" -> math.max(target.nextId, b.nextId)))
    assert(n.nextId == 210L && n.files == target.files)
  }

  test("adds commits carry every fact and choose delta or full by version") {
    val r1 = copyOf("commit_adds")
    val fake = FileEntry("data/external/part-0.parquet", 1L, 5L, 5L)
    val (b1, n1) = step(r1)(TxnTable.commitAdds(r1, Seq(fake), "sink_batch",
      txn = Some("sink" -> 9L)))
    carries(b1, n1, "txns")
    assert(n1.op == "sink_batch" && n1.txns == Seq("app" -> 1L, "sink" -> 9L))
    assert(cdf(n1) == ((addsDeltaOf(b1), "adds", "", 0L)))

    val r2 = copyOf("append")
    (0 until 3).foreach { i =>
      val (b, n) = step(r2)(TxnTable.append(spark, r2,
        rows(1000 + i * 10, 1010 + i * 10), s"ingest_$i"))
      carries(b, n)
      assert(n.op == s"ingest_$i" && cdf(n) == ((addsDeltaOf(b), "adds", "", 0L)))
    }
    assert(TxnTable.readManifestRaw(r2, 8).deltaOf == -1, "v8 is a checkpoint")
    val (bt, nt) = step(r2)(TxnTable.appendTxn(spark, r2, rows(2000, 2010),
      "app", 2L))
    carries(bt, nt, "txns")
    assert(nt.txns == Seq("app" -> 2L))

    val r3 = copyOf("append_ids")
    val (b3, n3) = step(r3)(TxnTable.appendWithIdentity(spark, r3,
      rows(300, 325, withId = false), "id", "ids"))
    carries(b3, n3, "nextId")
    assert(n3.op == "ids" && n3.nextId == b3.nextId + 25)
    assert(cdf(n3) == ((addsDeltaOf(b3), "adds", "", 0L)))
  }

  test("full rewrites write logical names and keep the table's other facts") {
    def rewritten(b: Manifest, n: Manifest, r: String, changed: String*): Unit = {
      carries(b, n, Seq("schemaDdl", "renames", "dropped") ++ changed: _*)
      assert(n.schemaDdl ==
        TxnTable.readVersion(spark, r, b.version).schema.toDDL)
      assert(n.renames.isEmpty && n.dropped.isEmpty && n.deltaOf == -1)
    }
    val r1 = copyOf("transact")
    val (b1, n1) = step(r1)(TxnTable.transact(spark, r1, "bump",
      _.withColumn("c", col("c") + 1L)))
    rewritten(b1, n1, r1)
    assert(n1.op == "bump" && cdf(n1) == ((-1, "", "", 0L)))

    val r2 = copyOf("optimize")
    val (b2, n2) = step(r2)(TxnTable.optimize(spark, r2, 2))
    rewritten(b2, n2, r2, "shards")
    assert(n2.op == "optimize" && n2.shards == 2)
    assert(cdf(n2) == ((-1, "none", "", 0L)))

    val r3 = copyOf("reshard")
    val (b3, n3) = step(r3)(TxnTable.reshard(spark, r3, 3, 500L))
    rewritten(b3, n3, r3, "shards", "layoutDiv")
    assert(n3.op == "reshard" && n3.shards == 3 && n3.layoutDiv == 500L)
    assert(cdf(n3) == ((-1, "none", "", 0L)))

    val r4 = copyOf("zorder")
    val (b4, n4) = step(r4)(TxnTable.optimizeZorder(spark, r4, "t", 4, 2))
    rewritten(b4, n4, r4, "shards", "keyCol2")
    assert(n4.op == "optimize_zorder" && n4.shards == 2 && n4.keyCol2 == "t")
    assert(cdf(n4) == ((-1, "none", "", 0L)))
  }

  test("surgical rewrites carry every fact, the column mapping included") {
    def fullCdf(n: Manifest, kind: String): Unit = {
      assert(n.deltaOf == -1 && n.cdfKind == kind)
      if (kind == "files") assert(n.cdfPath.endsWith("/_cdf") && n.cdfRows > 0)
      else assert(n.cdfPath == "" && n.cdfRows == 0L)
    }
    val r1 = copyOf("delete_range")
    val (b1, n1) = step(r1)(TxnTable.deleteRange(spark, r1, 10L, 20L))
    carries(b1, n1)
    assert(n1.op == "delete_range" && n1.cdfRows == 11L)
    fullCdf(n1, "files")

    val r2 = copyOf("compact")
    val (b2, n2) = step(r2)(TxnTable.compactSmall(spark, r2, 10000L))
    carries(b2, n2)
    assert(n2.op == "compact_small")
    fullCdf(n2, "none")

    val r3 = copyOf("merge_range")
    val (b3, n3) = step(r3)(TxnTable.mergeRange(spark, r3,
      rows(290, 320).withColumn("c", lit(6L))))
    carries(b3, n3)
    assert(n3.op == "merge_range" && n3.cdfRows == 40L)
    fullCdf(n3, "files")

    val r4 = copyOf("mor")
    val (b4, n4) = step(r4)(TxnTable.deleteMor(spark, r4, "k < 5"))
    carries(b4, n4)
    assert(n4.op == "delete_mor" && n4.cdfRows == 5L)
    assert(n4.files.map(_.dvRows).sum == 5L)
    fullCdf(n4, "files")
    val (b5, n5) = step(r4)(TxnTable.updateMor(spark, r4, "k < 10",
      Seq("c" -> "c + 1")))
    carries(b5, n5)
    assert(n5.op == "update_mor" && n5.cdfRows == 10L)
    fullCdf(n5, "files")
    val (b6, n6) = step(r4)(TxnTable.purgeDeletes(spark, r4))
    carries(b6, n6)
    assert(n6.op == "purge_deletes" && n6.files.forall(_.dvRows == 0))
    fullCdf(n6, "none")
  }
}
