package graft

import graft.sources.TxnTable
import graft.sources.TxnTable.{FileEntry, Manifest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

/** The DECLARATIVE twin of the txn file writer's stats fold: a
  * read-back aggregate that groups the rows of the given files by file
  * and folds every per-file manifest stat in SQL — rows, key (and key2)
  * min/max, and each stats lane's min/max, non-null count, exact sum and
  * bloom bits. Every stat the manifest carries for those files must
  * match it exactly, whichever write produced them. */
object TxnStatsTwin {

  def assertMatches(spark: SparkSession, root: String, m: Manifest,
      files: Seq[FileEntry]): Unit = {
    assert(files.nonEmpty, "no files to check")
    val nV = m.statsCols.length
    val back = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
      .parquet(files.map(f => s"$root/${f.path}"): _*)
    val lanes = m.statsCols.zipWithIndex.map { case (c, i) =>
      TxnTable.statSourceExpr(c, m.statType(c)).as(s"__v$i") }
    val k2 = if (m.keyCol2.nonEmpty) col(m.keyCol2) else lit(null).cast("long")
    val bloomAggs = (0 until nV).flatMap { i =>
      (0 until 3).map { sd => // 3 seeds × 65536 bits (the writer's sizing)
        collect_set(when(col(s"__v$i").isNotNull,
          pmod(xxhash64(col(s"__v$i"), lit(sd.toLong)), lit(65536L))
            .cast("int"))).as(s"bl${i}_$sd") } }
    val vAggs = (0 until nV).flatMap { i =>
      Seq(min(col(s"__v$i")).as(s"vmn$i"), max(col(s"__v$i")).as(s"vmx$i"),
        count(col(s"__v$i")).as(s"vct$i"),
        sum(col(s"__v$i").cast("decimal(38,0)")).as(s"vsm$i")) }
    val twin = back
      .select(Seq(col(m.keyCol).as("k"), k2.as("k2"),
        col("_metadata.file_path").as("fp")) ++ lanes: _*)
      .groupBy("fp")
      .agg(count(lit(1)).as("n"),
        (Seq(min("k").as("mn"), max("k").as("mx"),
          min("k2").as("mn2"), max("k2").as("mx2")) ++ vAggs ++ bloomAggs): _*)
      .collect()
      .map(row => {
        val full = row.getString(0).stripPrefix("file:").stripPrefix("//")
        full.substring(full.indexOf("data/")) -> row
      }).toMap
    assert(twin.keySet == files.map(_.path).toSet, s"file sets differ: $twin")
    files.foreach { f =>
      val row = twin(f.path)
      def orElse(c: String, sentinel: Long): Long =
        if (row.isNullAt(row.fieldIndex(c))) sentinel else row.getAs[Long](c)
      assert(f.nRows == row.getAs[Long]("n") &&
        f.minK == row.getAs[Long]("mn") && f.maxK == row.getAs[Long]("mx"),
        s"row/key stats drift on ${f.path}: $f vs $row")
      assert(f.minK2 == orElse("mn2", Long.MinValue) &&
        f.maxK2 == orElse("mx2", Long.MaxValue),
        s"key2 stats drift on ${f.path}: $f vs $row")
      assert(f.vmin.length == nV && f.bloom.length == nV &&
        f.vcnt.length == nV && f.vsum.length == nV,
        s"lane count drift on ${f.path}: $f")
      (0 until nV).foreach { i =>
        // the read-back's own post-agg rule: a per-file sum outside the
        // Long range declines to the (-1, 0) "unknown" sentinel
        val sum =
          if (row.isNullAt(row.fieldIndex(s"vsm$i"))) BigDecimal(0)
          else BigDecimal(row.getAs[java.math.BigDecimal](s"vsm$i"))
        val (expCnt, expSum) =
          if (sum.abs > BigDecimal(Long.MaxValue)) (-1L, 0L)
          else (row.getAs[Long](s"vct$i"), sum.toLongExact)
        // an all-null lane keeps the full-range sentinels
        assert(f.vmin(i) == orElse(s"vmn$i", Long.MinValue) &&
          f.vmax(i) == orElse(s"vmx$i", Long.MaxValue) &&
          f.vcnt(i) == expCnt && f.vsum(i) == expSum,
          s"lane $i stats drift on ${f.path}: $f vs $row")
        val bits = new java.util.BitSet(65536)
        (0 until 3).foreach(sd =>
          row.getAs[scala.collection.Seq[Int]](s"bl${i}_$sd").foreach(bits.set))
        val b64 = java.util.Base64.getEncoder.encodeToString(bits.toByteArray)
        assert(f.bloom(i) == b64, s"bloom $i drift on ${f.path}")
      }
    }
  }
}
