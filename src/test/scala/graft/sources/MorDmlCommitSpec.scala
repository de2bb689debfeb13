package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The merge-on-read DML commit ([[TxnTable.deleteMor]] /
  * [[TxnTable.updateMor]]) against a Scala model of the table's rows,
  * and the change-file writer's zero-row case. */
class MorDmlCommitSpec extends SparkSpec {

  private def mkTable(name: String, keys: Seq[Long]) = {
    val r = graft.Fs.scratch(s"graft_morcommit_$name")
    graft.Fs.deleteRecursively(r)
    import spark.implicits._
    TxnTable.create(spark, r, keys.toDF("k")
      .select(col("k"), (col("k") * 3 % 101).as("v")), "k", 8)
    r
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  test("mixed delete/update sequence matches a model of the rows") {
    val r = mkTable("model", 0L until 1000L)
    var model = (0L until 1000L).map(k => k -> k * 3 % 101).toMap
    type Change = (Long, Long, String)
    def check(v: Int, delta: Seq[Change]): Unit = {
      assert(rows(TxnTable.readVersion(spark, r, v)) == model.toSeq.sorted,
        s"head rows at v$v")
      val feed = TxnTable.changeFeed(spark, r, v - 1, v)
        .select("k", "v", "_change_type").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq
      assert(feed.sorted == delta.sorted, s"change feed of v$v")
      val m = TxnTable.readManifest(r, v)
      assert(m.cdfRows == feed.length, s"cdfRows of v$v")
      val prevDv = TxnTable.readManifest(r, v - 1).files
        .map(f => f.path -> f.dv).toMap
      val touched = m.files.filter(f =>
        f.dv.nonEmpty && !prevDv.get(f.path).contains(f.dv))
      assert(touched.nonEmpty, s"v$v tagged no file")
      touched.foreach { f =>
        val parts = new java.io.File(TxnTable.resolvePath(r, f.dv)).listFiles()
          .map(_.getName).filter(_.endsWith(".parquet"))
        assert(parts.length == 1, s"${f.dv}: ${parts.mkString(",")}")
      }
    }
    def delete(pred: String, hit: ((Long, Long)) => Boolean): Unit = {
      val gone = model.filter(hit)
      val (v, _, n) = TxnTable.deleteMor(spark, r, pred)
      assert(n == gone.size)
      model --= gone.keys
      check(v, gone.toSeq.map { case (k, x) => (k, x, "delete") })
    }
    def update(pred: String, set: String, hit: ((Long, Long)) => Boolean,
        f: Long => Long): Unit = {
      val hits = model.filter(hit)
      val (v, _, n) = TxnTable.updateMor(spark, r, pred, Seq("v" -> set))
      assert(n == hits.size)
      model ++= hits.map { case (k, x) => k -> f(x) }
      check(v, hits.toSeq.flatMap { case (k, x) =>
        Seq((k, x, "update_preimage"), (k, f(x), "update_postimage")) })
    }
    // bounds that prune every file match nothing and mint no version
    assert(TxnTable.deleteMor(spark, r, "k > 5000") == ((0, 0, 0L)))
    // 1. a key band: tags shards 0 and 1 ([0,124], [125,249])
    delete("k BETWEEN 100 AND 149", kv => kv._1 >= 100 && kv._1 <= 149)
    // 2. rows of a file step 1 tagged: shard 1 gains a second vector
    update("k BETWEEN 150 AND 160", "v + 1000",
      kv => kv._1 >= 150 && kv._1 <= 160, _ + 1000)
    // 3. a non-key predicate (unpriceable: every file, adds included)
    delete("v % 7 = 3", _._2 % 7 == 3)
    // 4. a row that now lives in step 2's add file
    assert(model.contains(155L))
    update("k = 155", "v * 2", _._1 == 155L, _ * 2)
    assert(TxnTable.readManifest(r, 4).op == "update_mor")
  }

  test("a zero-row change file commits and reads back empty") {
    val r = mkTable("zero", (0L until 1000L by 2L))
    val head = TxnTable.readManifest(r, 0)
    assert(head.files.exists(f => f.minK <= 3 && f.maxK >= 3))
    val (v, rewritten, _) = TxnTable.deleteRange(spark, r, 3L, 3L)
    assert(v == 1 && rewritten > 0)
    val m = TxnTable.readManifest(r, 1)
    assert(m.cdfKind == "files" && m.cdfRows == 0L)
    assert(new java.io.File(TxnTable.resolvePath(r, m.cdfPath)).isDirectory)
    assert(TxnTable.changeFeed(spark, r, 0, 1).count() == 0L)
    assert(TxnTable.readVersion(spark, r, 1).count() == 500L)
    // one micro-batch of the streaming feed over exactly that version
    val outSchema = TxnTable.logicalSchema(m)
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", org.apache.spark.sql.types.LongType)
    val stream = new TxnCdfMicroBatchStream(spark, r, outSchema)
    val factory = stream.createReaderFactory()
    val n = stream.planInputPartitions(stream.deserializeOffset("0"),
      stream.deserializeOffset("1")).map { p =>
      val reader = factory.createReader(p)
      try { var c = 0L; while (reader.next()) c += 1; c }
      finally reader.close()
    }.sum
    assert(n == 0L)
  }
}
