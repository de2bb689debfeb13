package perfbench

import scala.collection.mutable

import graft.sources.{GraftTxnCatalog, TxnTable}
import org.apache.spark.sql.SparkSession

/** One client in a closed loop of SQL statements against a `graft_txn`
  * table: INSERT, MERGE, UPDATE, DELETE, full GROUP BY scans, key-range
  * point reads and a compaction closing every cycle. The statement stream and the
  * answer of every read come from the generator's key -> value model;
  * each read is checked as it runs. A pass is one cycle of the mix. */
final class LakehouseSql(spark: SparkSession, input: String, work: String,
    facts: Map[String, String], checks: Checks, t: Tracer) extends Workload {

  private val ops: Array[Array[String]] =
    scala.io.Source.fromFile(s"$input/ops.tsv").getLines().map(_.split('\t')).toArray
  private val cycle = facts("cycle").toInt
  private val keyCap = facts("key_cap").toLong
  private var next = 0
  /** Per-kind statement latencies (ms) over the measured passes. */
  private val latencyMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var userRowsWritten = 0L
  private val table = "graft.lake"

  def setup(): Unit = {
    GraftTxnCatalog.register(spark)
    // keep the warehouse inside the run's work directory
    spark.conf.set("spark.sql.catalog.graft.warehouse", s"$work/lake-warehouse")
    spark.read.schema("k BIGINT, v BIGINT").csv(s"$input/seed_rows.csv")
      .createOrReplaceTempView("lake_seed")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"""CREATE TABLE $table (k BIGINT, v BIGINT) USING graft_txn
      TBLPROPERTIES ('key'='k', 'shards'='8', 'layout_div'='$keyCap')""")
    spark.sql(s"INSERT INTO $table SELECT k, v FROM lake_seed")
    // the stream's first cycle warms every statement kind, unmeasured
    pass()
    latencyMs.clear()
    userRowsWritten = 0L
  }

  /** One cycle of the stream: its reads and writes, then a compaction. */
  def pass(): Unit = {
    if (next + cycle > ops.length) throw new IllegalStateException(
      "statement stream exhausted; generate more cycles")
    ops.slice(next, next + cycle).foreach(run)
    next += cycle
  }

  private def values(kvs: String): (String, Int) = {
    val rows = kvs.split(',').map { p => val i = p.indexOf(':'); s"(${p.take(i)}, ${p.drop(i + 1)})" }
    (rows.mkString(", "), rows.length)
  }

  private def run(op: Array[String]): Unit = {
    val tbl = table
    val kind = op(0)
    val t0 = System.nanoTime()
    checks.op(s"sources.$kind") {
      t.span(s"sources.$kind") {
        kind match {
          case "insert" =>
            val (vs, n) = values(op(1))
            spark.sql(s"INSERT INTO $tbl VALUES $vs")
            userRowsWritten += n
          case "merge" =>
            val (vs, n) = values(op(1))
            spark.sql(s"""MERGE INTO $tbl t
              USING (SELECT * FROM VALUES $vs AS s(k, v)) s ON t.k = s.k
              WHEN MATCHED THEN UPDATE SET v = s.v
              WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
            userRowsWritten += n
          case "update" =>
            spark.sql(s"UPDATE $tbl SET v = v + ${op(3)} WHERE k BETWEEN ${op(1)} AND ${op(2)}")
          case "delete" =>
            spark.sql(s"DELETE FROM $tbl WHERE k BETWEEN ${op(1)} AND ${op(2)}")
          case "point" =>
            val r = spark.sql(s"SELECT count(*), coalesce(sum(v), 0) FROM $tbl" +
              s" WHERE k BETWEEN ${op(1)} AND ${op(2)}").head()
            checks.expect(r.getLong(0) == op(3).toLong && r.getLong(1) == op(4).toLong,
              s"point [${op(1)}, ${op(2)}]: (${r.getLong(0)}, ${r.getLong(1)}) vs model (${op(3)}, ${op(4)})")
          case "scan" =>
            val groups = spark.sql(s"SELECT k % 8 AS g, count(*) AS n, sum(v) AS s" +
              s" FROM $tbl GROUP BY k % 8").collect()
            val (n, s) = (groups.map(_.getLong(1)).sum, groups.map(_.getLong(2)).sum)
            checks.expect(n == op(1).toLong && s == op(2).toLong,
              s"scan: count/sum ($n, $s) vs model (${op(1)}, ${op(2)})")
          case "compact" =>
            spark.sql(s"CALL graft.system.compact('lake', 5000)").collect()
        }
      }
    }
    latencyMs.getOrElseUpdate(kind, mutable.ArrayBuffer[Double]()) +=
      (System.nanoTime() - t0) / 1e6
  }

  override def samples: Map[String, Seq[Double]] =
    latencyMs.map { case (k, v) => s"$k.latency_ms" -> v.toSeq }.toMap

  private def root = s"$work/lake-warehouse/lake"

  def layerCounters(): Map[String, Double] = {
    val files = TxnTable.readManifest(root, TxnTable.latestVersion(root)).files.size
    val written = t.spans.filter(_.name.startsWith("sources.")).map(_.counters("output_bytes")).sum
    // two BIGINT columns per user-written row
    Map("sources.files_live" -> files.toDouble,
      "sources.write_amp" -> (if (userRowsWritten > 0) written / (16.0 * userRowsWritten) else 0.0))
  }
}
