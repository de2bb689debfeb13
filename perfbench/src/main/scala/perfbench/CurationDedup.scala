package perfbench

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Document curation over a seeded corpus with planted exact copies,
  * case/punctuation variants and one-token near duplicates: normalized
  * and exact dedup must count exactly the planted duplicates, MinHash
  * must find at least `RecallFloor` of the planted near pairs, and the
  * exact containment join must find all of them. */
final class CurationDedup(spark: SparkSession, input: String, work: String,
    facts: Map[String, String], checks: Checks, t: Tracer) extends Workload {
  import CurationDedup._

  private val dir = s"$work/docs"
  private lazy val nearPairs: Set[(Long, Long)] =
    scala.io.Source.fromFile(s"$input/near_pairs.tsv").getLines()
      .map { l => val a = l.split('\t'); (a(0).toLong, a(1).toLong) }.toSet
  private var recalls = Seq.empty[Double]

  private def docs: DataFrame = graft.Tables.documents(spark, dir)

  def setup(): Unit = {
    // the documents table as the operators expect it: one parquet file
    // per core, so every scan starts at session parallelism
    spark.read.option("sep", "\t").schema("doc_id BIGINT, lang STRING, text STRING")
      .csv(s"$input/documents.tsv")
      .repartition(Runtime.getRuntime.availableProcessors())
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // one unmeasured pass warms the four operators
    pass()
    recalls = Seq.empty
  }

  def pass(): Unit = try {
    checks.op("operators.normalized_dedup") {
      t.span("operators.normalized_dedup") {
        val rows = Dedup.normalizedDedupOf(docs).collect()
        val redundant = rows.map(_.getAs[Long]("n_redundant")).sum
        val chars = rows.map(_.getAs[Long]("norm_chars")).sum
        val want = facts("planted_exact_copies").toLong + facts("planted_case_variants").toLong
        checks.expect(redundant == want, s"normalized redundant $redundant, planted $want")
        checks.expect(chars == facts("norm_chars").toLong,
          s"normalized chars $chars, expected ${facts("norm_chars")}")
      }
    }
    checks.op("operators.exact_content") {
      t.span("operators.exact_content") {
        val r = Dedup.exactByContent(spark, dir).head()
        val total = r.getAs[Long]("n_total")
        val unique = r.getAs[Long]("n_unique")
        checks.expect(total == facts("docs").toLong, s"exact n_total $total")
        checks.expect(total - unique == facts("planted_exact_copies").toLong,
          s"exact redundant ${total - unique}, planted ${facts("planted_exact_copies")}")
        checks.expect(r.getAs[Long]("n_hash_collisions") == 0L, "hash collisions")
      }
    }
    checks.op("operators.minhash_pairs") {
      t.span("operators.minhash_pairs") {
        val spread = docs.repartition(spark.sparkContext.defaultParallelism)
        val found = Dedup.minhashNearDupPairsOf(spread).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = nearPairs.count(found).toDouble / nearPairs.size
        recalls :+= recall
        checks.expect(recall >= RecallFloor, f"MinHash recall $recall%.4f below $RecallFloor")
      }
    }
    checks.op("operators.containment") {
      t.span("operators.containment") {
        val found = Dedup.containmentPairsOf(docs).select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val missed = nearPairs.count(p => !found(p))
        checks.expect(missed == 0, s"containment missed $missed planted near pairs")
      }
    }
  } finally spark.catalog.clearCache()

  def layerCounters(): Map[String, Double] =
    Map("operators.minhash_recall" -> Stats.median(recalls))
}

object CurationDedup {
  /** Planted near pairs differ in one token of 40-70 (trigram Jaccard
    * ~0.9), which 4 bands x 4 rows pair with probability ~0.97. */
  val RecallFloor = 0.9
}
