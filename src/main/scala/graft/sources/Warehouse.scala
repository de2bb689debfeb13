package graft.sources

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Warehouse-layout sources/sinks: how this engine's tables live on
  * disk at scale, and the interchange formats a training-data pipeline
  * speaks (SURVEY §2.3 sources/sinks).
  *
  * The 100 TB layout contract: a table is a DIRECTORY of parquet,
  * hive-partitioned on its natural pruning key (typically a date or
  * category column). Readers that filter on the partition key never
  * open the pruned directories — `PartitionFilters` in the scan node,
  * asserted in SourcesSpec — and bucketed tables additionally join
  * without a shuffle (BucketingSpec). Everything here is plain
  * `DataFrameReader`/`Writer` so Catalyst's pruning, pushdown, and AQE
  * apply untouched.
  */
object Warehouse {

  /** Sink: hive-partitioned parquet. At scale, `partitionCols` is the
    * pruning key (e.g. ingest date); low-cardinality keys only —
    * every distinct value becomes a directory. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.partitionBy(partitionCols: _*).mode("overwrite").parquet(path)

  /** Source for a partitioned table. Filters on partition columns
    * become directory pruning, not data reads. */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** q28: the write path on the graded surface — a full warehouse round
    * trip. `orders` is written as a hive-partitioned parquet table
    * (partition key = order year, the natural pruning key), read back
    * with a partition-key filter, and aggregated. Partition PRUNING is
    * part of the graded row: the reader's physical scan must carry a
    * `PartitionFilters` entry on the key — the plan is inspected (a
    * string check on the planned scan, no execution) and the result is
    * emitted as `partition_pruned`, so a layout regression that silently
    * falls back to reading every directory fails the oracle hash, not
    * just a spec. The oracle replays the aggregate over the SOURCE
    * table: round-tripping through the partitioned layout must lose
    * nothing. */
  def ordersRoundTrip(spark: SparkSession, dir: String,
      path: String = graft.Fs.scratch("graft_warehouse_orders"), filterYear: Int = 1995): DataFrame = {
    writePartitioned(
      Tables.orders(spark, dir)
        .withColumn("o_year", year(col("o_orderdate"))),
      path, Seq("o_year"))
    val back = readPartitioned(spark, path).filter(col("o_year") === filterYear)
    val scan = back.queryExecution.executedPlan.collectLeaves().mkString("\n")
    val pruned = "PartitionFilters: \\[[^\\]]*o_year".r.findFirstIn(scan).isDefined
    back.groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("sum_price"))
      .withColumn("partition_pruned", lit(pruned))
      .orderBy("o_orderpriority")
  }

  /** q2r: DYNAMIC PARTITION OVERWRITE — the warehouse write mode that
    * makes partitioned tables incrementally maintainable: with
    * `partitionOverwriteMode=dynamic`, an overwrite replaces ONLY the
    * partitions present in the incoming frame and leaves every other
    * directory untouched (static mode — the default — would truncate
    * the whole table first, the classic foot-gun this query documents
    * by contrast). Here the full priority-partitioned orders copy is
    * laid down, then a corrected URGENT-only restatement (every cent
    * value +1) is overwritten INTO the same root inside a guarded conf
    * window; the read-back aggregate grades BOTH properties at once —
    * the URGENT partition carries exactly the restated sums, the four
    * other partitions carry their original ones (they survived the
    * second write). Exact integer cents; the oracle rebuilds the
    * expected post-state arithmetically from the source table. */
  def dynamicPartitionOverwrite(spark: SparkSession, dir: String,
      path: String = graft.Fs.scratch("graft_warehouse_dyn_overwrite")): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    o.write.partitionBy("o_orderpriority").mode("overwrite").parquet(path)
    graft.SessionConf.withConfs(spark,
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      o.where(col("o_orderpriority") === "1-URGENT")
        .withColumn("cents", col("cents") + 1L)
        .write.partitionBy("o_orderpriority").mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents_sum"))
      .withColumn("restated", col("o_orderpriority") === "1-URGENT")
      .orderBy("o_orderpriority")
  }

  val dynamicPartitionOverwriteOracle: String = """
    SELECT o_orderpriority,
           CAST(count(1) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             + CASE WHEN o_orderpriority = '1-URGENT'
                    THEN count(1) ELSE 0 END AS BIGINT) AS cents_sum,
           o_orderpriority = '1-URGENT' AS restated
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** q2s: CATALOG STATISTICS / CBO EVIDENCE — `ANALYZE TABLE` on the
    * graded surface: the orders copy is registered as a catalog table,
    * column+table statistics are computed, and the graded aggregate
    * carries two evidence booleans read from the optimized plan of the
    * very query being graded — `rowcount_known` (the optimizer sees a
    * rowCount at all, which only ANALYZE provides; without it Spark
    * falls back to sizeInBytes guessing) and `rowcount_exact` (the
    * optimizer's number equals the actual count — ANALYZE statistics
    * are exact, not sampled). This is the "let Catalyst optimize"
    * doctrine made checkable: CBO join reordering and
    * broadcast-vs-shuffle decisions at 100 TB are only as good as
    * these statistics, and a regression that silently loses them now
    * fails the oracle hash rather than just slowing plans down. */
  def cboStatistics(spark: SparkSession, dir: String): DataFrame =
    graft.SessionConf.withConfs(spark,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      // UUID-suffixed table (round-6 advice): a fixed global name made
      // concurrent sessions sharing one warehouse dir race on
      // DROP/saveAsTable and left the table + files behind after every
      // run. The ≤5-row graded result is materialized BEFORE the
      // finally-drop (the same bounded-probe budget the evidence
      // booleans already spend), so the returned frame no longer
      // references the catalog table at all.
      val tbl = "graft_cbo_orders_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      try {
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
          .write.saveAsTable(tbl)
        spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
        val t = spark.table(tbl)
        val stats = t.queryExecution.optimizedPlan.stats
        val actual = t.count()
        val full = t.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents_sum"))
          .orderBy("o_orderpriority")
          .withColumn("rowcount_known", lit(stats.rowCount.isDefined))
          .withColumn("rowcount_exact",
            lit(stats.rowCount.exists(_.toLong == actual)))
        val rows = full.collect() // one row per orderpriority, ≤ a dozen
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), full.schema)
      } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }

  val cboStatisticsOracle: String = """
    SELECT o_orderpriority,
           CAST(count(1) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS cents_sum,
           true AS rowcount_known,
           true AS rowcount_exact
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** q0f: DYNAMIC PARTITION PRUNING on the graded surface — the
    * runtime companion to q28's static pruning and q0a's bloom
    * reduction, and the single biggest scan-saver on a partitioned
    * 100 TB fact table: the fact side is a hive-partitioned orders
    * copy, the dim side is a year spine whose selective predicate is
    * NOT statically foldable into the fact scan (it filters a derived
    * aggregate), so the only way the scan avoids reading every
    * partition is the DPP subquery Spark plants in PartitionFilters at
    * planning time from the joined dim. The plan evidence
    * (`dynamicpruning` in the fact scan's partition filters) is folded
    * into every graded row, q0a-style; the oracle replays the join
    * relationally.
    *
    * Evidence integrity: the flag is read from the GRADED aggregate's
    * own query execution AFTER a bounded count() probe has run it, so
    * the inspected string is the FINAL adaptive plan of the very query
    * being graded — not a separately-planned sibling whose initial
    * plan AQE could later diverge from. */
  def dynamicPartitionPruning(spark: SparkSession, dir: String,
      path: String = graft.Fs.scratch("graft_warehouse_orders_dpp")): DataFrame = {
    writePartitioned(
      Tables.orders(spark, dir)
        .withColumn("o_year", year(col("o_orderdate"))),
      path, Seq("o_year"))
    val fact = readPartitioned(spark, path)
    val dim = Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).as("d_year")).distinct()
      .filter(col("d_year") % 3 === 0)
    val agg = fact.join(dim, fact("o_year") === dim("d_year"))
      .groupBy("o_year")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5)).as("total_cents"))
    agg.count() // bounded probe: finalizes the adaptive plan
    val dpp = agg.queryExecution.executedPlan.toString.contains("dynamicpruning")
    agg.withColumn("dpp_pruned", lit(dpp))
      .orderBy("o_year")
  }

  def dynamicPartitionPruningOracle: String = """
    WITH dim AS (
      SELECT DISTINCT year(o_orderdate) AS d_year FROM orders),
    sel AS (SELECT d_year FROM dim WHERE d_year % 3 = 0)
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(count(1) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS total_cents,
           true AS dpp_pruned
    FROM orders o JOIN sel ON year(o.o_orderdate) = sel.d_year
    GROUP BY 1 ORDER BY 1"""

  /** q29: the JSONL interchange path on the graded surface — documents
    * written as JSON-lines (the format LLM training-data pipelines trade
    * in), read back with the EXPLICIT schema, and aggregated including a
    * content checksum (sum of text lengths). The oracle aggregates the
    * source table: a round trip that mangles one character of one
    * document — an escaping bug, a truncation, a dropped row — shifts
    * the checksum and fails the hash. */
  def documentsJsonlRoundTrip(spark: SparkSession, dir: String,
      path: String = graft.Fs.scratch("graft_warehouse_docs_jsonl")): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
    writeJsonl(docs, path)
    readJsonl(spark, path, docs.schema)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"))
      .orderBy("lang")
  }

  /** q2o: CSV interchange roundtrip — the format every upstream vendor
    * feed and exported spreadsheet still arrives in. CSV dies at
    * quoting: the fixture's columns are delimiter-free, so the
    * roundtrip DERIVES a note column with embedded commas AND
    * double-quotes (`<name>, "seg=<segment>"`) — the write must quote
    * and escape it, the read must unquote it LOSSLESSLY, and the
    * explicit schema on the way back is q29's rule (inference
    * double-scans and drifts). The graded aggregate pins per-byte
    * content (the note's char count, arithmetically replayable by the
    * oracle) and exact cents (doubles survive the text hop via
    * shortest-repr round-tripping; cents quantize BEFORE the sum per
    * the q2i doctrine), so any quoting or parsing loss breaks the
    * hash against the parquet-sourced oracle. */
  def customersCsvRoundTrip(spark: SparkSession, dir: String,
      path: String = graft.Fs.scratch("graft_warehouse_cust_csv")): DataFrame = {
    val src = Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"),
      concat(col("c_name"), lit(", \"seg="), col("c_mktsegment"), lit("\""))
        .as("c_note"))
    src.write.mode("overwrite").option("header", "true").csv(path)
    readCsv(spark, path, src.schema, header = true)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_cust"),
        sum(round(col("c_acctbal") * 100).cast("long")).as("acctbal_cents"),
        sum(length(col("c_note")).cast("long")).as("note_chars"),
        countDistinct(col("c_nationkey")).as("n_nations"))
      .orderBy("c_mktsegment")
  }

  val customersCsvRoundTripOracle: String = """
    SELECT c_mktsegment,
           CAST(count(1) AS BIGINT) AS n_cust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents,
           CAST(sum(length(c_name) + 7 + length(c_mktsegment) + 1) AS BIGINT)
             AS note_chars,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Small-file COMPACTION — the maintenance pass every long-lived
    * 100 TB table needs: streaming sinks, incremental ingests and
    * over-parallel writers leave directories of kilobyte files whose
    * per-file open/footer/list costs dominate scans (and crush the
    * driver's file index at millions of files). Rewrite to
    * `ceil(rows / targetRecordsPerFile)` files via repartition — a full
    * shuffle, which is the honest cost of re-clustering; run it
    * per-partition-directory in production so only fresh partitions pay
    * it. Returns the compacted file count. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetRecordsPerFile: Long): Int = {
    val df = spark.read.parquet(inPath)
    val n = df.count()
    val nFiles = math.max(1L, (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    df.repartition(nFiles).write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** q2a: compaction on the graded surface. `orders` is deliberately
    * fragmented (64 shards — a streaming-sink-like layout), compacted to
    * ~15k records/file, and the compacted table is aggregated next to
    * the file-count arithmetic. Every output column is deterministic:
    * the before/after file counts are pure functions of the row count,
    * so the oracle replays them arithmetically, and the aggregate proves
    * the rewrite lost nothing. */
  def compactionRoundTrip(spark: SparkSession, dir: String,
      base: String = graft.Fs.scratch("graft_warehouse_compact")): DataFrame = {
    val fragmented = s"$base/fragmented"
    val compacted = s"$base/compacted"
    Tables.orders(spark, dir).repartition(64)
      .write.mode("overwrite").parquet(fragmented)
    val nAfter = compact(spark, fragmented, compacted, targetRecordsPerFile = 15000)
    // Hadoop-FS listing (not java.io.File): resolves the path's real
    // filesystem, so a non-local table URI errors instead of silently
    // counting 0 files and grading a false layout_ok
    val filesBefore = graft.Fs.listDataFiles(spark, fragmented).size
    val filesAfter = graft.Fs.listDataFiles(spark, compacted).size
    spark.read.parquet(compacted)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct("o_orderkey").as("n_keys"),
        round(sum("o_totalprice"), 2).as("sum_price"))
      .withColumn("files_before", lit(filesBefore).cast("long"))
      .withColumn("files_after", lit(filesAfter).cast("long"))
      .withColumn("layout_ok",
        lit(filesAfter == nAfter && filesAfter < filesBefore))
  }

  /** q2b: ORC round trip — the other columnar format a warehouse
    * speaks (Hive-ecosystem tables arrive as ORC; a migration engine
    * must read AND write it without loss). Same contract as the
    * parquet/JSONL round trips: write `lineitem` as ORC, read it back
    * with the EXPLICIT schema (never inference at scale), aggregate,
    * and let the oracle run the identical aggregate over the parquet
    * source — any type coercion or row loss in the format hop shifts
    * the hash. ORC inherits the same scan machinery (vectorized reader,
    * pushdown, pruning), so the plan shape matches the parquet path. */
  def lineitemOrcRoundTrip(spark: SparkSession, dir: String,
      path: String = graft.Fs.scratch("graft_warehouse_orc")): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"), col("l_linestatus"))
    li.write.mode("overwrite").orc(path)
    spark.read.schema(li.schema).orc(path)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Batch MERGE / upsert without a table format: `updates` rows win
    * wholesale on key match, base rows survive otherwise, unmatched
    * updates are inserts — the maintenance primitive behind CDC apply,
    * dimension refresh and GDPR rewrite jobs. One shuffle join on the
    * key (AQE broadcasts the update side when it is small, the common
    * CDC case); the row-wins rule is decided by update-key presence,
    * NOT per-column coalesce — a legitimately-NULL updated column must
    * not resurrect the base value. */
  def mergeUpsert(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val cols = base.columns.map { c =>
      when(col(s"u.$key").isNotNull, col(s"u.$c")).otherwise(col(s"b.$c")).as(c)
    }
    base.alias("b")
      .join(updates.alias("u"), col(s"b.$key") === col(s"u.$key"), "full_outer")
      .select(cols.toSeq: _*)
  }

  /** q2c: the merge on the graded surface. A deterministic CDC batch is
    * derived from `orders` itself — every key ≡ 0 (mod 7) gets a +10.00
    * price update (an additive bump: IEEE addition is identically
    * rounded in every engine, where a per-row `round(x*1.1, 2)` hits
    * half-cent boundaries that Spark and DuckDB round apart), and every key ≡ 0 (mod 101) also arrives as a fresh
    * insert under the (unoccupied) strictly-negative key −k−1 — keys
    * start at 0, so plain negation would collide 0 with itself — then
    * merged, written,
    * and read back. The aggregate separates surviving / updated /
    * inserted rows so a merge that drops, duplicates, or misroutes any
    * class fails the oracle hash; the oracle replays the merge
    * relationally (updates as CASE, inserts as UNION ALL). */
  def mergeRoundTrip(spark: SparkSession, dir: String,
      path: String = graft.Fs.scratch("graft_warehouse_merge")): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        col("o_totalprice"))
    val updated = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
    val inserted = base.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", -col("o_orderkey") - 1)
      .withColumn("o_totalprice", lit(42.0))
    val merged = mergeUpsert(base, updated.unionByName(inserted), "o_orderkey")
    merged.write.mode("overwrite").parquet(path)
    spark.read.schema(merged.schema).parquet(path)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_orderkey") < 0, 1L).otherwise(0L)).as("n_inserted"),
        sum(when(col("o_orderkey") > 0 && col("o_orderkey") % 7 === 0, 1L)
          .otherwise(0L)).as("n_updated"),
        round(sum("o_totalprice"), 2).as("sum_price"),
        countDistinct("o_orderkey").as("n_keys"))
  }

  /** q2e: SCHEMA EVOLUTION read — the other maintenance reality of a
    * long-lived table: an upstream producer adds a column, and the
    * table directory now mixes old-schema and new-schema files. The
    * reader must widen (`mergeSchema`) instead of failing or silently
    * dropping the column, with old rows surfacing NULL for the new
    * field. Written as two batch directories (the second carrying a new
    * `o_channel` column derived deterministically), read back merged,
    * and aggregated per channel with legacy rows bucketed explicitly —
    * the oracle replays the channel derivation arithmetically.
    * mergeSchema costs a footer read per file (not a data scan); at
    * 100 TB you pin the merged schema in a catalog instead, but the
    * widening semantics are the same. */
  def schemaEvolutionRoundTrip(spark: SparkSession, dir: String,
      base: String = graft.Fs.scratch("graft_warehouse_evolution")): DataFrame = {
    graft.Fs.deleteRecursively(base)
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    orders.filter(col("o_orderkey") % 2 === 0)
      .write.parquet(s"$base/batch=0")
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .withColumn("o_channel",
        when(col("o_orderkey") % 3 === 0, "web").otherwise("store"))
      .write.parquet(s"$base/batch=1")
    spark.read.option("mergeSchema", "true").parquet(base)
      .groupBy(coalesce(col("o_channel"), lit("legacy")).as("channel"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct("o_orderkey").as("n_keys"),
        round(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("channel")
  }

  /** q2d: SCD TYPE-2 dimension build — the warehouse pattern for
    * tracking attribute history: each customer's order-priority stream
    * becomes versioned rows with [effective_from, effective_to) ranges
    * and an `is_current` flag. Change detection via lag (a version
    * opens only when the attribute actually changes), range closing via
    * lead OVER the change rows. Two windows over the same
    * (key, time, tiebreak) ordering = ONE shuffle + one sort, reused by
    * both window functions — the scale-correct SCD2 plan (a 100 TB
    * history table shuffles once on the dimension key; no self-join).
    * Open versions carry the conventional year-3000 high-water mark so
    * range predicates (`from <= t < to`) work without NULL cases. */
  val Scd2OpenEndUs = 32503680000000000L // 3000-01-01T00:00:00Z in µs
  def scd2Customers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    val changes = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .withColumn("prev", lag("o_orderpriority", 1).over(byTime))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
    changes
      .withColumn("next_from", lead("o_orderdate", 1).over(byTime))
      .select(
        col("o_custkey"),
        col("o_orderpriority").as("priority"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("effective_from_us"),
        coalesce(unix_micros(col("next_from").cast("timestamp")), lit(Scd2OpenEndUs))
          .as("effective_to_us"),
        col("next_from").isNull.as("is_current"))
      .orderBy("o_custkey", "effective_from_us")
  }

  /** q2h: POINT-IN-TIME DIMENSION LOOKUP — the temporal join that makes
    * an SCD2 dimension useful: each fact row joins the dimension
    * version VALID AT its event time (`from ≤ t < to`), never the
    * current one. The plan is an equi hash join on the dimension key
    * with the validity range as a join-level residual — NOT a non-equi
    * join: Catalyst keys the shuffle/broadcast on `o_custkey` and
    * evaluates the range inside the join, so the shape scales exactly
    * like any dimensional enrichment. By SCD2 construction every fact
    * matches exactly ONE version; `n_facts == n_matched` is emitted as
    * the audit column instead of being assumed. */
  def scd2PointInTime(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Customers(spark, dir)
      .select(col("o_custkey").as("d_custkey"), col("priority"),
        col("effective_from_us"), col("effective_to_us"))
    val facts = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"))
    val joined = facts.join(dim,
      col("o_custkey") === col("d_custkey") &&
        col("order_us") >= col("effective_from_us") &&
        col("order_us") < col("effective_to_us"))
    // every order must land in exactly one validity window (SCD2
    // invariant) — emitted, not asserted, so the oracle hash checks it
    val audit = joined.agg(count(lit(1)).as("n_matched"))
      .crossJoin(facts.agg(count(lit(1)).as("n_facts")))
      .select((col("n_matched") === col("n_facts")).as("complete"))
    joined.groupBy("priority")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct("d_custkey", "effective_from_us").as("n_versions_used"),
        round(sum("o_totalprice"), 2).as("sum_price"))
      .crossJoin(broadcast(audit))
      .orderBy("priority")
  }

  /** Sink: JSON-lines (the lingua franca of LLM training-data
    * interchange). One JSON object per line, gzip-splittable parquet is
    * still preferred at rest — JSONL is for pipeline boundaries. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Source: JSON-lines with an EXPLICIT schema — never schema
    * inference at scale (inference scans the data twice and types
    * drift run-to-run). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Source: delimiter-separated text (the reference's `.dat` shape is
    * the `::` case, parsed in etl/MovieLens.scala; this is the generic
    * CSV path with explicit schema + malformed-row policy). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      delimiter: String = ",", header: Boolean = false): DataFrame =
    spark.read.schema(schema)
      .option("delimiter", delimiter)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** q2g: CDC SNAPSHOT DIFF — given two versions of a table, emit the
    * change set (inserts / updates / deletes / unchanged) the way a
    * change-data-capture or table-format time-travel diff would. The
    * new snapshot is derived deterministically from `orders` (keys
    * ≡3 mod 10 repriced +500.00 — an exact double addition, so no
    * per-row rounding that the engines could tie-break differently —
    * keys ≡7 mod 10 dropped, one new key per
    * surviving old key ≡1 mod 10 at +1e9) so the oracle rebuilds both
    * versions arithmetically.
    *
    * The diff itself is ONE full-outer join on the key plus a
    * presence/equality classification — the only scalable formulation
    * (no per-row lookups, no driver state). At 100 TB both snapshots
    * would be bucketed on the key so the join is co-located, and the
    * value-equality check compares a content hash per side rather than
    * every column — here the price column stands in for the hash. */
  def snapshotCdc(spark: SparkSession, dir: String): DataFrame = {
    val oldSnap = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"))
    val newSnap = oldSnap
      .where(pmod(col("key"), lit(10L)) =!= 7L)
      .select(col("key"),
        when(pmod(col("key"), lit(10L)) === 3L, col("price") + 500.0)
          .otherwise(col("price")).as("price"))
      .unionByName(
        oldSnap.where(pmod(col("key"), lit(10L)) === 1L)
          .select((col("key") + 1000000000L).as("key"), col("price")))
    val diff = oldSnap.as("o").join(newSnap.as("n"),
        col("o.key") === col("n.key"), "full_outer")
      .select(
        coalesce(col("o.key"), col("n.key")).as("key"),
        when(col("o.key").isNull, "insert")
          .when(col("n.key").isNull, "delete")
          .when(col("o.price") =!= col("n.price"), "update")
          .otherwise("unchanged").as("op"),
        col("o.price").as("old_price"), col("n.price").as("new_price"))
    diff.groupBy("op")
      .agg(
        count(lit(1)).as("n"),
        round(sum(coalesce(col("new_price"), lit(0.0)) -
          coalesce(col("old_price"), lit(0.0))), 2).as("price_delta"),
        sum(pmod(col("key"), lit(97L))).as("key_checksum"))
      .orderBy("op")
  }

  /** q2p: CDC APPLY — the consumer of q2g's change feed, closing the
    * loop: q2g DIFFS two snapshots into insert/update/delete ops; this
    * operator APPLIES that feed back onto the old snapshot in ONE
    * full-outer key join (matched update → delta row wins wholesale,
    * matched delete → row dropped, unmatched delta → insert, unmatched
    * base → carried), the only formulation that scales — no per-row
    * lookups, no driver state, and at 100 TB both sides bucket on the
    * key so the join co-locates. The graded row folds the theorem the
    * pair exists to uphold: apply(old, diff(old, new)) == new, proven
    * by two bounded exceptAll probes and hash-graded as
    * `apply_is_identity` next to the op counts and the final state's
    * exact-cents aggregate. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val oldSnap = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"))
    val newSnap = oldSnap
      .where(pmod(col("key"), lit(10L)) =!= 7L)
      .select(col("key"),
        when(pmod(col("key"), lit(10L)) === 3L, col("price") + 500.0)
          .otherwise(col("price")).as("price"))
      .unionByName(
        oldSnap.where(pmod(col("key"), lit(10L)) === 1L)
          .select((col("key") + 1000000000L).as("key"), col("price")))
    val delta = oldSnap.as("o").join(newSnap.as("n"),
        col("o.key") === col("n.key"), "full_outer")
      .select(
        coalesce(col("o.key"), col("n.key")).as("key"),
        when(col("o.key").isNull, "insert")
          .when(col("n.key").isNull, "delete")
          .when(col("o.price") =!= col("n.price"), "update")
          .otherwise("unchanged").as("op"),
        col("n.price").as("price"))
      .where(col("op") =!= "unchanged")
    val applied = oldSnap.as("b").join(delta.as("d"),
        col("b.key") === col("d.key"), "full_outer")
      .where(coalesce(col("d.op"), lit("keep")) =!= "delete")
      .select(
        coalesce(col("d.key"), col("b.key")).as("key"),
        coalesce(col("d.price"), col("b.price")).as("price"))
    // bounded identity probes: both directions empty ⇔ exact set equality
    val identity = newSnap.exceptAll(applied).isEmpty &&
      applied.exceptAll(newSnap).isEmpty
    val opCounts = delta.groupBy().agg(
      sum(when(col("op") === "update", 1L).otherwise(0L)).as("n_updates"),
      sum(when(col("op") === "delete", 1L).otherwise(0L)).as("n_deletes"))
    applied.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("key") >= 1000000000L, 1L).otherwise(0L)).as("n_inserted"),
        sum(floor(col("price") * 100 + 0.5)).as("total_cents"))
      .crossJoin(broadcast(opCounts))
      .withColumn("apply_is_identity", lit(identity))
  }

  val cdcApplyOracle: String = """
    WITH old_snap AS (
      SELECT o_orderkey AS key, o_totalprice AS price FROM orders),
    new_snap AS (
      SELECT key,
             CASE WHEN key % 10 = 3 THEN price + 500.0
                  ELSE price END AS price
      FROM old_snap WHERE key % 10 <> 7
      UNION ALL
      SELECT key + 1000000000, price FROM old_snap WHERE key % 10 = 1)
    SELECT CAST(count(1) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN key >= 1000000000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_inserted,
           CAST(sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents,
           (SELECT CAST(count(1) AS BIGINT) FROM old_snap
             WHERE key % 10 = 3) AS n_updates,
           (SELECT CAST(count(1) AS BIGINT) FROM old_snap
             WHERE key % 10 = 7) AS n_deletes,
           true AS apply_is_identity
    FROM new_snap"""

  def snapshotCdcOracle: String = """
    WITH old_snap AS (
      SELECT o_orderkey AS key, o_totalprice AS price FROM orders),
    new_snap AS (
      SELECT key,
             CASE WHEN key % 10 = 3 THEN price + 500.0
                  ELSE price END AS price
      FROM old_snap WHERE key % 10 <> 7
      UNION ALL
      SELECT key + 1000000000, price FROM old_snap WHERE key % 10 = 1),
    diff AS (
      SELECT coalesce(o.key, n.key) AS key,
             CASE WHEN o.key IS NULL THEN 'insert'
                  WHEN n.key IS NULL THEN 'delete'
                  WHEN o.price <> n.price THEN 'update'
                  ELSE 'unchanged' END AS op,
             o.price AS old_price, n.price AS new_price
      FROM old_snap o FULL JOIN new_snap n ON o.key = n.key)
    SELECT op, CAST(count(1) AS BIGINT) AS n,
           round(sum(coalesce(new_price, 0.0) - coalesce(old_price, 0.0)), 2)
             AS price_delta,
           CAST(sum(key % 97) AS BIGINT) AS key_checksum
    FROM diff GROUP BY op ORDER BY op"""

  /** Z-ORDER value: interleave the low 16 bits of two keys (bit i of
    * `right` → position 2i, bit i of `left` → position 2i+1). Built as
    * a closed-form column expression (a fold over the 16 bit positions
    * of shifts/masks), so it compiles to one codegen'd arithmetic
    * expression — no UDF. */
  def zorder2(left: Column, right: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        (shiftright(left.cast("bigint"), i) % 2) * lit(1L << (2 * i + 1)) +
        (shiftright(right.cast("bigint"), i) % 2) * lit(1L << (2 * i))
    }

  /** q2f: Z-ORDER LAYOUT of `lineitem` on (l_partkey, l_suppkey) — the
    * multi-dimensional clustering that makes min/max data skipping work
    * for BOTH keys at once. Sorting by a single key clusters only that
    * key; interleaving the bits gives every file a tight range on each
    * dimension, so a 100 TB scan filtered on either key prunes most
    * files from footer stats alone. Here the table is z-valued,
    * range-partitioned + sorted by zval (exactly the write path a real
    * OPTIMIZE ZORDER runs), round-tripped through parquet, and the
    * graded output is the leading z-ordered slice — the oracle replays
    * the interleave arithmetic bit-for-bit. */
  def zorderRoundTrip(spark: SparkSession, dir: String,
      outBase: String = graft.Fs.scratch("graft_wh_zorder")): DataFrame = {
    val path = s"$outBase/lineitem_z"
    val z = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .withColumn("zval", zorder2(col("l_partkey"), col("l_suppkey")))
    z.repartitionByRange(8, col("zval"))
      .sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
      .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
      .limit(200)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("zval"))
  }

  def zorderOracle: String = {
    val terms = (0 until 16).map { i =>
      s"((l_partkey // ${1L << i}) % 2) * ${1L << (2 * i + 1)} + " +
        s"((l_suppkey // ${1L << i}) % 2) * ${1L << (2 * i)}"
    }.mkString(" + ")
    s"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           ($terms) AS zval
    FROM lineitem
    ORDER BY zval, l_orderkey, l_linenumber
    LIMIT 200"""
  }

  /** qae: DATA-LAYOUT ADVISOR — the decision q2f's z-order write
    * presupposes: WHICH layout should a 100 TB table be clustered by?
    * For each candidate layout (linear by l_partkey, linear by
    * l_suppkey, z-order over both) the advisor partitions the table
    * into `files` value-range buckets of the layout key (a pure
    * integer function of the key and its max — deterministic and
    * shuffle-free where a real repartitionByRange samples
    * nondeterministic quantiles), collects per-file min/max footer
    * spans for both probe columns, and computes the EXPECTED FILES
    * TOUCHED by an equality probe — weighted over the `topV` most
    * frequent probe values (the q4c bounded doctrine; every value
    * would be the corpus itself at scale).
    *
    * Everything is exact integer arithmetic: file id = (key·F) div
    * (max+1), touched = count of files whose [min,max] covers the
    * value (a 20-row probe block against a 16-row span table), the
    * expectation and skip ratio as integer-div e3/ppm. The graded
    * story is the z-order claim itself, measured: a single-key layout
    * skips ~nothing on the OTHER key, the interleaved layout skips on
    * both. */
  def layoutAdvisor(spark: SparkSession, dir: String,
      files: Int = 16, topV: Int = 20): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).cache()
    def fileSpans(layout: String, lcol: Column): DataFrame = {
      val keyed = li.withColumn("lval", lcol)
      val mx = keyed.agg(max("lval").as("max_l"))
      keyed.crossJoin(broadcast(mx))
        .withColumn("file", expr(s"(lval * $files) div (max_l + 1)"))
        .groupBy("file")
        .agg(min("p").as("min_p"), max("p").as("max_p"),
          min("s").as("min_s"), max("s").as("max_s"))
        .withColumn("layout", lit(layout))
    }
    val spans = fileSpans("partkey", col("p"))
      .unionAll(fileSpans("suppkey", col("s")))
      .unionAll(fileSpans("zorder", zorder2(col("p"), col("s"))))
      .cache()
    def probeBlock(probe: String, c: Column): DataFrame = li
      .groupBy(c.as("v")).agg(count(lit(1)).as("w"))
      .orderBy(col("w").desc, col("v")).limit(topV)
      .withColumn("probe", lit(probe))
    val probes = probeBlock("partkey", col("p"))
      .unionAll(probeBlock("suppkey", col("s")))
    val touched = spans.join(broadcast(probes),
        (col("probe") === "partkey"
          && col("v").between(col("min_p"), col("max_p")))
          || (col("probe") === "suppkey"
            && col("v").between(col("min_s"), col("max_s"))))
      .groupBy("layout", "probe", "v", "w")
      .agg(count(lit(1)).as("n_touched"))
    touched.groupBy("layout", "probe")
      .agg(sum(col("w") * col("n_touched")).as("sum_wt"),
        sum("w").as("sum_w"), count(lit(1)).as("n_probe_values"))
      .select(col("layout"), col("probe"),
        lit(files.toLong).as("n_files"), col("n_probe_values"),
        expr("(sum_wt * 1000) div sum_w").as("expected_files_e3"),
        expr(s"(($files * sum_w - sum_wt) * 1000000) div ($files * sum_w)")
          .as("skip_ppm"))
      .orderBy("layout", "probe")
  }

  def layoutAdvisorOracle: String = {
    val zterms = (0 until 16).map { i =>
      s"((p // ${1L << i}) % 2) * ${1L << (2 * i + 1)} + " +
        s"((s // ${1L << i}) % 2) * ${1L << (2 * i)}"
    }.mkString(" + ")
    s"""
    WITH li AS (SELECT l_partkey AS p, l_suppkey AS s FROM lineitem),
    keyed AS (
      SELECT p, s, 'partkey' AS layout, p AS lval FROM li
      UNION ALL
      SELECT p, s, 'suppkey' AS layout, s AS lval FROM li
      UNION ALL
      SELECT p, s, 'zorder' AS layout, ($zterms) AS lval FROM li),
    mx AS (SELECT layout, max(lval) AS max_l FROM keyed GROUP BY layout),
    spans AS (
      SELECT k.layout, (k.lval * 16) // (mx.max_l + 1) AS file,
             min(k.p) AS min_p, max(k.p) AS max_p,
             min(k.s) AS min_s, max(k.s) AS max_s
      FROM keyed k JOIN mx ON k.layout = mx.layout
      GROUP BY 1, 2),
    pb AS (
      SELECT * FROM (
        SELECT 'partkey' AS probe, p AS v, count(1) AS w,
               row_number() OVER (ORDER BY count(1) DESC, p) AS r
        FROM li GROUP BY p) WHERE r <= 20
      UNION ALL
      SELECT * FROM (
        SELECT 'suppkey' AS probe, s AS v, count(1) AS w,
               row_number() OVER (ORDER BY count(1) DESC, s) AS r
        FROM li GROUP BY s) WHERE r <= 20),
    touched AS (
      SELECT spans.layout, pb.probe, pb.v, pb.w,
             CAST(count(1) AS BIGINT) AS n_touched
      FROM spans JOIN pb
        ON (pb.probe = 'partkey' AND pb.v BETWEEN spans.min_p AND spans.max_p)
        OR (pb.probe = 'suppkey' AND pb.v BETWEEN spans.min_s AND spans.max_s)
      GROUP BY 1, 2, 3, 4),
    agg AS (
      SELECT layout, probe,
             CAST(sum(w * n_touched) AS BIGINT) AS sum_wt,
             CAST(sum(w) AS BIGINT) AS sum_w,
             CAST(count(1) AS BIGINT) AS n_probe_values
      FROM touched GROUP BY 1, 2)
    SELECT layout, probe, CAST(16 AS BIGINT) AS n_files, n_probe_values,
           CAST((sum_wt * 1000) // sum_w AS BIGINT) AS expected_files_e3,
           CAST(((16 * sum_w - sum_wt) * 1000000) // (16 * sum_w)
             AS BIGINT) AS skip_ppm
    FROM agg ORDER BY layout, probe"""
  }

  /** q2j: INCREMENTAL AGGREGATE MAINTENANCE — the materialized-view
    * refresh contract: a base aggregate (orders before the cutoff) is
    * merged with a delta-batch aggregate (the rest) by partial-state
    * union + re-aggregation, and the GRADED TRUTH is the from-scratch
    * full recompute — the oracle literally aggregates the whole table,
    * so a hash match proves the incremental merge is exact, which is
    * the associativity property every incremental pipeline rests on.
    * Monetary is exact integer cents (q2i's quantization), counts are
    * integers; `n_from_delta` audits how much the delta contributed.
    * At scale the base aggregate is a stored table and only the delta
    * scans — this query keeps both arms in-plan so the contract stays
    * self-contained. */
  def incrementalAggMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderpriority"), col("o_orderdate"),
      floor(col("o_totalprice") * 100 + 0.5).as("cents"))
    val cut = lit("1997-06-01").cast("date")
    def agg(df: DataFrame): DataFrame = df.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
    val base  = agg(o.filter(col("o_orderdate") < cut))
    val delta = agg(o.filter(col("o_orderdate") >= cut))
    base.select(col("o_orderpriority"), col("n"), col("cents"),
        lit(0L).as("is_delta"))
      .union(delta.select(col("o_orderpriority"), col("n"), col("cents"),
        lit(1L).as("is_delta")))
      .groupBy("o_orderpriority")
      .agg(
        sum("n").as("n_orders"),
        sum("cents").as("total_cents"),
        sum(when(col("is_delta") === 1L, col("n")).otherwise(0L))
          .as("n_from_delta"))
      .orderBy("o_orderpriority")
  }

  def incrementalAggOracle: String = """
    SELECT o_orderpriority,
           CAST(count(1) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN o_orderdate >= DATE '1997-06-01'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_from_delta
    FROM orders GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** q2m: SKETCH ROLLUP — q2j's incremental-maintenance contract
    * extended to the one aggregate that is NOT naively re-aggregable:
    * distinct users. Exact distincts don't merge (Σ per-day distincts
    * overcounts), which is why production rollup tables persist HLL
    * SKETCHES as columns and re-aggregate those (Spark ≥3.5 ships the
    * DataSketches family natively: `hll_sketch_agg` / `hll_union_agg` /
    * `hll_sketch_estimate`). Here: per-day user sketches are unioned
    * to fixed 7-day weeks, and TWO contracts are folded into the graded
    * row — the merged estimate sits within ±5% of the exact per-week
    * distinct (the accuracy bound), and it equals the estimate of a
    * sketch built directly over the whole week (register-wise max is
    * lossless under partitioning — the associativity that makes sketch
    * columns incrementally maintainable at all). The estimates
    * themselves stay OUT of the row (a foreign engine can't replay
    * DataSketches internals); the oracle replays the exact distincts
    * and emits literal `true` for both contract booleans. The exact
    * arm runs as its OWN aggregate and joins on the 5-row week spine —
    * never fused with the sketch arm (the q1l EXPAND lesson). At
    * 100 TB the daily sketch table is what persists (KBs/day), and the
    * weekly/monthly/any rollup re-aggregates sketches, never raw
    * events. */
  def sketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .withColumn("week",
        floor(datediff(col("day"), lit("1970-01-01").cast("date")) / 7)
          .cast("long"))
    val daily = ev.groupBy("week", "day")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val merged = daily.groupBy("week")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    val direct = ev.groupBy("week")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("est_direct"))
    val exact = ev.groupBy("week")
      .agg(countDistinct("user_id").as("exact_users"))
    merged.join(direct, "week").join(exact, "week")
      .select(
        col("week"), col("n_days"), col("exact_users"),
        (abs(col("est_merged") - col("exact_users"))
          <= col("exact_users").cast("double") * 0.05).as("merge_within_5pct"),
        (col("est_merged") === col("est_direct")).as("merge_equals_direct"))
      .orderBy("week")
  }

  def sketchRollupOracle: String = """
    WITH ev AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events),
    w AS (
      SELECT user_id, day,
             date_diff('day', DATE '1970-01-01', day) // 7 AS week
      FROM ev)
    SELECT CAST(week AS BIGINT) AS week,
           CAST(count(DISTINCT day) AS BIGINT) AS n_days,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           true AS merge_within_5pct,
           true AS merge_equals_direct
    FROM w GROUP BY week ORDER BY week"""

  /** qaq: SORTED RANGE-SHARDED EXPORT — the final materialization step
    * of a training-data pipeline: land the corpus as F shards that are
    * GLOBALLY ordered (shard k holds a contiguous id span below shard
    * k+1's, rows sorted within each shard), so downstream consumers
    * stream the dataset in deterministic order and binary-search shard
    * boundaries without a manifest scan. Shard assignment is the qae
    * integer rule — `shard = doc_id * F div (maxId+1)` — deterministic
    * and shuffle-free where `repartitionByRange` would sample
    * nondeterministic quantiles (the qae lesson); one hash repartition
    * on the shard key then `partitionBy(shard)` + `sortWithinPartitions`
    * writes EXACTLY one file per shard (each key lives in one task).
    * The graded rows read the export back: per-shard counts and id
    * spans (the oracle replays the shard arithmetic from `documents`),
    * `one_file_per_shard` from distinct file names, and the global
    * order as a per-row `disjoint_after_prev` over the F-row frame
    * (q1e rule: the window runs over 16 rows, not the corpus). */
  def sortedExport(spark: SparkSession, dir: String,
      files: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    val maxId = docs.agg(max("doc_id")).head().getLong(0) // 1-row probe
    val outDir = graft.Fs.scratch("graft_sorted_export")
    graft.Fs.deleteRecursively(outDir)
    docs
      .withColumn("shard",
        expr(s"cast(doc_id * $files div ${maxId + 1} as int)"))
      .repartition(files, col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .write.partitionBy("shard").parquet(outDir)
    val back = spark.read.parquet(outDir)
    val w = Window.orderBy("shard") // F-row frame
    back
      // project the (non-deterministic-flagged) file name BEFORE the
      // aggregate — Spark rejects it directly inside countDistinct
      .withColumn("fname", input_file_name())
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("n_chars")).as("chars"),
        countDistinct(col("fname")).as("nf"))
      .select(col("shard"), col("n_rows"), col("min_id"), col("max_id"),
        col("chars"),
        (col("nf") === 1L).as("one_file_per_shard"),
        coalesce(lag(col("max_id"), 1).over(w) < col("min_id"), lit(true))
          .as("disjoint_after_prev"))
      .orderBy("shard")
  }

  def sortedExportOracle: String = """
    WITH m AS (SELECT max(doc_id) AS mx FROM documents),
    s AS (
      SELECT CAST(doc_id * 16 // (m.mx + 1) AS INTEGER) AS shard,
             doc_id, n_chars
      FROM documents, m),
    g AS (
      SELECT shard, CAST(count(1) AS BIGINT) AS n_rows,
             min(doc_id) AS min_id, max(doc_id) AS max_id,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM s GROUP BY shard)
    SELECT shard, n_rows, min_id, max_id, chars,
           true AS one_file_per_shard,
           coalesce(lag(max_id) OVER (ORDER BY shard) < min_id, true)
             AS disjoint_after_prev
    FROM g ORDER BY shard"""

  /** qaz: DATA-SKIPPING MANIFEST AUDIT — the quantified payoff of
    * qaq's sorted layout: a file-level (min, max) manifest (what
    * parquet footers / Iceberg-style manifests store) is probed with a
    * fixed predicate set and graded on how many files each predicate
    * may skip. Point and range probes on the SORT column (`doc_id`)
    * prune to 1–2 of the 16 files; the same-shaped probes on the
    * unsorted `n_chars` column overlap every file — the artifact
    * carries the layout lesson (skip_ppm ≈ 94% vs 0%), it isn't just
    * asserted in prose. `fp_files` (scanned files with zero hits)
    * measures the residual cost min/max pruning cannot remove without
    * finer stats (bloom/zone maps).
    *
    * The manifest is built by reading the REAL export back grouped per
    * shard-file — at 100 TB these are footer reads, not data scans; the
    * file count stays O(files), never O(rows). Probe bounds are
    * arithmetic on max(doc_id) (1-row probe, the qaq convention), so
    * the oracle replays everything: a pruning bug (skipping a file that
    * held matches) shows up as a hash mismatch in `rows_matched`, a
    * soundness property, not a perf nicety. */
  def skippingManifest(spark: SparkSession, dir: String,
      files: Int = 16): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    val mx = docs.agg(max("doc_id")).head().getLong(0) // 1-row probe
    val outDir = graft.Fs.scratch("graft_skipping_export")
    graft.Fs.deleteRecursively(outDir)
    docs
      .withColumn("shard",
        expr(s"cast(doc_id * $files div ${mx + 1} as int)"))
      .repartition(files, col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .write.partitionBy("shard").parquet(outDir)
    // the manifest: per-file (min, max) for both the sort column and a
    // representative unsorted column
    val manifest = spark.read.parquet(outDir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        min(col("n_chars")).as("min_ch"), max(col("n_chars")).as("max_ch"))
    val probes = spark.range(1).select(explode(array(
      struct(lit(0).as("probe_id"), lit("doc_id").as("col_name"),
        lit(mx / 7).as("lo"), lit(mx / 7).as("hi")),
      struct(lit(1).as("probe_id"), lit("doc_id").as("col_name"),
        lit(5 * mx / 7).as("lo"), lit(5 * mx / 7).as("hi")),
      struct(lit(2).as("probe_id"), lit("doc_id").as("col_name"),
        lit(mx / 3).as("lo"), lit(mx / 3 + mx / 16).as("hi")),
      struct(lit(3).as("probe_id"), lit("doc_id").as("col_name"),
        lit(9 * mx / 10).as("lo"), lit(mx).as("hi")),
      struct(lit(4).as("probe_id"), lit("n_chars").as("col_name"),
        lit(100L).as("lo"), lit(200L).as("hi")),
      struct(lit(5).as("probe_id"), lit("n_chars").as("col_name"),
        lit(300L).as("lo"), lit(400L).as("hi")))).as("p"))
      .select(col("p.*"))
    val shardOf = expr(s"cast(doc_id * $files div ${mx + 1} as int)")
    val hits = docs.withColumn("shard", shardOf)
      .join(broadcast(probes),
        when(col("col_name") === "doc_id", col("doc_id"))
          .otherwise(col("n_chars")).between(col("lo"), col("hi")))
      .groupBy(col("probe_id"), col("shard"))
      .agg(count(lit(1)).as("n_hit"))
    val scan = broadcast(probes).crossJoin(manifest)
      .withColumn("scanned",
        when(col("col_name") === "doc_id",
          !(col("hi") < col("min_id") || col("lo") > col("max_id")))
          .otherwise(!(col("hi") < col("min_ch") || col("lo") > col("max_ch"))))
    scan.join(hits, Seq("probe_id", "shard"), "left")
      .groupBy(col("probe_id"), col("col_name"), col("lo"), col("hi"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(when(col("scanned"), 1L).otherwise(0L)).as("files_scanned"),
        sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("files_with_hits"),
        sum(when(col("scanned"), col("n_rows")).otherwise(0L))
          .as("rows_scanned"),
        sum(coalesce(col("n_hit"), lit(0L))).as("rows_matched"),
        expr("(count(1) - sum(CASE WHEN scanned THEN 1 ELSE 0 END))"
          + " * 1000000 div count(1)").as("skip_ppm"),
        expr("sum(CASE WHEN scanned THEN 1 ELSE 0 END)"
          + " - sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END)").as("fp_files"))
      .orderBy("probe_id")
  }

  def skippingManifestOracle: String = """
    WITH m AS (SELECT max(doc_id) AS mx FROM documents),
    s AS (
      SELECT CAST(doc_id * 16 // (m.mx + 1) AS INTEGER) AS shard,
             doc_id, n_chars
      FROM documents, m),
    f AS (
      SELECT shard, CAST(count(1) AS BIGINT) AS n_rows,
             min(doc_id) AS min_id, max(doc_id) AS max_id,
             min(n_chars) AS min_ch, max(n_chars) AS max_ch
      FROM s GROUP BY shard),
    probes AS (
      SELECT 0 AS probe_id, 'doc_id' AS col_name,
             mx // 7 AS lo, mx // 7 AS hi FROM m
      UNION ALL SELECT 1, 'doc_id', 5 * mx // 7, 5 * mx // 7 FROM m
      UNION ALL SELECT 2, 'doc_id', mx // 3, mx // 3 + mx // 16 FROM m
      UNION ALL SELECT 3, 'doc_id', 9 * mx // 10, mx FROM m
      UNION ALL SELECT 4, 'n_chars', 100, 200 FROM m
      UNION ALL SELECT 5, 'n_chars', 300, 400 FROM m),
    sc AS (
      SELECT p.probe_id, p.col_name, p.lo, p.hi, f.shard, f.n_rows,
             CASE WHEN p.col_name = 'doc_id'
                  THEN NOT (p.hi < f.min_id OR p.lo > f.max_id)
                  ELSE NOT (p.hi < f.min_ch OR p.lo > f.max_ch)
             END AS scanned
      FROM probes p CROSS JOIN f),
    hits AS (
      SELECT p.probe_id, s.shard, CAST(count(1) AS BIGINT) AS n_hit
      FROM probes p JOIN s
        ON (CASE WHEN p.col_name = 'doc_id' THEN s.doc_id
                 ELSE s.n_chars END) BETWEEN p.lo AND p.hi
      GROUP BY 1, 2)
    SELECT sc.probe_id, sc.col_name,
           CAST(sc.lo AS BIGINT) AS lo, CAST(sc.hi AS BIGINT) AS hi,
           CAST(count(1) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
             AS files_scanned,
           CAST(sum(CASE WHEN h.n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS files_with_hits,
           CAST(sum(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(coalesce(h.n_hit, 0)) AS BIGINT) AS rows_matched,
           CAST((count(1) - sum(CASE WHEN scanned THEN 1 ELSE 0 END))
             * 1000000 // count(1) AS BIGINT) AS skip_ppm,
           CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END)
             - sum(CASE WHEN h.n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS fp_files
    FROM sc LEFT JOIN hits h
      ON sc.probe_id = h.probe_id AND sc.shard = h.shard
    GROUP BY 1, 2, 3, 4
    ORDER BY sc.probe_id"""

  /** qb1: JOIN-CARDINALITY ESTIMATION AUDIT — the q2s statistics put to
    * their actual use: before a 100 TB join runs, the planner estimates
    * its output size from per-column stats, and a bad estimate picks
    * the wrong strategy (broadcast a side that explodes, under-partition
    * a shuffle). This operator runs the textbook estimator at two stat
    * granularities and grades it against the EXACT join size:
    *
    *   est = Σ_b cnt_a(b) · cnt_b(b) / max(ndv_a(b), ndv_b(b))
    *
    * (containment + uniformity within bucket — the System-R form CBOs
    * still use) with b ranging over 1 bucket (table-level stats) vs 64
    * equi-width buckets (histogram stats). Two join shapes: the FK join
    * orders⋈customer (estimators are near-exact — the audit shows WHY
    * FK joins are safe to plan blind) and the m:n self-join
    * lineitem⋈lineitem on l_partkey, where table-level stats drift and
    * the histogram closes the gap. The exact m:n size is Σ_k c_k² —
    * computed as that aggregate, never by materializing pairs. The
    * fixture's natural keys are all near-uniform (measured: the
    * estimators agree within ~3% everywhere), so a third join runs on
    * the derived key floor(√l_orderkey) — multiplicity grows linearly
    * with the key, the shape where the uniformity assumption really
    * breaks: table-level stats miss by E[c²]/E[c]² ≈ 4/3 while the
    * 64-bucket histogram is near-uniform within buckets and lands
    * tight.
    *
    * Everything is integer arithmetic over two hash-aggs per side
    * (count + exact ndv per bucket; at 100 TB the ndv column switches
    * to the q1l HLL sketch with the same plan shape). err_ppm is the
    * graded column: the estimator's quality is data, not prose. */
  def joinCardinalityEstimate(spark: SparkSession, dir: String,
      buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.DataFrame
    def bucketStats(df: DataFrame, key: String, mx: Long, nb: Int)
        : DataFrame =
      df.select(col(key).cast("long").as("k"))
        .withColumn("b", expr(s"cast(k * $nb div ${mx + 1} as int)"))
        .groupBy("b")
        .agg(count(lit(1)).as("cnt"), countDistinct(col("k")).as("ndv"))
    def estRow(name: String, aDf: DataFrame, aKey: String, bDf: DataFrame,
        bKey: String, mx: Long, actual: Long): DataFrame = {
      def one(nb: Int, label: String): DataFrame =
        bucketStats(aDf, aKey, mx, nb).join(
            bucketStats(bDf, bKey, mx, nb)
              .withColumnsRenamed(Map("cnt" -> "b_cnt", "ndv" -> "b_ndv")),
            Seq("b"))
          .agg(sum(expr("cnt * b_cnt div greatest(ndv, b_ndv)"))
            .as("est_rows"))
          .select(lit(name).as("join_name"), lit(label).as("estimator"),
            lit(nb).as("n_buckets"), col("est_rows"),
            lit(actual).as("actual_rows"),
            (abs(col("est_rows") - actual) * 1000000L / lit(actual))
              .cast("long").as("err_ppm"))
      one(1, "table_level").unionAll(one(buckets, s"hist$buckets"))
    }
    val orders = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val li = Tables.lineitem(spark, dir)
    // 1-row probes (the qaq/qaz convention): key-domain max + exact sizes
    val mxCust = math.max(
      orders.agg(max("o_custkey")).head().getLong(0),
      cust.agg(max("c_custkey")).head().getLong(0))
    val actualFk = orders.join(cust,
      col("o_custkey") === col("c_custkey")).count()
    val mxPart = li.agg(max("l_partkey")).head().getLong(0)
    val actualMn = li.groupBy("l_partkey").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0)
    estRow("orders_customer", orders, "o_custkey", cust, "c_custkey",
        mxCust, actualFk)
      .unionAll(estRow("lineitem_partkey_self", li, "l_partkey", li,
        "l_partkey", mxPart, actualMn))
      .unionAll {
        val sk = li.withColumn("skew_key",
          expr("cast(floor(sqrt(l_orderkey)) as long)"))
        val mxSk = sk.agg(max("skew_key")).head().getLong(0)
        val actualSk = sk.groupBy("skew_key").count()
          .agg(sum(col("count") * col("count"))).head().getLong(0)
        estRow("lineitem_sqrtkey_self", sk, "skew_key", sk, "skew_key",
          mxSk, actualSk)
      }
      .orderBy("join_name", "estimator")
  }

  def joinCardinalityEstimateOracle: String = """
    WITH mxc AS (
      SELECT greatest((SELECT max(o_custkey) FROM orders),
                      (SELECT max(c_custkey) FROM customer)) AS mx),
    mxp AS (SELECT max(l_partkey) AS mx FROM lineitem),
    afk AS (
      SELECT CAST(count(1) AS BIGINT) AS actual
      FROM orders JOIN customer ON o_custkey = c_custkey),
    amn AS (
      SELECT CAST(sum(c * c) AS BIGINT) AS actual FROM (
        SELECT count(1) AS c FROM lineitem GROUP BY l_partkey)),
    fk AS (
      SELECT nb, sum(a.cnt * b.cnt // greatest(a.ndv, b.ndv)) AS est
      FROM (SELECT 1 AS nb UNION ALL SELECT 64) n(nb),
      LATERAL (
        SELECT CAST(o_custkey * n.nb // (mxc.mx + 1) AS INTEGER) AS b,
               count(1) AS cnt, count(DISTINCT o_custkey) AS ndv
        FROM orders, mxc GROUP BY 1) a,
      LATERAL (
        SELECT CAST(c_custkey * n.nb // (mxc.mx + 1) AS INTEGER) AS b,
               count(1) AS cnt, count(DISTINCT c_custkey) AS ndv
        FROM customer, mxc GROUP BY 1) b
      WHERE a.b = b.b GROUP BY nb),
    mn AS (
      SELECT nb, sum(a.cnt * b.cnt // greatest(a.ndv, b.ndv)) AS est
      FROM (SELECT 1 AS nb UNION ALL SELECT 64) n(nb),
      LATERAL (
        SELECT CAST(l_partkey * n.nb // (mxp.mx + 1) AS INTEGER) AS b,
               count(1) AS cnt, count(DISTINCT l_partkey) AS ndv
        FROM lineitem, mxp GROUP BY 1) a,
      LATERAL (
        SELECT CAST(l_partkey * n.nb // (mxp.mx + 1) AS INTEGER) AS b,
               count(1) AS cnt, count(DISTINCT l_partkey) AS ndv
        FROM lineitem, mxp GROUP BY 1) b
      WHERE a.b = b.b GROUP BY nb),
    mxs AS (
      SELECT max(CAST(floor(sqrt(l_orderkey)) AS BIGINT)) AS mx
      FROM lineitem),
    ask AS (
      SELECT CAST(sum(c * c) AS BIGINT) AS actual FROM (
        SELECT count(1) AS c FROM lineitem
        GROUP BY CAST(floor(sqrt(l_orderkey)) AS BIGINT))),
    sk AS (
      SELECT nb, sum(a.cnt * b.cnt // greatest(a.ndv, b.ndv)) AS est
      FROM (SELECT 1 AS nb UNION ALL SELECT 64) n(nb),
      LATERAL (
        SELECT CAST(k * n.nb // (mxs.mx + 1) AS INTEGER) AS b,
               count(1) AS cnt, count(DISTINCT k) AS ndv
        FROM (SELECT CAST(floor(sqrt(l_orderkey)) AS BIGINT) AS k
              FROM lineitem), mxs GROUP BY 1) a,
      LATERAL (
        SELECT CAST(k * n.nb // (mxs.mx + 1) AS INTEGER) AS b,
               count(1) AS cnt, count(DISTINCT k) AS ndv
        FROM (SELECT CAST(floor(sqrt(l_orderkey)) AS BIGINT) AS k
              FROM lineitem), mxs GROUP BY 1) b
      WHERE a.b = b.b GROUP BY nb),
    rows_ AS (
      SELECT 'orders_customer' AS join_name,
             CASE WHEN nb = 1 THEN 'table_level' ELSE 'hist64' END
               AS estimator,
             nb AS n_buckets, est, afk.actual FROM fk, afk
      UNION ALL
      SELECT 'lineitem_partkey_self',
             CASE WHEN nb = 1 THEN 'table_level' ELSE 'hist64' END,
             nb, est, amn.actual FROM mn, amn
      UNION ALL
      SELECT 'lineitem_sqrtkey_self',
             CASE WHEN nb = 1 THEN 'table_level' ELSE 'hist64' END,
             nb, est, ask.actual FROM sk, ask)
    SELECT join_name, estimator, CAST(n_buckets AS INTEGER) AS n_buckets,
           CAST(est AS BIGINT) AS est_rows,
           CAST(actual AS BIGINT) AS actual_rows,
           CAST(abs(est - actual) * 1000000 // actual AS BIGINT) AS err_ppm
    FROM rows_ ORDER BY join_name, estimator"""

  /** qb8: ENCODING ADVISOR — the per-column storage-encoding decision
    * a columnar writer makes at flush time (parquet's
    * plain / dictionary / run-length choice), modeled from exactly the
    * statistics that decision needs: row count, NDV, and the GLOBAL
    * run count in storage order. Size models: plain = n·w;
    * dict = ndv·w + n·ceil(log2 ndv)/8 (value table + bit-packed
    * indexes, bit width from the binary-string length so no float
    * log2 boundary hazard); RLE = runs·(w+4) (value + length per
    * run). The graded rows carry all three estimates and the argmin
    * advice — on the fixture the four lineitem columns split three
    * ways (low-NDV enum → dict/RLE, clustered key → RLE, high-NDV
    * measure → plain), which is the decision surface the advisor
    * exists to read.
    *
    * The scale problem is the RUN COUNT: runs need consecutive-row
    * comparison in storage order, and a naive global window is the
    * single-partition anti-pattern. Here storage order is
    * (l_orderkey, l_linenumber) with a near-dense orderkey (a gap
    * just skips that one boundary comparison, identically in both
    * engines), so the segmented scan is exact and fully parallel: within-segment
    * changes ride a window PARTITIONED by orderkey, and
    * cross-boundary changes come from equi-joining each order's
    * first row to its predecessor's last row on ok = ok−1 (min_by /
    * max_by per order, a |orders|-sized aggregate) — no global sort,
    * no single partition. A non-dense key needs a range-partitioned
    * segmented scan; the join trick is the dense-key specialization. */
  def encodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq( // (name, width bytes)
      ("l_returnflag", 1L), ("l_quantity", 8L),
      ("l_extendedprice", 8L), ("l_orderkey", 8L))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
    // (l_orderkey, l_linenumber) is NOT unique in the fixture, so the
    // storage order must be totalized: ordering by ALL profiled
    // columns makes any residual tie a fully-identical row, whose
    // position cannot change any adjacent-difference count
    val ordCols = Seq("l_linenumber", "l_returnflag", "l_quantity",
      "l_extendedprice")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy(ordCols.map(col): _*)
    // within-segment value changes, all columns in one window pass
    val within = li.select(cols.map { case (c, _) =>
        when(lag(col(c), 1).over(w).isNotNull &&
          lag(col(c), 1).over(w) =!= col(c), 1L).otherwise(0L)
          .as(s"chg_$c")
      }: _*)
      .agg(cols.map { case (c, _) =>
        sum(col(s"chg_$c")).as(s"win_$c") }.head,
        cols.tail.map { case (c, _) =>
          sum(col(s"chg_$c")).as(s"win_$c") }: _*)
    // per-segment first/last, then boundary changes via ok = ok-1 join
    // first/last row per segment under the SAME total order: the
    // min/max of the order-key struct, fields extracted after
    val perOrder = li.groupBy("l_orderkey").agg(
        min(struct(ordCols.map(col): _*)).as("f"),
        max(struct(ordCols.map(col): _*)).as("l"))
      .select(col("l_orderkey") +:
        (cols.map { case (c, _) =>
          col(if (c == "l_orderkey") "l_orderkey" else s"f.$c")
            .as(s"first_$c") } ++
         cols.map { case (c, _) =>
          col(if (c == "l_orderkey") "l_orderkey" else s"l.$c")
            .as(s"last_$c") }): _*)
    val prev = perOrder.select(
      (col("l_orderkey") + 1L).as("nk") +:
      cols.map { case (c, _) => col(s"last_$c").as(s"plast_$c") }: _*)
    val boundary = perOrder.join(prev, col("l_orderkey") === col("nk"))
      .agg(cols.map { case (c, _) =>
        sum(when(col(s"first_$c") =!= col(s"plast_$c"), 1L).otherwise(0L))
          .as(s"bnd_$c") }.head,
        cols.tail.map { case (c, _) =>
          sum(when(col(s"first_$c") =!= col(s"plast_$c"), 1L).otherwise(0L))
            .as(s"bnd_$c") }: _*)
    val ndvs = li.agg(
      count(lit(1)).as("n"),
      cols.map { case (c, _) => countDistinct(col(c)).as(s"ndv_$c") }: _*)
    val wide = ndvs.crossJoin(broadcast(within)).crossJoin(broadcast(boundary))
    val stacked = cols.map { case (c, width) =>
      wide.select(
        lit(c).as("column_name"), lit(width).as("width_b"),
        col("n"), col(s"ndv_$c").as("ndv"),
        (lit(1L) + col(s"win_$c") + col(s"bnd_$c")).as("n_runs"))
    }.reduce(_ unionAll _)
    stacked
      .withColumn("plain_b", col("n") * col("width_b"))
      .withColumn("dict_b", col("ndv") * col("width_b") +
        expr("n * length(bin(ndv - 1)) div 8"))
      .withColumn("rle_b", col("n_runs") * (col("width_b") + 4L))
      .withColumn("advised",
        when(col("plain_b") <= col("dict_b") &&
          col("plain_b") <= col("rle_b"), "plain")
        .when(col("dict_b") <= col("rle_b"), "dict")
        .otherwise("rle"))
      .select("column_name", "n", "ndv", "n_runs", "plain_b", "dict_b",
        "rle_b", "advised")
      .orderBy("column_name")
  }

  /** DuckDB replay of [[encodingAdvisor]]: same segmented run count
    * (window within orders + dense-key boundary join), same integer
    * size models, same argmin tie order. */
  def encodingAdvisorOracle: String = """
    WITH li AS (
      SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
             l_extendedprice
      FROM lineitem),
    chg AS (
      SELECT
        CASE WHEN lag(l_returnflag) OVER w IS NOT NULL
          AND lag(l_returnflag) OVER w <> l_returnflag THEN 1 ELSE 0 END AS c_rf,
        CASE WHEN lag(l_quantity) OVER w IS NOT NULL
          AND lag(l_quantity) OVER w <> l_quantity THEN 1 ELSE 0 END AS c_qty,
        CASE WHEN lag(l_extendedprice) OVER w IS NOT NULL
          AND lag(l_extendedprice) OVER w <> l_extendedprice THEN 1 ELSE 0 END AS c_ep,
        CASE WHEN lag(l_orderkey) OVER w IS NOT NULL
          AND lag(l_orderkey) OVER w <> l_orderkey THEN 1 ELSE 0 END AS c_ok
      FROM li WINDOW w AS (PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_returnflag, l_quantity, l_extendedprice)),
    within_ AS (
      SELECT sum(c_rf) AS win_rf, sum(c_qty) AS win_qty,
             sum(c_ep) AS win_ep, sum(c_ok) AS win_ok
      FROM chg),
    po AS (
      SELECT l_orderkey,
             min(struct_pack(l_linenumber := l_linenumber,
               l_returnflag := l_returnflag, l_quantity := l_quantity,
               l_extendedprice := l_extendedprice)) AS f,
             max(struct_pack(l_linenumber := l_linenumber,
               l_returnflag := l_returnflag, l_quantity := l_quantity,
               l_extendedprice := l_extendedprice)) AS l,
             l_orderkey AS f_ok, l_orderkey AS l_ok
      FROM li GROUP BY 1),
    pox AS (
      SELECT l_orderkey,
             f['l_returnflag'] AS f_rf, l['l_returnflag'] AS l_rf,
             f['l_quantity'] AS f_qty, l['l_quantity'] AS l_qty,
             f['l_extendedprice'] AS f_ep, l['l_extendedprice'] AS l_ep,
             f_ok, l_ok
      FROM po),
    bnd AS (
      SELECT
        sum(CASE WHEN a.f_rf <> b.l_rf THEN 1 ELSE 0 END) AS bnd_rf,
        sum(CASE WHEN a.f_qty <> b.l_qty THEN 1 ELSE 0 END) AS bnd_qty,
        sum(CASE WHEN a.f_ep <> b.l_ep THEN 1 ELSE 0 END) AS bnd_ep,
        sum(CASE WHEN a.f_ok <> b.l_ok THEN 1 ELSE 0 END) AS bnd_ok
      FROM pox a JOIN pox b ON a.l_orderkey = b.l_orderkey + 1),
    nd AS (
      SELECT count(1) AS n,
             count(DISTINCT l_returnflag) AS ndv_rf,
             count(DISTINCT l_quantity) AS ndv_qty,
             count(DISTINCT l_extendedprice) AS ndv_ep,
             count(DISTINCT l_orderkey) AS ndv_ok
      FROM li),
    wide AS (SELECT * FROM nd CROSS JOIN within_ CROSS JOIN bnd),
    stacked AS (
      SELECT 'l_returnflag' AS column_name, 1 AS width_b, n, ndv_rf AS ndv,
             1 + win_rf + bnd_rf AS n_runs FROM wide
      UNION ALL
      SELECT 'l_quantity', 8, n, ndv_qty, 1 + win_qty + bnd_qty FROM wide
      UNION ALL
      SELECT 'l_extendedprice', 8, n, ndv_ep, 1 + win_ep + bnd_ep FROM wide
      UNION ALL
      SELECT 'l_orderkey', 8, n, ndv_ok, 1 + win_ok + bnd_ok FROM wide),
    est AS (
      SELECT column_name, CAST(n AS BIGINT) AS n, CAST(ndv AS BIGINT) AS ndv,
             CAST(n_runs AS BIGINT) AS n_runs,
             CAST(n * width_b AS BIGINT) AS plain_b,
             CAST(ndv * width_b + n * length(bin(ndv - 1)) // 8 AS BIGINT)
               AS dict_b,
             CAST(n_runs * (width_b + 4) AS BIGINT) AS rle_b
      FROM stacked)
    SELECT column_name, n, ndv, n_runs, plain_b, dict_b, rle_b,
           CASE WHEN plain_b <= dict_b AND plain_b <= rle_b THEN 'plain'
                WHEN dict_b <= rle_b THEN 'dict'
                ELSE 'rle' END AS advised
    FROM est ORDER BY column_name"""

  /** qbe: DATASET DIFF — the semantic two-version comparison a data-CI
    * gate runs before promoting a new snapshot (the "data diff" that
    * catches an upstream change silently rewriting a column): rows are
    * keyed, the versions full-outer join on the key, every row is
    * classified added / removed / changed / unchanged, and CHANGED
    * rows are drilled per column — which columns actually moved, and
    * how many rows each touched. The per-column drill is what turns
    * "7 rows changed" into "the lang column was rewritten" — the
    * actionable signal.
    *
    * The second version is simulated here with deterministic mutations
    * of `documents` (deletes at doc_id%37, column edits at %41, inserts
    * cloned at %53 — the three change classes), so the oracle rebuilds
    * both versions and replays the classification. On real data the
    * simulation is replaced by two snapshot reads; everything from the
    * join down is unchanged. Scale shape: ONE full-outer join on the
    * key (the versions co-shuffle) and one enum-bounded rollup; the
    * per-column comparisons are codegen'd null-safe equality, no
    * per-column joins. */
  def datasetDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir)
    val v2 = v1.where(col("doc_id") % 37 =!= 0)
      .withColumn("n_chars",
        when(col("doc_id") % 41 === 0, col("n_chars") + 1L)
          .otherwise(col("n_chars")))
      .withColumn("lang",
        when(col("doc_id") % 41 === 0, lit("xx")).otherwise(col("lang")))
      .unionByName(
        v1.where(col("doc_id") % 53 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L)
          .withColumn("source", lit("new")))
    val cols = Seq("text", "lang", "source", "n_chars")
    val a = v1.select(col("doc_id") +: (lit(true).as("a_present") +:
      cols.map(c => col(c).as(s"a_$c"))): _*)
    val b = v2.select(col("doc_id") +: (lit(true).as("b_present") +:
      cols.map(c => col(c).as(s"b_$c"))): _*)
    val j = a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("in_a", coalesce(col("a_present"), lit(false)))
      .withColumn("in_b", coalesce(col("b_present"), lit(false)))
    val flagged = cols.foldLeft(j)((df, c) =>
      df.withColumn(s"chg_$c",
        col("in_a") && col("in_b") && !(col(s"a_$c") <=> col(s"b_$c"))))
    flagged
      .withColumn("status",
        when(!col("in_a"), "added")
          .when(!col("in_b"), "removed")
          .when(cols.map(c => col(s"chg_$c")).reduce(_ || _), "changed")
          .otherwise("unchanged"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("chg_text"), 1L).otherwise(0L)).as("n_text_changed"),
        sum(when(col("chg_lang"), 1L).otherwise(0L)).as("n_lang_changed"),
        sum(when(col("chg_source"), 1L).otherwise(0L)).as("n_source_changed"),
        sum(when(col("chg_n_chars"), 1L).otherwise(0L)).as("n_chars_changed"))
      .orderBy("status")
  }

  /** DuckDB replay of [[datasetDiff]]: same simulated second version,
    * same full-outer classification, same per-column drill. */
  def datasetDiffOracle: String = """
    WITH v1 AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
    v2 AS (
      SELECT doc_id, text,
             CASE WHEN doc_id % 41 = 0 THEN 'xx' ELSE lang END AS lang,
             source,
             CASE WHEN doc_id % 41 = 0 THEN n_chars + 1 ELSE n_chars END
               AS n_chars
      FROM documents WHERE doc_id % 37 <> 0
      UNION ALL
      SELECT doc_id + 100000, text, lang, 'new', n_chars
      FROM documents WHERE doc_id % 53 = 0),
    j AS (
      SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
             a.doc_id IS NOT NULL AS in_a, b.doc_id IS NOT NULL AS in_b,
             in_a AND in_b AND a.text IS DISTINCT FROM b.text AS chg_text,
             in_a AND in_b AND a.lang IS DISTINCT FROM b.lang AS chg_lang,
             in_a AND in_b AND a.source IS DISTINCT FROM b.source
               AS chg_source,
             in_a AND in_b AND a.n_chars IS DISTINCT FROM b.n_chars
               AS chg_n_chars
      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
    st AS (
      SELECT *,
             CASE WHEN NOT in_a THEN 'added'
                  WHEN NOT in_b THEN 'removed'
                  WHEN chg_text OR chg_lang OR chg_source OR chg_n_chars
                    THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM j)
    SELECT status, CAST(count(1) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN chg_text THEN 1 ELSE 0 END) AS BIGINT)
             AS n_text_changed,
           CAST(sum(CASE WHEN chg_lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lang_changed,
           CAST(sum(CASE WHEN chg_source THEN 1 ELSE 0 END) AS BIGINT)
             AS n_source_changed,
           CAST(sum(CASE WHEN chg_n_chars THEN 1 ELSE 0 END) AS BIGINT)
             AS n_chars_changed
    FROM st GROUP BY 1 ORDER BY 1"""

  /** qbf: XML ROUND-TRIP — the last interchange format the warehouse
    * surface speaks (parquet q28, JSONL q29, ORC q2b, CSV q2o): write
    * `documents` through Spark 4's NATIVE xml source (`rowTag`-scoped
    * row elements, entity-escaped text), read it back with the explicit
    * schema, and aggregate the re-read rows. XML is where feeds from
    * legacy enterprise systems still arrive; the graded property is
    * FIDELITY through the escape/unescape cycle — `text` carries
    * whitespace and arbitrary characters, and `sum(n_chars)` over the
    * re-read rows only matches the oracle (which never leaves parquet)
    * if the writer's entity escaping and the reader's decoding are
    * exact inverses. Nulls are exercised too: `lang` is blanked for
    * doc_id%19 rows before the write (the writer OMITS the element,
    * the reader restores null), and the null count is a graded column.
    * Scale shape: one narrow write + one scan-side aggregate; XML decode
    * parallelizes per-file like any text source — at 100 TB you'd land
    * it once and convert to parquet (q28), never query XML in place. */
  def documentsXmlRoundTrip(spark: SparkSession, dir: String,
      path: String = graft.Fs.scratch("graft_warehouse_docs_xml")): DataFrame = {
    val src = Tables.documents(spark, dir).select(
      col("doc_id"),
      col("text"),
      when(col("doc_id") % 19 === 0, lit(null)).otherwise(col("lang"))
        .as("lang"),
      col("source"), col("n_chars"))
    src.write.mode("overwrite").format("xml")
      .option("rowTag", "doc").option("rootTag", "docs").save(path)
    spark.read.format("xml").option("rowTag", "doc")
      .schema(src.schema).load(path)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_lang_null"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")
  }

  /** qc4: BITEMPORAL RESOLUTION — two time axes, not one: q2d/q2h
    * track VALID time (when a fact was true in the world); an audited
    * warehouse also tracks TRANSACTION time (when the system learned
    * it), because "what did we believe on date T about date V?" is the
    * question every restatement audit, ML-feature backfill check, and
    * regulatory replay asks. The version store here carries orders
    * through three transaction batches — the initial load, a
    * RETROACTIVE price correction (tx 1, same valid_from: we mispriced
    * all along), and a PROSPECTIVE amendment (tx 2, valid 30 days
    * after orderdate: the price changes going forward). Resolution is
    * the standard bitemporal pick: among versions with tx ≤ tx_asof
    * and valid_from ≤ probe date, take the latest valid_from, then the
    * latest tx — one window argmax per (key, tx_asof, probe). The
    * graded 6-row panel (3 transaction beliefs × 2 valid-time probes)
    * shows exactly which corrections each belief state sees: the
    * retroactive fix appears from tx 1 at BOTH probes, the amendment
    * only from tx 2 AND only at the +45d probe. Scale: the version
    * table is append-only (the audit property); a real query pins one
    * (tx_asof, probe) — the 6-way cross here is the graded panel, not
    * the production access path. */
  def bitemporal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), to_date(col("o_orderdate")).as("od"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val v0 = base.select(col("k"), col("od").as("valid_from"),
      lit(0L).as("tx"), col("cents"))
    val v1 = base.where(col("k") % 19 === 0)
      .select(col("k"), col("od").as("valid_from"), lit(1L).as("tx"),
        (col("cents") + 1000L).as("cents")) // retroactive +10.00
    val v2 = base.where(col("k") % 23 === 0)
      .select(col("k"), date_add(col("od"), 30).as("valid_from"),
        lit(2L).as("tx"), (col("cents") + 5000L).as("cents")) // prospective
    val versions = v0.unionByName(v1).unionByName(v2)
    val panel = Seq((0L, 15), (0L, 45), (1L, 15), (1L, 45), (2L, 15),
      (2L, 45)).toDF("tx_asof", "probe_days")
    val resolved = versions.join(broadcast(panel),
        col("tx") <= col("tx_asof"))
      .join(base.select(col("k"), col("od")), Seq("k"))
      .withColumn("probe", expr("date_add(od, probe_days)"))
      .where(col("valid_from") <= col("probe"))
    val wPick = Window.partitionBy("k", "tx_asof", "probe_days")
      .orderBy(col("valid_from").desc, col("tx").desc)
    resolved.withColumn("rk", row_number().over(wPick))
      .where(col("rk") === 1)
      .groupBy("tx_asof", "probe_days")
      .agg(count(lit(1)).as("n_orders"),
        sum("cents").as("sum_cents"),
        sum(when(col("tx") === 1L, 1L).otherwise(0L)).as("n_from_correction"),
        sum(when(col("tx") === 2L, 1L).otherwise(0L)).as("n_from_amendment"))
      .orderBy("tx_asof", "probe_days")
  }

  /** DuckDB replay of [[bitemporal]] — same version store, same
    * (valid_from, tx) argmax. */
  val bitemporalOracle: String = """
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS od,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    versions AS (
      SELECT k, od AS valid_from, 0 AS tx, cents FROM base
      UNION ALL
      SELECT k, od, 1, cents + 1000 FROM base WHERE k % 19 = 0
      UNION ALL
      SELECT k, od + 30, 2, cents + 5000 FROM base
      WHERE k % 23 = 0),
    panel AS (
      SELECT * FROM (VALUES (0, 15), (0, 45), (1, 15), (1, 45), (2, 15),
        (2, 45)) AS t(tx_asof, probe_days)),
    resolved AS (
      SELECT v.*, p.tx_asof, p.probe_days,
             row_number() OVER (PARTITION BY v.k, p.tx_asof, p.probe_days
               ORDER BY v.valid_from DESC, v.tx DESC) AS rk
      FROM versions v
      JOIN panel p ON v.tx <= p.tx_asof
      JOIN base b ON v.k = b.k
      WHERE v.valid_from <= b.od + p.probe_days)
    SELECT CAST(tx_asof AS BIGINT) AS tx_asof,
           CAST(probe_days AS INTEGER) AS probe_days,
           CAST(count(1) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(sum(CASE WHEN tx = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_from_correction,
           CAST(sum(CASE WHEN tx = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_from_amendment
    FROM resolved WHERE rk = 1
    GROUP BY tx_asof, probe_days ORDER BY tx_asof, probe_days"""

  /** qc3: FILE METADATA COLUMNS — the `_metadata` hidden struct every
    * file source exposes (`file_path`, `file_name`, `file_size`,
    * `file_modification_time`, `row_index`): the provenance layer ops
    * tooling leans on ("which file did this bad row come from?")
    * without any pipeline carrying paths by hand. `documents` is
    * written hive-partitioned on shard = doc_id%4, read back selecting
    * `_metadata`, and graded per shard: row counts (pure %4
    * arithmetic), rows-per-file provenance consistency (every row in a
    * shard maps to exactly ONE data file here — `coalesce(1)` per
    * partition), positive file sizes, and `row_index` spanning exactly
    * 0..n−1 within the file (the sum identity n(n−1)/2 — the column
    * that gives every row a stable file-local identity for
    * dedup-by-provenance). Metadata columns are populated by the scan
    * itself — no extra IO at any scale. */
  def metadataColumns(spark: SparkSession, dir: String,
      path: String = graft.Fs.scratch("graft_warehouse_meta_shards")): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("shard", (col("doc_id") % 4).cast("long"))
      // hash-cluster on the partition column: every shard's rows land
      // in exactly one task, so each partition directory gets one file
      .repartition(4, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    val back = spark.read.parquet(path)
      .select(col("shard").cast("long").as("shard"), col("doc_id"),
        col("_metadata.file_path").as("fp"),
        col("_metadata.file_size").as("fsz"),
        col("_metadata.row_index").as("ri"))
    back.groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("fp")).as("n_files"),
        min(col("fsz") > 0L).as("sizes_positive"),
        (min("ri") === 0L &&
          sum("ri") === count(lit(1)) * (count(lit(1)) - 1) / 2)
          .as("row_index_complete"))
      .select(col("shard"), col("n_rows"),
        (col("n_files") === 1L).as("one_file_per_shard"),
        col("sizes_positive"), col("row_index_complete"))
      .orderBy("shard")
  }

  /** Oracle for [[metadataColumns]]: shard populations are doc_id%4
    * arithmetic; the metadata facts ride as pinned-true contracts. */
  val metadataColumnsOracle: String = """
    SELECT doc_id % 4 AS shard, CAST(count(1) AS BIGINT) AS n_rows,
           true AS one_file_per_shard, true AS sizes_positive,
           true AS row_index_complete
    FROM documents GROUP BY 1 ORDER BY 1"""

  /** qby: V-OPTIMAL HISTOGRAM — the histogram construction CBOs
    * actually want (Jagadish et al. '98): bucket boundaries chosen to
    * MINIMIZE total within-bucket frequency variance, not equi-width
    * convenience. Search is EXACT: l_quantity has V ≤ 50 distinct
    * values, so 4 buckets = 3 cut points = C(V−1,3) ≈ 18k candidate
    * plans — a three-way self-join over the prefix-summed frequency
    * frame, each plan costed in integers
    * (cost_e6(seg) = Σf²·1e6 − (Σf)²·1e6 div cnt, floors summed —
    * deterministic in any engine), argmin with (b1,b2,b3) tie-break.
    * The graded rows are the 4 winning buckets plus `beats_equiwidth`:
    * the optimal plan's cost must not exceed the equi-width baseline's
    * — the property that justifies paying for the search.
    *
    * Scale shape: the data reduces to V rows in one grouped scan;
    * the plan search is V³-bounded broadcast arithmetic, independent
    * of row count — exactly how an ANALYZE job builds per-column
    * histograms at 100 TB. */
  def voptimalHistogram(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("f"))
    val wOrd = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = freq
      .withColumn("i", row_number().over(Window.orderBy("v")))
      .withColumn("s", sum("f").over(wOrd))
      .withColumn("q", sum(col("f") * col("f")).over(wOrd))
      .cache()
    val tot = pre.groupBy().agg(max("i").as("nv"), max("s").as("st"),
      max("q").as("qt"))
    // exact integer cost of the 4 segments cut at (i1, i2, i3): Spark
    // `div` and DuckDB `//` agree on non-negative Longs (floor); the
    // Column `/` operator would be DOUBLE division — never use it here
    val costExpr =
      """  q1 * 1000000 - s1 * s1 * 1000000 div i1
        |+ (q2 - q1) * 1000000
        |  - (s2 - s1) * (s2 - s1) * 1000000 div (i2 - i1)
        |+ (q3 - q2) * 1000000
        |  - (s3 - s2) * (s3 - s2) * 1000000 div (i3 - i2)
        |+ (qt - q3) * 1000000
        |  - (st - s3) * (st - s3) * 1000000 div (nv - i3)""".stripMargin
    val b = pre.select(col("i"), col("s"), col("q"))
    val plans = b.as("b1")
      .join(broadcast(b.as("b2")), col("b2.i") > col("b1.i"))
      .join(broadcast(b.as("b3")), col("b3.i") > col("b2.i"))
      .crossJoin(broadcast(tot))
      .where(col("b3.i") < col("nv"))
      .select(col("b1.i").as("i1"), col("b1.s").as("s1"), col("b1.q").as("q1"),
        col("b2.i").as("i2"), col("b2.s").as("s2"), col("b2.q").as("q2"),
        col("b3.i").as("i3"), col("b3.s").as("s3"), col("b3.q").as("q3"),
        col("nv"), col("st"), col("qt"))
      .withColumn("cost_e6", expr(costExpr))
      .select(col("i1").as("c1"), col("i2").as("c2"), col("i3").as("c3"),
        col("cost_e6"))
    val wBest = Window.orderBy(col("cost_e6"), col("c1"), col("c2"), col("c3"))
    val best = plans.withColumn("rk", row_number().over(wBest))
      .where(col("rk") === 1).drop("rk")
    // equi-width baseline: cuts at floor(V/4), floor(V/2), floor(3V/4)
    val ewCost = tot
      .select(expr("nv div 4").as("e1"), expr("nv div 2").as("e2"),
        expr("nv * 3 div 4").as("e3"), col("nv"), col("st"), col("qt"))
      .join(broadcast(pre.select(col("i").as("e1"), col("s").as("s1"),
        col("q").as("q1"))), "e1")
      .join(broadcast(pre.select(col("i").as("e2"), col("s").as("s2"),
        col("q").as("q2"))), "e2")
      .join(broadcast(pre.select(col("i").as("e3"), col("s").as("s3"),
        col("q").as("q3"))), "e3")
      .withColumnRenamed("e1", "i1").withColumnRenamed("e2", "i2")
      .withColumnRenamed("e3", "i3")
      .select(expr(costExpr).as("ew_cost_e6"))
    // the 4 winning buckets as rows, with value ranges from the index
    val idx2v = pre.select(col("i"), col("v"))
    val cuts = best.crossJoin(broadcast(tot))
      .select(explode(array(
        struct(lit(1L).as("bucket"), lit(0L).as("lo_i"), col("c1").as("hi_i")),
        struct(lit(2L).as("bucket"), col("c1").as("lo_i"), col("c2").as("hi_i")),
        struct(lit(3L).as("bucket"), col("c2").as("lo_i"), col("c3").as("hi_i")),
        struct(lit(4L).as("bucket"), col("c3").as("lo_i"), col("nv").as("hi_i"))))
        .as("bk"), col("cost_e6"))
      .select(col("bk.bucket").as("bucket"), col("bk.lo_i").as("lo_i"),
        col("bk.hi_i").as("hi_i"), col("cost_e6"))
    cuts
      .join(broadcast(idx2v.select(col("i").as("hi_i"), col("v").as("hi_v"))),
        "hi_i")
      .join(broadcast(pre.select(col("i").as("hi_i2"), col("s").as("s_hi"),
        col("q").as("q_hi"))), col("hi_i2") === col("hi_i"))
      .join(broadcast(pre.select(col("i").as("lo_i2"), col("s").as("s_lo"),
        col("q").as("q_lo"))
        .unionByName(tot.select(lit(0L).as("lo_i2"), lit(0L).as("s_lo"),
          lit(0L).as("q_lo")))), col("lo_i2") === col("lo_i"))
      .crossJoin(broadcast(ewCost))
      .select(col("bucket"), col("hi_v").as("hi_value"),
        (col("hi_i") - col("lo_i")).as("n_values"),
        (col("s_hi") - col("s_lo")).as("freq_sum"),
        expr("""(q_hi - q_lo) * 1000000
               - (s_hi - s_lo) * (s_hi - s_lo) * 1000000 div (hi_i - lo_i)""")
          .as("bucket_cost_e6"),
        col("cost_e6").as("total_cost_e6"),
        (col("cost_e6") <= col("ew_cost_e6")).as("beats_equiwidth"))
      .orderBy("bucket")
  }

  /** DuckDB replay of [[voptimalHistogram]] — same prefix frame, same
    * 18k-plan enumeration, same integer costs. */
  val voptimalHistogramOracle: String = """
    WITH freq AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, count(1) AS f
      FROM lineitem GROUP BY 1),
    pre AS (
      SELECT v, f,
             row_number() OVER (ORDER BY v) AS i,
             sum(f) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS s,
             sum(f * f) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS q
      FROM freq),
    tot AS (SELECT max(i) AS nv, max(s) AS st, max(q) AS qt FROM pre),
    plans AS (
      SELECT b1.i AS c1, b2.i AS c2, b3.i AS c3,
             (b1.q * 1000000 - b1.s * b1.s * 1000000 // b1.i)
           + ((b2.q - b1.q) * 1000000
              - (b2.s - b1.s) * (b2.s - b1.s) * 1000000 // (b2.i - b1.i))
           + ((b3.q - b2.q) * 1000000
              - (b3.s - b2.s) * (b3.s - b2.s) * 1000000 // (b3.i - b2.i))
           + ((tot.qt - b3.q) * 1000000
              - (tot.st - b3.s) * (tot.st - b3.s) * 1000000
                // (tot.nv - b3.i)) AS cost_e6
      FROM pre b1 JOIN pre b2 ON b2.i > b1.i JOIN pre b3 ON b3.i > b2.i
      CROSS JOIN tot WHERE b3.i < tot.nv),
    best AS (
      SELECT * FROM plans ORDER BY cost_e6, c1, c2, c3 LIMIT 1),
    ewb AS (
      SELECT nv // 4 AS e1, nv // 2 AS e2, nv * 3 // 4 AS e3, nv, st, qt
      FROM tot),
    ewc AS (
      SELECT (p1.q * 1000000 - p1.s * p1.s * 1000000 // p1.i)
           + ((p2.q - p1.q) * 1000000
              - (p2.s - p1.s) * (p2.s - p1.s) * 1000000 // (p2.i - p1.i))
           + ((p3.q - p2.q) * 1000000
              - (p3.s - p2.s) * (p3.s - p2.s) * 1000000 // (p3.i - p2.i))
           + ((ewb.qt - p3.q) * 1000000
              - (ewb.st - p3.s) * (ewb.st - p3.s) * 1000000
                // (ewb.nv - p3.i)) AS ew_cost_e6
      FROM ewb JOIN pre p1 ON p1.i = ewb.e1
      JOIN pre p2 ON p2.i = ewb.e2 JOIN pre p3 ON p3.i = ewb.e3),
    cuts AS (
      SELECT 1 AS bucket, 0 AS lo_i, c1 AS hi_i, cost_e6 FROM best
      UNION ALL SELECT 2, c1, c2, cost_e6 FROM best
      UNION ALL SELECT 3, c2, c3, cost_e6 FROM best
      UNION ALL SELECT 4, c3, (SELECT nv FROM tot), cost_e6 FROM best),
    lo AS (
      SELECT i AS lo_i, s AS s_lo, q AS q_lo FROM pre
      UNION ALL SELECT 0, 0, 0)
    SELECT CAST(c.bucket AS BIGINT) AS bucket,
           hi.v AS hi_value,
           CAST(c.hi_i - c.lo_i AS BIGINT) AS n_values,
           CAST(hi.s - lo.s_lo AS BIGINT) AS freq_sum,
           CAST((hi.q - lo.q_lo) * 1000000
             - (hi.s - lo.s_lo) * (hi.s - lo.s_lo) * 1000000
               // (c.hi_i - c.lo_i) AS BIGINT)
             AS bucket_cost_e6,
           CAST(c.cost_e6 AS BIGINT) AS total_cost_e6,
           c.cost_e6 <= (SELECT ew_cost_e6 FROM ewc) AS beats_equiwidth
    FROM cuts c JOIN pre hi ON hi.i = c.hi_i JOIN lo ON lo.lo_i = c.lo_i
    ORDER BY bucket"""

  /** qbu: CORRUPT-RECORD CHANNELING — the PERMISSIVE-mode ingestion
    * contract every production JSON feed relies on: malformed records
    * must not kill the job (FAILFAST), must not silently vanish
    * (DROPMALFORMED), but land in `_corrupt_record` with the raw line
    * preserved for quarantine + replay. The feed here is the events
    * table serialized to JSONL with a PLANTED corruption (every
    * event_id%13 line truncated 3 chars — guaranteed-invalid JSON since
    * the closing brace dies), re-read with an explicit schema plus the
    * corrupt-record column. Graded: per-type GOOD-row counts (parsing
    * must be unaffected by sibling corruption), the `_corrupt` row
    * class with its count, and a quarantine-fidelity audit — every
    * corrupt raw line still ends with its original payload prefix, so
    * replay-after-fix is possible. Scale shape: line-parallel text
    * scan, one rollup; the corrupt channel costs one extra string
    * column only on bad rows. */
  def corruptRecords(spark: SparkSession, dir: String,
      path: String = graft.Fs.scratch("graft_warehouse_corrupt_jsonl")): DataFrame = {
    import org.apache.spark.sql.types._
    val ev = Tables.events(spark, dir).select(
      col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val lines = ev.select(
      when(col("event_id") % 13 === 0,
        expr("substr(to_json(struct(event_id, event_type, cents)), 1, " +
          "length(to_json(struct(event_id, event_type, cents))) - 3)"))
        .otherwise(to_json(struct(col("event_id"), col("event_type"),
          col("cents")))).as("value"))
    lines.write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("cents", LongType),
      StructField("_corrupt_record", StringType)))
    val back = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
    back
      .withColumn("cls", coalesce(col("event_type"), lit("_corrupt")))
      .groupBy("cls")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("cents"), lit(0L))).as("sum_cents"),
        sum(when(col("_corrupt_record").isNotNull &&
          col("_corrupt_record").startsWith("{\"event_id\":"), 1L)
          .otherwise(0L)).as("n_quarantined_replayable"))
      .orderBy("cls")
  }

  /** DuckDB replay of [[corruptRecords]] from the planted arithmetic:
    * %13 rows are corrupt (raw line preserved and replayable), the
    * rest parse with full fidelity. */
  val corruptRecordsOracle: String = """
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             event_id % 13 = 0 AS bad
      FROM events)
    SELECT CASE WHEN bad THEN '_corrupt' ELSE event_type END AS cls,
           CAST(count(1) AS BIGINT) AS n,
           CAST(sum(CASE WHEN bad THEN 0 ELSE cents END) AS BIGINT)
             AS sum_cents,
           CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined_replayable
    FROM ev GROUP BY 1 ORDER BY 1"""

  /** DuckDB replay of [[documentsXmlRoundTrip]] straight off parquet:
    * equality proves the XML cycle was lossless. */
  val documentsXmlRoundTripOracle: String = """
    SELECT source,
           CAST(count(1) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
           CAST(sum(CASE WHEN doc_id % 19 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lang_null,
           CAST(count(DISTINCT CASE WHEN doc_id % 19 <> 0 THEN lang END)
             AS BIGINT) AS n_langs
    FROM documents GROUP BY source ORDER BY source"""

  /** Distributed dense rank-by-key over unique keys: fixed-width
    * range buckets (order-preserving), parallel per-bucket
    * `row_number`, prefix-sum bucket offsets. The offset frame has
    * one row per OCCUPIED bucket — |keys|/width; when that itself
    * outgrows one partition, the same construction applies to the
    * bucket frame recursively (O(log_width n) levels — width 64k
    * covers 4×10⁹ keys in two). One level here. */
  private[graft] def denseRankByKey(df: DataFrame, key: String,
      bucketW: Long = 64L): DataFrame = {
    val local = df
      .withColumn("b", (col(key) / bucketW).cast("long"))
      .withColumn("lr", row_number().over(
        Window.partitionBy("b").orderBy(key)).cast("long"))
    val offsets = local.groupBy("b").agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum("n").over(Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("b", "off")
    local.join(broadcast(offsets), Seq("b"))
      .select(col(key), (col("off") + col("lr")).as("rk"))
  }

  /** qcb: SURROGATE-KEY ASSIGNMENT — the incremental-dimension-load
    * step every warehouse runs: arrivals get DENSE keys continuing
    * after the existing maximum, deterministically ordered by the
    * natural key. The textbook Spark answer — `row_number() OVER
    * (ORDER BY key)` — funnels ALL arrivals through ONE partition
    * (an unpartitioned WindowExec), the classic 100 TB bottleneck.
    * This operator uses the distributed dense-ID pattern instead:
    * (1) range-bucket arrivals by natural key (fixed-width buckets —
    * order-preserving by construction), (2) per-bucket local
    * `row_number` (a partitionBy window — parallel), (3) per-bucket
    * counts → prefix-sum offsets on the bucket frame (rows = #buckets,
    * a bounded broadcast), (4) sk = max_existing + offset(bucket) +
    * local_rank. No global sort, no single-partition fact window.
    * SourcesSpec proves assignment is IDENTICAL under adversarial
    * repartitioning and replays the closed form
    * sk(k) = max_sk + |{new keys < k}| + 1, which is also what the
    * oracle grades. Existing dim = suppliers with s_suppkey%4 != 0
    * (sk = rank by key); arrivals = the %4 == 0 cohort. */
  def surrogateKeys(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"))
    // the pre-existing dimension: keys assigned by an earlier load of
    // the same procedure (rank by natural key)
    val dim = denseRankByKey(sup.where(col("s_suppkey") % 4 =!= 0),
      "s_suppkey").withColumnRenamed("rk", "sk")
    val maxSk = dim.agg(max("sk").as("max_sk"))
    val assigned = denseRankByKey(
        sup.where(col("s_suppkey") % 4 === 0), "s_suppkey")
      .crossJoin(broadcast(maxSk))
      .select(col("s_suppkey"), (col("max_sk") + col("rk")).as("sk"),
        lit("new").as("src"))
    dim.select(col("s_suppkey"), col("sk"), lit("existing").as("src"))
      .unionByName(assigned)
      .orderBy("sk")
  }

  /** Closed-form replay: sk = rank over existing; arrivals continue
    * at max + rank-among-arrivals. */
  val surrogateKeysOracle: String = """
    WITH ex AS (
      SELECT s_suppkey,
             CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT) AS sk
      FROM supplier WHERE s_suppkey % 4 <> 0),
    mx AS (SELECT max(sk) AS max_sk FROM ex),
    nw AS (
      SELECT s_suppkey,
             CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT) AS r
      FROM supplier WHERE s_suppkey % 4 = 0)
    SELECT s_suppkey, sk, 'existing' AS src FROM ex
    UNION ALL
    SELECT nw.s_suppkey, mx.max_sk + nw.r AS sk, 'new' AS src
    FROM nw CROSS JOIN mx
    ORDER BY sk"""
}
