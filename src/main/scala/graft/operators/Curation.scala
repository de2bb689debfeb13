package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators — the selection/composition steps a
  * training-data pipeline runs after cleaning and dedup: deterministic
  * sampling, weighted mixture construction, and sequence packing.
  *
  * Scale design: everything here is STATELESS PER ROW (hash-based
  * sampling — no RNG state, no driver coordination, resample-stable
  * under repartitioning) or a per-shard window (packing), so the plans
  * are a narrow projection + one bounded shuffle. Spark's own
  * `sample()`/`randomSplit` are partition-order-sensitive; a 100 TB
  * pipeline wants membership decided by the ROW, not by where it
  * happens to sit — the same reason the reference's seeded randomSplit
  * (MovieLensRecommender.py:88) is replaced by hash-gating here.
  */
object Curation {

  /** Deterministic per-row uniform in [0, 1): TWO Lehmer / Park-Miller
    * LCG steps on the id — u = (id·48271² mod (2^31−1)) / (2^31−1),
    * computed as two sequential multiplications. One step is NOT enough:
    * it is monotone for id < m/48271 ≈ 44k, so small-id corpora would
    * sample the low end wholesale instead of uniformly. Operands are
    * reduced mod 2^31−1 before each multiply so every intermediate stays
    * ≤ ~1e14, far inside BIGINT in every engine (a 2654435761-style
    * 32-bit multiplier would overflow 64-bit at 100 TB id ranges, and
    * engines disagree on overflow semantics — Spark wraps, DuckDB
    * promotes/errors). */
  val LehmerM = 2147483647L // 2^31 − 1, prime
  def hashUniform(id: Column): Column = {
    val step1 = pmod(id, lit(LehmerM)) * lit(48271L) % lit(LehmerM)
    (step1 * lit(48271L) % lit(LehmerM)).cast("double") / lit(LehmerM.toDouble)
  }

  /** Weighted mixture sampling: each source stratum (here: language)
    * keeps rows at its own rate — how a training mixture is actually
    * composed (e.g. upsample low-resource languages, downsample crawl
    * bulk). Membership is pure arithmetic on (doc_id, lang), so the
    * sample is reproducible across runs, partitionings, and engines.
    * Emits per-stratum totals, sampled counts, and the realized rate
    * next to the target rate. */
  def weightedSample(spark: SparkSession, dir: String,
      weights: Map[String, Double] = Map(
        "de" -> 0.05, "en" -> 0.20, "es" -> 0.10, "fr" -> 0.15)): DataFrame = {
    val rate = weights.foldLeft(lit(0.0)) { case (acc, (lang, w)) =>
      when(col("lang") === lang, lit(w)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (hashUniform(col("doc_id")) < rate).as("keep"), rate.as("rate"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
        round(first(col("rate")), 2).as("target_rate"),
        round(sum(when(col("keep"), 1.0).otherwise(0.0)) / count(lit(1)), 4)
          .as("realized_rate"))
      .orderBy("lang")
  }

  /** Deterministic train/val/test split by hash gate — same u per row
    * drives disjoint threshold bands, so splits are exhaustive,
    * non-overlapping, and stable under any repartitioning (none of
    * which `randomSplit` guarantees across engines/layouts). */
  def hashSplit(docs: DataFrame, id: String = "doc_id",
      trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    val u = hashUniform(col(id))
    docs.withColumn("split",
      when(u < trainFrac, "train")
        .when(u < trainFrac + valFrac, "val")
        .otherwise("test"))
  }

  /** q4b: GROUP-LEVEL (leakage-safe) train/test split — the ML-hygiene
    * form of splitting interaction data: the gate hashes the GROUP key
    * (user), not the row, so every event of a user lands in exactly one
    * split and no user's behavior straddles the boundary (a row-level
    * split would let a model see test users' history at train time —
    * the classic recommender-evaluation leak). Same Lehmer arithmetic
    * as q46, so membership is reproducible across runs, partitionings,
    * and engines, and the assignment is a pure per-row function — no
    * shuffle to decide membership, only the audit aggregates shuffle.
    * `leak_free` is COMPUTED (max per-user distinct-split count == 1),
    * not asserted: a broken gate flips it and fails the oracle hash. */
  def groupSplit(spark: SparkSession, dir: String,
      trainFrac: Double = 0.8): DataFrame = {
    val tagged = Tables.events(spark, dir)
      .withColumn("split",
        when(hashUniform(col("user_id")) < trainFrac, lit("train"))
          .otherwise(lit("test")))
    val leak = tagged.groupBy("user_id")
      .agg(countDistinct("split").as("n_splits"))
      .agg(max("n_splits").as("max_splits"))
    tagged.groupBy("split")
      .agg(
        countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .join(broadcast(leak))
      .withColumn("leak_free", col("max_splits") === 1L)
      .drop("max_splits")
      .orderBy("split")
  }

  /** q4d: fixed-budget CHUNKING with overlap — the context-window prep
    * step for RAG indexing and long-document pretraining: each document
    * is cut into windows of `chunkTokens` tokens advancing by
    * `chunkTokens − overlap`, so consecutive chunks share `overlap`
    * tokens of context. The last window keeps whatever remains (short
    * docs yield exactly one chunk).
    *
    * Scale: a NARROW generator — tokenize once, `explode` a per-row
    * `sequence(0, n_chunks−1)`, slice the cached token array per chunk.
    * No shuffle anywhere (the final orderBy is presentation for the
    * oracle); at 100 TB this runs entirely inside the scan stage and
    * output volume is input·(1 + overlap/stride). Emits per-chunk
    * arithmetic (start offset, token count) plus `chunk_chars`, the
    * reassembled chunk's character length — a value only obtainable by
    * actually slicing the token array, which is what pins the oracle
    * replay to the real slice semantics. */
  def chunkDocuments(spark: SparkSession, dir: String,
      chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap / $chunkTokens")
    val stride = chunkTokens - overlap
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // ceil((n − overlap) / stride) windows, min 1: the last window
      // starts while > overlap tokens remain, so no chunk is pure overlap
      .withColumn("n_chunks",
        greatest(lit(1L),
          ceil((col("n_tokens") - overlap).cast("double") / stride).cast("long")))
      .select(col("doc_id"), col("toks"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * stride)
      .withColumn("n_chunk_tokens",
        least(lit(chunkTokens.toLong), col("n_tokens") - col("start_tok")))
      .withColumn("chunk_chars",
        length(concat_ws(" ", slice(col("toks"),
          (col("start_tok") + 1).cast("int"),
          col("n_chunk_tokens").cast("int")))).cast("long"))
      .select("doc_id", "chunk_id", "start_tok", "n_chunk_tokens", "chunk_chars")
      .orderBy("doc_id", "chunk_id")
  }

  /** q4g: TEMPERATURE-SCALED mixture sampling — the multilingual
    * balancing rule LLM corpora use (the α-smoothed multinomial from
    * XLM-R / mT5): sampling probability p_l ∝ (n_l/N)^α flattens the
    * language distribution, upweighting low-resource strata. α = 0.5
    * DELIBERATELY, computed as sqrt: IEEE sqrt is correctly rounded in
    * every engine while pow(x, 0.5) need not be — the oracle replays
    * the same arithmetic bit-for-bit. The per-stratum keep rate
    * r_l = min(1, S·p_l/n_l) (S = target corpus size) is ROUNDED to 6
    * decimals before gating so the u < r comparison cannot flip on a
    * ulp; membership then rides the same stateless Lehmer gate as q46.
    * Plan: one tiny aggregate (per-lang counts → rates, broadcast
    * back) + one narrow gated pass — no data shuffle at 100 TB beyond
    * the count. */
  def temperatureMixture(spark: SparkSession, dir: String,
      targetFraction: Double = 0.3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    // Σ_l sqrt(n_l) and N as a 1-row frame. Summation order over the
    // handful of strata may differ between engines by ulps; every
    // value derived from it is rounded to 6 decimals before use
    // (gating) or emission, which absorbs that
    val norm = counts.agg(
      sum(sqrt(col("n_l"))).as("z"),
      sum(col("n_l")).as("n_total"))
    val rates = counts.join(broadcast(norm))
      .select(col("lang"), col("n_l"), col("n_total"),
        (sqrt(col("n_l")) / col("z")).as("p_temp"))
      .withColumn("rate",
        round(least(lit(1.0),
          lit(targetFraction) * col("n_total") * col("p_temp") / col("n_l")), 6))
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(rates), "lang")
      .withColumn("keep", hashUniform(col("doc_id")) < col("rate"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(first(col("p_temp")), 6).as("p_temp"),
        round(first(col("rate")), 6).as("rate"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy("lang")
  }

  /** q4e: the CURATION FUNNEL — the composed end-to-end shape of a
    * training-data cleaning pipeline (C4/Gopher/FineWeb-style): each
    * document passes a cascade of gates, and the graded output is the
    * per-stage retention table — exactly the artifact a data-curation
    * run reports. Gates, in order: minimum length, known language,
    * token diversity, stopword-ratio cap, first-occurrence per
    * NORMALIZED text (the [[Dedup.normalizeText]] chain).
    *
    * Scale: gates 1–4 are narrow per-row codegen predicates computed in
    * one projection pass; only the canonical gate shuffles (one window
    * over the normalized text, the same exchange exact dedup pays), and
    * the funnel aggregate is a scalar map-side-combined fold. Stage
    * counts are CUMULATIVE conjunctions, so the table reads as a
    * funnel: every stage ≤ the previous. Thresholds compare ROUNDED
    * scores so the booleans replay bit-for-bit in the oracle. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("double"))
      .withColumn("diversity",
        round(size(array_distinct(col("toks"))) / col("n_tokens"), 4))
      .withColumn("stop_ratio",
        round(size(filter(col("toks"),
          t => t.isin("the", "a", "of", "and", "to", "in"))) / col("n_tokens"), 4))
      .withColumn("norm", Dedup.normalizeText(col("text")))
      .withColumn("first_of_norm",
        row_number().over(Window.partitionBy("norm").orderBy("doc_id")) === 1)
    val g1 = col("n_chars") >= 100
    val g2 = col("lang").isin("de", "en", "es", "fr")
    val g3 = col("diversity") >= 0.35
    val g4 = col("stop_ratio") <= 0.15
    val g5 = col("first_of_norm")
    def surv(gates: Column*): Column =
      sum(when(gates.reduce(_ && _), 1L).otherwise(0L))
    docs
      .agg(
        count(lit(1)).as("s0"),
        surv(g1).as("s1"),
        surv(g1, g2).as("s2"),
        surv(g1, g2, g3).as("s3"),
        surv(g1, g2, g3, g4).as("s4"),
        surv(g1, g2, g3, g4, g5).as("s5"))
      .selectExpr(
        "stack(6, " +
          "0, 'all', s0, round(s0/s0, 4), " +
          "1, 'min_length', s1, round(s1/s0, 4), " +
          "2, 'lang_known', s2, round(s2/s0, 4), " +
          "3, 'diverse', s3, round(s3/s0, 4), " +
          "4, 'stopword_ok', s4, round(s4/s0, 4), " +
          "5, 'canonical', s5, round(s5/s0, 4)" +
          ") as (stage, gate, n_docs, retained)")
      .orderBy("stage")
  }

  /** Sequence packing: assign documents to fixed token-budget context
    * windows ("bins") by cumulative token offset — the pretraining step
    * that concatenates documents into model-context-length rows. A
    * document starts in the bin its running token offset falls in
    * (offset-based packing; long documents spill into the next bin,
    * counted by `n_overflow`).
    *
    * Scale: packing is per (stratum, shard) — the window partitions on
    * (lang, doc_id mod numShards), so parallelism is numShards per
    * stratum instead of one sequential scan per language (a single
    * global cumulative sum cannot be parallelized; sharding is how real
    * packers scale, at the cost of at most one underfilled final bin
    * per shard). Deterministic: shard and order are functions of
    * doc_id. Output: one row per (lang, shard, bin) with fill stats. */
  def packSequences(spark: SparkSession, dir: String,
      binTokens: Int = 4096, numShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        pmod(col("doc_id"), lit(numShards.toLong)).as("shard"))
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("bin", floor((col("cum") - col("n_tokens")) / binTokens))
      .groupBy("lang", "shard", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bin_tokens"),
        sum(when(col("cum") - (col("bin") + 1) * binTokens > 0, 1L).otherwise(0L))
          .as("n_overflow"))
      .orderBy("lang", "shard", "bin")
  }

  /** q4i: deterministic STRATIFIED SAMPLING to a balanced corpus — every
    * language downsampled to the size of the smallest stratum. The
    * membership gate is the shared Lehmer hash
    * `hashUniform(doc_id) < target/|stratum|` — decided by the row alone
    * (resample-stable, no RNG state, no `sampleBy` partition-order
    * sensitivity), equidistributed whatever the id range, and
    * double-precision-granular (an earlier `mod 1000` gate floored to 0
    * for any stratum >1000× the smallest, silently sampling nothing —
    * the hash gate has no such floor). The per-stratum fractions come
    * from a WINDOW over the stratum counts, not a driver-side collect:
    * the whole operator is two aggregates and a broadcast-sized join at
    * any scale. The audit row per stratum (total, target, achieved) is
    * the operator's contract — achieved tracks target only as well as
    * the hash equidistributes, which the output makes visible instead
    * of assuming. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    val withTarget = counts.withColumn("target", min(col("n_total")).over(all))
      .withColumn("frac", col("target").cast("double") / col("n_total"))
    val sampled = docs.join(broadcast(withTarget), "lang")
      .where(hashUniform(col("doc_id")) < col("frac"))
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
    withTarget.join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_total"), col("target"),
        round(col("frac"), 8).as("target_frac"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("lang")
  }

  def stratifiedSampleOracle: String = """
    WITH counts AS (
      SELECT lang, count(1) AS n_total FROM documents GROUP BY lang),
    gated AS (
      SELECT lang, n_total, min(n_total) OVER () AS target,
             CAST(min(n_total) OVER () AS DOUBLE) / n_total AS frac
      FROM counts),
    sampled AS (
      SELECT d.lang, count(1) AS n_sampled
      FROM documents d JOIN gated g ON d.lang = g.lang
      WHERE CAST((((d.doc_id % 2147483647) * 48271 % 2147483647) * 48271)
              % 2147483647 AS DOUBLE) / 2147483647 < g.frac
      GROUP BY d.lang)
    SELECT g.lang, g.n_total, g.target,
           round(g.frac, 8) AS target_frac,
           coalesce(s.n_sampled, 0) AS n_sampled
    FROM gated g LEFT JOIN sampled s ON g.lang = s.lang
    ORDER BY g.lang"""

  /** q4x: EXACT-k per-stratum sample — the rate-based gates (q46/q4i)
    * hit their targets only in EXPECTATION; eval-set construction
    * contracts "exactly k docs per language". Rank every row by the
    * SAME double-step Lehmer permutation as [[hashUniform]] kept in
    * exact integers (no double division, so no rounding seam), take
    * `row_number() <= k` per stratum with doc_id as the total-order
    * tie-break. The rank filter is the form Catalyst rewrites with
    * WindowGroupLimit (asserted in CurationSpec): each map task prunes
    * to its LOCAL top-k per stratum before the exchange, so the
    * shuffle carries O(k · strata · tasks) rows, not the corpus — the
    * distributed replacement for driver-side reservoir sampling. The
    * rank rides along in the output: the graded row pins WHY each doc
    * was chosen, not just which. */
  def exactKSample(spark: SparkSession, dir: String, k: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rank = pmod(col("doc_id"), lit(LehmerM)) * lit(48271L) % lit(LehmerM) *
      lit(48271L) % lit(LehmerM)
    val w = Window.partitionBy("lang").orderBy("rk", "doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), rank.as("rk"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("lang"), col("rn"), col("doc_id"), col("n_chars"), col("rk"))
      .orderBy("lang", "rn")
  }

  def exactKSampleOracle: String = """
    WITH r AS (
      SELECT lang, doc_id, n_chars,
             (doc_id % 2147483647) * 48271 % 2147483647 * 48271
               % 2147483647 AS rk
      FROM documents),
    n AS (
      SELECT lang, doc_id, n_chars, rk,
             row_number() OVER (PARTITION BY lang ORDER BY rk, doc_id) AS rn
      FROM r)
    SELECT lang, CAST(rn AS INTEGER) AS rn, doc_id, n_chars, rk
    FROM n WHERE rn <= 7 ORDER BY lang, rn"""

  /** q4y: NEGATIVE SAMPLING for implicit feedback — the construction
    * every implicit-feedback recommender (ALS-implicit, BPR, two-tower)
    * trains on: observed (user, item) interactions are the positives,
    * and k items the user never touched are sampled as negatives. The
    * scale-critical point is what this operator does NOT do: it never
    * materializes users × items. Each user gets a bounded TRIAL spine
    * (explode of `trials` slots); the double-step Lehmer hash of
    * (user, trial) maps each slot straight to a candidate item id —
    * legal because partkeys are dense 0..N−1 (asserted in spec) —
    * positives reject candidates via one left_anti join, colliding
    * trials collapse to their first slot, and `row_number() <= k` over
    * trial order keeps the earliest k survivors (planned as
    * WindowGroupLimit). Work is O(users · trials) with one anti-join
    * shuffle at any catalog size; the trial spine is the distributed
    * form of per-row rejection sampling. N arrives as a 1-row
    * broadcast (PlanInvariants-allowlisted), never a driver collect. */
  def negativeSampling(spark: SparkSession, dir: String,
      trials: Int = 40, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val positives = Tables.orders(spark, dir)
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey").as("custkey"), col("o_orderkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("custkey"), col("l_partkey").as("partkey"))
      .distinct()
    val users = positives.select("custkey").distinct()
    val nItems = Tables.part(spark, dir).agg(count(lit(1)).as("n_items"))
    val seed = col("custkey") * lit(1009L) + col("trial")
    val mixed = pmod(seed, lit(LehmerM)) * lit(48271L) % lit(LehmerM) *
      lit(48271L) % lit(LehmerM)
    val cand = users.crossJoin(broadcast(nItems))
      .withColumn("trial", explode(sequence(lit(0), lit(trials - 1))))
      .withColumn("partkey", mixed % col("n_items"))
    val negs = cand.join(positives, Seq("custkey", "partkey"), "left_anti")
      .groupBy("custkey", "partkey").agg(min("trial").as("trial"))
    val w = Window.partitionBy("custkey").orderBy("trial")
    negs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("custkey"), col("rk"), col("partkey"),
        col("trial").cast("long").as("trial"))
      .orderBy("custkey", "rk")
  }

  def negativeSamplingOracle: String = """
    WITH n AS (SELECT count(1) AS n_items FROM part),
    pos AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_custkey % 100 = 0),
    u AS (SELECT DISTINCT custkey FROM pos),
    cand AS (
      SELECT u.custkey, t.trial,
             (u.custkey * 1009 + t.trial) % 2147483647 * 48271 % 2147483647
               * 48271 % 2147483647 % n.n_items AS partkey
      FROM u CROSS JOIN n
      CROSS JOIN (SELECT unnest(range(0, 40)) AS trial) t),
    neg AS (
      SELECT c.custkey, c.partkey, min(c.trial) AS trial
      FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM pos p
        WHERE p.custkey = c.custkey AND p.partkey = c.partkey)
      GROUP BY c.custkey, c.partkey),
    r AS (
      SELECT custkey, partkey, trial,
             row_number() OVER (PARTITION BY custkey ORDER BY trial) AS rk
      FROM neg)
    SELECT custkey, CAST(rk AS INTEGER) AS rk, partkey, trial
    FROM r WHERE rk <= 5 ORDER BY custkey, rk"""

  /** The q4h/q4o candidate pipeline, defined ONCE (the affineLinkEdges
    * rule: two graded queries built on "the same pairs" must share the
    * definition or they silently drift): per-doc DISTINCT alpha tokens
    * (≥3 chars) and the canonical a<b co-occurrence supports. */
  private[operators] def docDistinctTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("t"))
      .where(length(col("t")) >= 3)
      .distinct()

  private[operators] def pairSupports(toks: DataFrame, minSupport: Long): DataFrame =
    toks.as("t1").join(toks.as("t2"),
        col("t1.doc_id") === col("t2.doc_id") && col("t1.t") < col("t2.t"))
      .groupBy(col("t1.t").as("tok_a"), col("t2.t").as("tok_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)

  /** q4h: FREQUENT TOKEN PAIRS — co-occurrence mining (the Apriori/
    * market-basket 2-itemset pass) over the documents table: tokens
    * distinct-ed per document, paired within the document (canonical
    * a < b order), support-counted, thresholded.
    *
    * Scale shape: the pair fan-out is Σ(tokens-per-doc choose 2), which
    * a length cap per document bounds (the classic Apriori guard; here
    * the fixture's docs are short). At 100 TB the 2-stage refinement is
    * to first count 1-item support and keep only frequent tokens before
    * pairing (downward closure) — that is one extra aggregate + semi
    * join in this same plan shape. The tokenizer is the shared
    * `[^a-z]+` split so the DuckDB oracle tokenizes identically. */
  def frequentPairs(spark: SparkSession, dir: String,
      minSupport: Long = 50L): DataFrame =
    pairSupports(docDistinctTokens(spark, dir), minSupport)
      .orderBy(desc("support"), col("tok_a"), col("tok_b"))

  def frequentPairsOracle: String = """
    WITH toks AS (
      SELECT DISTINCT doc_id, t FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
        FROM documents)
      WHERE length(t) >= 3)
    SELECT t1.t AS tok_a, t2.t AS tok_b, count(1) AS support
    FROM toks t1 JOIN toks t2
      ON t1.doc_id = t2.doc_id AND t1.t < t2.t
    GROUP BY 1, 2
    HAVING count(1) >= 50
    ORDER BY support DESC, tok_a, tok_b"""

  /** q4u: FREQUENT TRIPLES — the next A-priori level above q4h, and
    * the level where downward-closure pruning stops being optional:
    * the raw per-doc 3-way token self-join is k³/6 per document (a
    * stopword-dense doc detonates it), but any item in a frequent
    * triple must already sit in a frequent PAIR, so the join runs over
    * the corpus RESTRICTED to pair-frequent items — the candidate set
    * the A-priori theorem licenses, shrinking k from "all tokens" to
    * "pair survivors" before any 3-way fan-out. Both engines apply the
    * same restriction (it provably drops no result rows; the DuckDB
    * oracle needs it for tractability exactly the way a 100 TB run
    * does). Each graded row carries the triple's three SUB-PAIR
    * supports and the closure verdicts support ≤ min(sub-pairs) — the
    * downward-closure theorem folded into the hash (q4l pattern). */
  def frequentTriples(spark: SparkSession, dir: String,
      minSupport: Long = 40L): DataFrame = {
    val toks = docDistinctTokens(spark, dir).cache() // feeds pairs + the 3-way join
    val pairs = pairSupports(toks, minSupport).cache()
    val items = pairs.select(col("tok_a").as("t"))
      .union(pairs.select(col("tok_b").as("t"))).distinct()
    val ftoks = toks.join(broadcast(items), "t")
      .select(col("doc_id"), col("t"))
    val triples = ftoks.as("a")
      .join(ftoks.as("b"), col("a.doc_id") === col("b.doc_id")
        && col("a.t") < col("b.t"))
      .join(ftoks.as("c"), col("b.doc_id") === col("c.doc_id")
        && col("b.t") < col("c.t"))
      .groupBy(col("a.t").as("tok_a"), col("b.t").as("tok_b"),
        col("c.t").as("tok_c"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
    triples
      .join(broadcast(pairs.select(col("tok_a"), col("tok_b"),
        col("support").as("sup_ab"))), Seq("tok_a", "tok_b"))
      .join(broadcast(pairs.select(col("tok_a"), col("tok_b").as("tok_c"),
        col("support").as("sup_ac"))), Seq("tok_a", "tok_c"))
      .join(broadcast(pairs.select(col("tok_a").as("tok_b"),
        col("tok_b").as("tok_c"), col("support").as("sup_bc"))),
        Seq("tok_b", "tok_c"))
      .select(col("tok_a"), col("tok_b"), col("tok_c"), col("support"),
        col("sup_ab"), col("sup_ac"), col("sup_bc"),
        (col("support") <= least(col("sup_ab"), col("sup_ac"), col("sup_bc")))
          .as("closure_ok"))
      .orderBy(desc("support"), col("tok_a"), col("tok_b"), col("tok_c"))
  }

  def frequentTriplesOracle: String = """
    WITH toks AS (
      SELECT DISTINCT doc_id, t FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
        FROM documents)
      WHERE length(t) >= 3),
    pairs AS (
      SELECT t1.t AS tok_a, t2.t AS tok_b, count(1) AS support
      FROM toks t1 JOIN toks t2
        ON t1.doc_id = t2.doc_id AND t1.t < t2.t
      GROUP BY 1, 2
      HAVING count(1) >= 40),
    items AS (
      SELECT DISTINCT t FROM (
        SELECT tok_a AS t FROM pairs UNION ALL SELECT tok_b FROM pairs)),
    ft AS (SELECT toks.doc_id, toks.t FROM toks JOIN items USING (t)),
    tri AS (
      SELECT a.t AS tok_a, b.t AS tok_b, c.t AS tok_c,
             count(1) AS support
      FROM ft a
      JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t
      JOIN ft c ON b.doc_id = c.doc_id AND b.t < c.t
      GROUP BY 1, 2, 3
      HAVING count(1) >= 40)
    SELECT tri.tok_a, tri.tok_b, tri.tok_c,
           CAST(tri.support AS BIGINT) AS support,
           CAST(ab.support AS BIGINT) AS sup_ab,
           CAST(ac.support AS BIGINT) AS sup_ac,
           CAST(bc.support AS BIGINT) AS sup_bc,
           tri.support <= least(ab.support, ac.support, bc.support)
             AS closure_ok
    FROM tri
    JOIN pairs ab ON tri.tok_a = ab.tok_a AND tri.tok_b = ab.tok_b
    JOIN pairs ac ON tri.tok_a = ac.tok_a AND tri.tok_c = ac.tok_b
    JOIN pairs bc ON tri.tok_b = bc.tok_a AND tri.tok_c = bc.tok_b
    ORDER BY 4 DESC, 1, 2, 3"""

  /** q4o: POINTWISE MUTUAL INFORMATION over q4h's co-occurring pairs —
    * support alone conflates "associated" with "both common"; PMI
    * `ln(P(a,b) / P(a)P(b))` is the association score a phrase-mining /
    * tokenizer-merge pipeline actually ranks by. Document frequencies
    * and supports are exact integers off the SAME cached per-doc
    * distinct-token projection (one corpus pass feeds the df aggregate
    * and the pair join); the PMI argument `support·N / (df_a·df_b)` is
    * an exact integer ratio, so both engines hand `ln` the identical
    * double — the q1n integer-input encoding. N rides a broadcast
    * 1-row aggregate (allowlisted bounded side). */
  def pmiPairs(spark: SparkSession, dir: String,
      minSupport: Long = 50L): DataFrame = {
    val toks = docDistinctTokens(spark, dir).cache() // feeds df, N, and pairs
    val df = toks.groupBy("t").agg(count(lit(1)).as("df"))
    val nDocs = toks.agg(countDistinct(col("doc_id")).as("n_docs"))
    pairSupports(toks, minSupport)
      .join(df.select(col("t").as("tok_a"), col("df").as("df_a")), "tok_a")
      .join(df.select(col("t").as("tok_b"), col("df").as("df_b")), "tok_b")
      .crossJoin(broadcast(nDocs))
      .withColumn("pmi_e6",
        floor(log(col("support").cast("double") * col("n_docs")
          / (col("df_a") * col("df_b"))) * 1e6 + 0.5))
      .select("tok_a", "tok_b", "support", "df_a", "df_b", "n_docs", "pmi_e6")
      .orderBy("tok_a", "tok_b")
  }

  def pmiPairsOracle: String = """
    WITH toks AS (
      SELECT DISTINCT doc_id, t FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
        FROM documents)
      WHERE length(t) >= 3),
    nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
    df AS (SELECT t, count(1) AS df FROM toks GROUP BY t),
    p AS (
      SELECT t1.t AS tok_a, t2.t AS tok_b, count(1) AS support
      FROM toks t1 JOIN toks t2 ON t1.doc_id = t2.doc_id AND t1.t < t2.t
      GROUP BY 1, 2 HAVING count(1) >= 50)
    SELECT p.tok_a, p.tok_b,
           CAST(p.support AS BIGINT) AS support,
           CAST(da.df AS BIGINT) AS df_a,
           CAST(db.df AS BIGINT) AS df_b,
           CAST(nn.n_docs AS BIGINT) AS n_docs,
           CAST(floor(ln(CAST(p.support AS DOUBLE) * nn.n_docs
             / (da.df * db.df)) * 1e6 + 0.5) AS BIGINT) AS pmi_e6
    FROM p JOIN df da ON p.tok_a = da.t
           JOIN df db ON p.tok_b = db.t
           CROSS JOIN nn
    ORDER BY p.tok_a, p.tok_b"""

  /** q4m: PADDING-EFFICIENCY AUDIT for length-bucketed batching — the
    * arithmetic behind every fixed-shape training batcher: docs are
    * assigned to 64-token buckets, each bucket's batch shape pads to
    * the bucket cap, and the audit prices the waste. Per bucket:
    * docs, real tokens, padded tokens (n·cap), waste in ppm; every row
    * also carries the UNBUCKETED waste (pad everything to the global
    * cap — what naive batching costs) so the table reads as the
    * bucketing win. All quantities are exact integers off one scan +
    * one tiny aggregate; the two global scalars ride a 1-row window. */
  def paddingAudit(spark: SparkSession, dir: String,
      bucketWidth: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(
      size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    val tot = Window.partitionBy()
    docs.withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .withColumn("cap", (col("bucket") + 1) * bucketWidth)
      .withColumn("padded_tokens", col("n_docs") * col("cap"))
      .withColumn("waste_ppm",
        floor((col("padded_tokens") - col("total_tokens")).cast("double")
          / col("padded_tokens") * 1e6 + 0.5))
      .withColumn("global_waste_ppm",
        floor((sum(col("n_docs")).over(tot) * max(col("cap")).over(tot)
            - sum(col("total_tokens")).over(tot)).cast("double")
          / (sum(col("n_docs")).over(tot) * max(col("cap")).over(tot))
          * 1e6 + 0.5))
      .select("bucket", "n_docs", "total_tokens", "cap", "padded_tokens",
        "waste_ppm", "global_waste_ppm")
      .orderBy("bucket")
  }

  def paddingAuditOracle: String = """
    WITH docs AS (
      SELECT len(string_split(text, ' ')) AS n_tokens FROM documents),
    b AS (
      SELECT n_tokens // 64 AS bucket, count(1) AS n_docs,
             sum(n_tokens) AS total_tokens
      FROM docs GROUP BY 1),
    e AS (
      SELECT bucket, n_docs, total_tokens,
             (bucket + 1) * 64 AS cap,
             n_docs * (bucket + 1) * 64 AS padded_tokens
      FROM b)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(cap AS BIGINT) AS cap,
           CAST(padded_tokens AS BIGINT) AS padded_tokens,
           CAST(floor(CAST(padded_tokens - total_tokens AS DOUBLE)
             / padded_tokens * 1e6 + 0.5) AS BIGINT) AS waste_ppm,
           CAST(floor(CAST(sum(n_docs) OVER () * max(cap) OVER ()
               - sum(total_tokens) OVER () AS DOUBLE)
             / (sum(n_docs) OVER () * max(cap) OVER ())
             * 1e6 + 0.5) AS BIGINT) AS global_waste_ppm
    FROM e ORDER BY bucket"""

  /** q8e: DSIR-STYLE IMPORTANCE RESAMPLING — hashed-n-gram importance
    * weights for data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling": estimate target and
    * raw distributions over a HASHED feature space, weight each raw
    * document by the likelihood ratio, sample by weight). Here the
    * feature space is `tokenHash mod nBuckets` unigram buckets (the
    * paper's hashed n-grams with n=1), the TARGET is the corpus's
    * English slice, the RAW pool is everything — "select from the crawl
    * what looks like the target domain", the selection step that sits
    * between dedup and training-mixture composition in a real pipeline.
    *
    * Exactness doctrine: bucket counts are integers; each bucket's
    * Laplace-smoothed log-likelihood-ratio forms ONE double from
    * identical integer operands and is quantized to integer e6 (the
    * q1e/q1n encoding), so every document weight is an exact integer
    * SUM of bucket literals and the top-k is a deterministic total
    * order (weight desc, doc_id) — hash-replayable in DuckDB.
    *
    * Scale shape: one explode pass feeds ONE conditional ≤nBuckets-row
    * aggregate (both distributions, map-side combined), the 64-row
    * ratio table broadcast back into a second explode pass for the
    * per-doc weights (token-level frames are deliberately NOT cached —
    * at 100 TB the narrow rescan beats materializing an exploded
    * corpus), and the global top-k planned as
    * TakeOrderedAndProject (distributed partial top-k per partition,
    * no single-task global sort — the q10 doctrine; a
    * Window.partitionBy() row_number here would funnel every document
    * through one task at 100 TB). */
  def importanceResampling(spark: SparkSession, dir: String,
      nBuckets: Int = 64, topK: Int = 20,
      targetLang: String = "en"): DataFrame = {
    val bucketed = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("t"))
      .withColumn("b", pmod(Text.tokenHash(col("t")), lit(nBuckets.toLong)))
    // ONE conditional aggregate yields both distributions — a separate
    // tgt pass + left join would re-run the explode/tokenize scan and
    // add a join for nothing (raw covers every occurring bucket by
    // construction, and n_tgt is just the target-gated count)
    val counts = bucketed.groupBy("b").agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("n_tgt"))
    val tot = Window.partitionBy() // ≤nBuckets rows — the q1e rule
    val lr = counts
      .withColumn("nt", sum("n_tgt").over(tot))
      .withColumn("nr", sum("n_raw").over(tot))
      .withColumn("lr_e6", floor(
        log(((col("n_tgt") + 1L).cast("double") / (col("nt") + nBuckets))
          / ((col("n_raw") + 1L).cast("double") / (col("nr") + nBuckets)))
          * 1e6 + 0.5).cast("long"))
      .select("b", "lr_e6")
    val weights = bucketed.join(broadcast(lr), "b")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"), sum("lr_e6").as("weight_e6"))
    val docCounts = graft.Tables.documents(spark, dir).agg(
      sum(when(col("lang") === targetLang, 1L).otherwise(0L))
        .as("n_target_docs"),
      count(lit(1)).as("n_raw_docs"))
    weights
      .orderBy(col("weight_e6").desc, col("doc_id"))
      .limit(topK) // TakeOrderedAndProject — distributed top-k
      .withColumn("rank", row_number().over(Window.partitionBy()
        .orderBy(col("weight_e6").desc, col("doc_id")))) // topK rows only
      .crossJoin(broadcast(docCounts))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("weight_e6"),
        col("rank"), col("n_target_docs"), col("n_raw_docs"))
      .orderBy("rank")
  }

  def importanceResamplingOracle: String = """
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
      FROM documents),
    bk AS (
      SELECT doc_id, lang,
             ((length(t) * 1000003 + ascii(t) * 65599
               + ascii(substring(t, -1, 1)) * 31) % 1000000007) % 64 AS b
      FROM toks),
    raw AS (SELECT b, CAST(count(1) AS BIGINT) AS n_raw FROM bk GROUP BY b),
    tgt AS (SELECT b, CAST(count(1) AS BIGINT) AS n_tgt
            FROM bk WHERE lang = 'en' GROUP BY b),
    tot AS (
      SELECT CAST(sum(n_raw) AS BIGINT) AS nr,
             (SELECT CAST(coalesce(sum(n_tgt), 0) AS BIGINT) FROM tgt) AS nt
      FROM raw),
    lr AS (
      SELECT raw.b,
             CAST(floor(ln(
                 ((coalesce(tgt.n_tgt, 0) + 1.0) / (tot.nt + 64.0))
               / ((raw.n_raw + 1.0) / (tot.nr + 64.0)))
               * 1e6 + 0.5) AS BIGINT) AS lr_e6
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot),
    w AS (
      SELECT bk.doc_id, bk.lang, CAST(count(1) AS BIGINT) AS n_tokens,
             CAST(sum(lr.lr_e6) AS BIGINT) AS weight_e6
      FROM bk JOIN lr ON bk.b = lr.b
      GROUP BY bk.doc_id, bk.lang),
    dc AS (
      SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_target_docs,
             CAST(count(1) AS BIGINT) AS n_raw_docs
      FROM documents),
    r AS (
      SELECT *, row_number() OVER (ORDER BY weight_e6 DESC, doc_id) AS rank
      FROM w)
    SELECT r.doc_id, r.lang, r.n_tokens, r.weight_e6,
           CAST(r.rank AS INTEGER) AS rank, dc.n_target_docs, dc.n_raw_docs
    FROM r CROSS JOIN dc WHERE r.rank <= 20 ORDER BY r.rank"""

  /** q8o: TRAINING-ORDER INTERLEAVING AUDIT — grades the SHUFFLE a
    * corpus gets before training: documents are placed by the shared
    * Lehmer permutation (the q46 gate's integer key, a bijection — so
    * the "global shuffle" is stateless arithmetic, not a sort of random
    * numbers), cut into `nShards` contiguous ranges of the permuted
    * order (= the files a trainer would stream in sequence), and each
    * shard is audited for the two failure modes a bad shuffle causes:
    * COMPOSITION DRIFT (a shard's source mix deviating from the global
    * mix — max per-source deviation in exact ppm, tolerance folded as a
    * boolean) and CLUMPING (the longest same-source run inside the
    * shard, gaps-and-islands as the difference of two row_numbers).
    * Epoch-order pathologies — curriculum accidents, loss spikes from
    * correlated batches — trace back to exactly these two numbers.
    *
    * Scale shape: placement and sharding are stateless per row; the
    * mix audit is two hash aggregates; the run analysis windows are
    * PARTITIONED BY SHARD, so every shard sorts locally in parallel —
    * no global sort, no single-partition window, at any corpus size. */
  def interleavingAudit(spark: SparkSession, dir: String,
      nShards: Int = 8, tolPpm: Long = 100000L): DataFrame =
    interleavingAuditOf(Tables.documents(spark, dir), nShards, tolPpm)

  /** DataFrame form of q8o, for planted-corpus tests. */
  def interleavingAuditOf(docs: DataFrame,
      nShards: Int = 8, tolPpm: Long = 100000L): DataFrame = {
    val sh = docs
      .select(col("doc_id"), col("source"),
        (pmod(col("doc_id"), lit(LehmerM)) * lit(48271L) % lit(LehmerM)
          * lit(48271L) % lit(LehmerM)).as("pos"))
      .withColumn("shard", expr(s"pos * $nShards div ${LehmerM}L"))
      .cache() // feeds the mix aggregates and the run windows
    val g = sh.groupBy("source").agg(count(lit(1)).as("n_g"))
    val gt = g.groupBy().agg(sum(col("n_g")).as("n_tot"))
    val sc = sh.groupBy("shard", "source").agg(count(lit(1)).as("n_s"))
    val st = sc.groupBy("shard").agg(
      sum(col("n_s")).as("n_shard"), count(lit(1)).as("n_sources_seen"))
    // deviation over the FULL shard×source spine: a source entirely
    // absent from a shard is the worst composition drift there is
    // (share 0 vs its global share), and a present-sources-only join
    // would silently skip exactly that case
    val dev = st.select(col("shard"), col("n_shard"))
      .crossJoin(broadcast(g))
      .join(sc, Seq("shard", "source"), "left")
      .na.fill(0L, Seq("n_s"))
      .crossJoin(broadcast(gt))
      .groupBy("shard")
      .agg(max(abs(expr("n_s * 1000000 div n_shard")
        - expr("n_g * 1000000 div n_tot"))).as("maxdev_ppm"))
    val runs = sh.select(col("shard"), col("source"),
        (row_number().over(Window.partitionBy("shard").orderBy("pos"))
          - row_number().over(
            Window.partitionBy("shard", "source").orderBy("pos"))).as("grp"))
      .groupBy("shard", "source", "grp").agg(count(lit(1)).as("cnt"))
      .groupBy("shard").agg(max(col("cnt")).as("max_run"))
    st.join(runs, "shard").join(dev, "shard")
      .select(col("shard"), col("n_shard"), col("n_sources_seen"),
        col("max_run"), col("maxdev_ppm"),
        (col("maxdev_ppm") <= tolPpm).as("balanced_ok"))
      .orderBy("shard")
  }

  def interleavingAuditOracle: String = """
    WITH p AS (
      SELECT doc_id, source,
             ((doc_id % 2147483647) * 48271 % 2147483647) * 48271
               % 2147483647 AS pos
      FROM documents),
    sh AS (
      SELECT doc_id, source, pos,
             CAST(pos * 8 // 2147483647 AS BIGINT) AS shard
      FROM p),
    g AS (SELECT source, CAST(count(1) AS BIGINT) AS n_g
          FROM sh GROUP BY source),
    gt AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_tot FROM g),
    sc AS (SELECT shard, source, CAST(count(1) AS BIGINT) AS n_s
           FROM sh GROUP BY shard, source),
    st AS (SELECT shard, CAST(sum(n_s) AS BIGINT) AS n_shard,
                  CAST(count(1) AS BIGINT) AS n_sources_seen
           FROM sc GROUP BY shard),
    dev AS (
      SELECT st.shard,
             CAST(max(abs(coalesce(sc.n_s, 0) * 1000000 // st.n_shard
                        - g.n_g * 1000000 // gt.n_tot)) AS BIGINT)
               AS maxdev_ppm
      FROM st CROSS JOIN g
           LEFT JOIN sc ON sc.shard = st.shard AND sc.source = g.source
           CROSS JOIN gt
      GROUP BY st.shard),
    runs AS (
      SELECT shard, source,
             row_number() OVER (PARTITION BY shard ORDER BY pos)
           - row_number() OVER (PARTITION BY shard, source ORDER BY pos)
               AS grp
      FROM sh),
    rl AS (
      SELECT shard, CAST(max(cnt) AS BIGINT) AS max_run
      FROM (SELECT shard, source, grp, CAST(count(1) AS BIGINT) AS cnt
            FROM runs GROUP BY shard, source, grp)
      GROUP BY shard)
    SELECT st.shard, st.n_shard, st.n_sources_seen, rl.max_run,
           dev.maxdev_ppm, dev.maxdev_ppm <= 100000 AS balanced_ok
    FROM st JOIN rl ON st.shard = rl.shard
            JOIN dev ON st.shard = dev.shard
    ORDER BY st.shard"""

  /** q9a: MIXTURE EPOCH SCHEDULE — the TOKEN-mass temperature table
    * that complements [[temperatureMixture]] (q4g): q4g grades the
    * document-level α=0.5 KEEP GATE (who survives a subsample); this
    * operator grades the training SCHEDULE a multilingual trainer ships
    * (Arivazhagan et al. 2019 §5, p_l ∝ n_l^α over token masses;
    * UNIMAX, Chung et al. 2023, motivates the epoch-cap column): for
    * α ∈ {0.3, 0.7}, the per-language sampling weight n_l^α / Σ_k n_k^α
    * and the EXPECTED EPOCHS each language is replayed for under a
    * one-total-corpus token budget — α=1 is proportional (head
    * languages dominate), α→0 uniform (tail languages repeat) — plus
    * the UNIMAX-style flag for languages pushed past a 3-epoch cap.
    *
    * Exactness doctrine: the only aggregate is an integer (lang, docs,
    * tokens) rollup; each n_l^α forms ONE libm pow from identical
    * integer operands and is quantized to integer e3 (the q1e/q8e
    * encoding), so the normalizing sums are INTEGER sums (order-free)
    * and every emitted ratio is a single IEEE mult+div chain over
    * integer operands, floor(·+0.5)-quantized — hash-replayable.
    *
    * Scale shape: one map-side-combined groupBy(lang) (≤ language-count
    * rows forever), then window arithmetic over that bounded frame
    * (Window.partitionBy() on ≤5 rows — the q1e rule). Ratios go
    * through doubles, NOT `x * 1e6 div total`: per-language token mass
    * at 100 TB (~2.5e13 tokens) times 1e6 wraps int64, the exact
    * overflow class round-6 advice flagged in fisherSeparation — the
    * double path trades 2^-53 relative error (invisible at ppm scale)
    * for no wrap at any corpus size. */
  def mixtureEpochs(spark: SparkSession, dir: String): DataFrame = {
    val perLang = Tables.documents(spark, dir).groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = Window.partitionBy() // ≤ n_languages rows — the q1e rule
    def powE3(alpha: Double) =
      floor(pow(col("n_tokens").cast("double"), lit(alpha)) * 1e3 + 0.5)
        .cast("long")
    perLang
      .withColumn("tot_tokens", sum("n_tokens").over(tot))
      .withColumn("p03_e3", powE3(0.3))
      .withColumn("p07_e3", powE3(0.7))
      .withColumn("s03", sum("p03_e3").over(tot))
      .withColumn("s07", sum("p07_e3").over(tot))
      .withColumn("share_ppm", floor(
        col("n_tokens").cast("double") * 1e6 / col("tot_tokens") + 0.5)
        .cast("long"))
      .withColumn("w03_ppm", floor(
        col("p03_e3").cast("double") * 1e6 / col("s03") + 0.5).cast("long"))
      .withColumn("w07_ppm", floor(
        col("p07_e3").cast("double") * 1e6 / col("s07") + 0.5).cast("long"))
      .withColumn("epochs03_e3", floor(
        col("w03_ppm").cast("double") * col("tot_tokens") / col("n_tokens")
          / 1000.0 + 0.5).cast("long"))
      .withColumn("epochs07_e3", floor(
        col("w07_ppm").cast("double") * col("tot_tokens") / col("n_tokens")
          / 1000.0 + 0.5).cast("long"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("share_ppm"),
        col("w03_ppm"), col("w07_ppm"), col("epochs03_e3"), col("epochs07_e3"),
        (col("epochs03_e3") > 3000L).as("cap3_exceeded"))
      .orderBy("lang")
  }

  def mixtureEpochsOracle: String = """
    WITH pl AS (
      SELECT lang, CAST(count(1) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang),
    p AS (
      SELECT lang, n_docs, n_tokens,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_tokens,
             CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.3) * 1e3 + 0.5)
               AS BIGINT) AS p03_e3,
             CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.7) * 1e3 + 0.5)
               AS BIGINT) AS p07_e3
      FROM pl),
    s AS (
      SELECT *, CAST(sum(p03_e3) OVER () AS BIGINT) AS s03,
                CAST(sum(p07_e3) OVER () AS BIGINT) AS s07
      FROM p),
    w AS (
      SELECT lang, n_docs, n_tokens, tot_tokens,
             CAST(floor(CAST(n_tokens AS DOUBLE) * 1e6 / tot_tokens + 0.5)
               AS BIGINT) AS share_ppm,
             CAST(floor(CAST(p03_e3 AS DOUBLE) * 1e6 / s03 + 0.5)
               AS BIGINT) AS w03_ppm,
             CAST(floor(CAST(p07_e3 AS DOUBLE) * 1e6 / s07 + 0.5)
               AS BIGINT) AS w07_ppm
      FROM s)
    SELECT lang, n_docs, n_tokens, share_ppm, w03_ppm, w07_ppm,
           CAST(floor(CAST(w03_ppm AS DOUBLE) * tot_tokens / n_tokens
             / 1000.0 + 0.5) AS BIGINT) AS epochs03_e3,
           CAST(floor(CAST(w07_ppm AS DOUBLE) * tot_tokens / n_tokens
             / 1000.0 + 0.5) AS BIGINT) AS epochs07_e3,
           CAST(floor(CAST(w03_ppm AS DOUBLE) * tot_tokens / n_tokens
             / 1000.0 + 0.5) AS BIGINT) > 3000 AS cap3_exceeded
    FROM w ORDER BY lang"""

  /** q9c: SEQUENCE-LENGTH CURRICULUM PHASES — the length-based
    * curriculum schedule (short-sequences-first warmup, the schedule
    * T5/GPT-style pretraining uses to cheapen early steps): documents
    * are ordered by token length and cut into 4 phases of EQUAL TOKEN
    * MASS, and the graded artifact is the phase table a trainer ships —
    * per-phase length range, document count, token mass, and cumulative
    * share. Equal-mass (not equal-count) phases are the operative
    * choice: each phase represents the same optimizer budget.
    *
    * Scale shape: phase boundaries are NOT a global sort — document
    * lengths are binned into ≤ `maxBucket`+1 fixed-width buckets (one
    * map-side-combined aggregate), the cumulative mass walk runs on
    * that bounded histogram (Window over ≤128 rows — the q1e rule), and
    * phase membership is decided per BUCKET by pure integer
    * comparisons (4·cum_prev ≥ k·total — no division, no doubles), so
    * assignment would broadcast back join-free at 100 TB. A
    * Window.orderBy over raw documents here would funnel the corpus
    * through one task; the histogram walk is the scale-correct
    * equivalent with bucket-width resolution.
    *
    * Exactness: everything up to the two ppm share columns is integer
    * arithmetic; the shares are one IEEE mult+div over integer
    * operands, floor(·+0.5)-quantized — hash-replayable. */
  def curriculumPhases(spark: SparkSession, dir: String,
      bucketTokens: Int = 8, maxBucket: Int = 127): DataFrame = {
    val hist = Tables.documents(spark, dir)
      .select(
        expr(s"least(size(split(text, ' ')) div $bucketTokens, $maxBucket)")
          .cast("long").as("bucket"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val ordered = Window.orderBy("bucket") // ≤ maxBucket+1 rows — the q1e rule
    val phased = hist
      .withColumn("total", sum("n_tokens").over(Window.partitionBy()))
      .withColumn("cum_prev", coalesce(
        sum("n_tokens").over(ordered.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("phase", (lit(1)
        + when(col("cum_prev") * 4 >= col("total"), 1).otherwise(0)
        + when(col("cum_prev") * 2 >= col("total"), 1).otherwise(0)
        + when(col("cum_prev") * 4 >= col("total") * 3, 1).otherwise(0))
        .cast("int"))
    phased.groupBy("phase").agg(
        count(lit(1)).as("n_buckets"),
        min("bucket").as("bucket_lo"),
        max("bucket").as("bucket_hi"),
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        max("total").as("total"))
      .withColumn("share_ppm", floor(
        col("n_tokens").cast("double") * 1e6 / col("total") + 0.5).cast("long"))
      .withColumn("cum_share_ppm", floor(
        sum("n_tokens").over(Window.orderBy("phase")).cast("double") * 1e6
          / col("total") + 0.5).cast("long"))
      .select("phase", "n_buckets", "bucket_lo", "bucket_hi", "n_docs",
        "n_tokens", "share_ppm", "cum_share_ppm")
      .orderBy("phase")
  }

  def curriculumPhasesOracle: String = """
    WITH d AS (
      SELECT least(len(string_split(text, ' ')) // 8, 127) AS bucket,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    h AS (
      SELECT bucket, CAST(count(1) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM d GROUP BY bucket),
    c AS (
      SELECT *, CAST(sum(n_tokens) OVER () AS BIGINT) AS total,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_prev
      FROM h),
    p AS (
      SELECT *, CAST(1 + CASE WHEN cum_prev * 4 >= total THEN 1 ELSE 0 END
                       + CASE WHEN cum_prev * 2 >= total THEN 1 ELSE 0 END
                       + CASE WHEN cum_prev * 4 >= total * 3 THEN 1 ELSE 0 END
               AS INTEGER) AS phase
      FROM c),
    g AS (
      SELECT phase, CAST(count(1) AS BIGINT) AS n_buckets,
             CAST(min(bucket) AS BIGINT) AS bucket_lo,
             CAST(max(bucket) AS BIGINT) AS bucket_hi,
             CAST(sum(n_docs) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(max(total) AS BIGINT) AS total
      FROM p GROUP BY phase)
    SELECT phase, n_buckets, bucket_lo, bucket_hi, n_docs, n_tokens,
           CAST(floor(CAST(n_tokens AS DOUBLE) * 1e6 / total + 0.5)
             AS BIGINT) AS share_ppm,
           CAST(floor(CAST(sum(n_tokens) OVER (ORDER BY phase) AS DOUBLE)
             * 1e6 / total + 0.5) AS BIGINT) AS cum_share_ppm
    FROM g ORDER BY phase"""

  /** q9d: FILTER ABLATION MATRIX — q4e grades the CASCADE (cumulative
    * survival through ordered gates); this operator grades the same
    * gates UN-cascaded, the FineWeb-style ablation a curation team
    * reads before choosing the cascade at all: every document is placed
    * in one of 2³ cells by which of the three content gates it passes
    * (min-length, token-diversity, stopword-cap — the q4e thresholds,
    * byte-identical), and the matrix shows each gate's marginal and
    * UNIQUE kill mass — a gate that only ever removes documents another
    * gate also removes is redundant and can be dropped from the
    * pipeline without changing the kept set.
    *
    * Scale shape: one narrow projection computes all three rounded
    * scores per row (codegen, zero shuffle), one map-side-combined
    * aggregate lands in ≤8 cells, and the 0..7 domain is completed via
    * a `spark.range(8)` left join so empty cells grade as explicit
    * zeros. Gate scores compare ROUNDED values (the q4e idiom) so the
    * booleans replay bit-for-bit in the oracle. */
  def filterAblation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("double"))
      .withColumn("diversity",
        round(size(array_distinct(col("toks"))) / col("n_tokens"), 4))
      .withColumn("stop_ratio",
        round(size(filter(col("toks"),
          t => t.isin("the", "a", "of", "and", "to", "in"))) / col("n_tokens"), 4))
    val cell = (when(col("n_chars") >= 100, 4).otherwise(0)
      + when(col("diversity") >= 0.35, 2).otherwise(0)
      + when(col("stop_ratio") <= 0.15, 1).otherwise(0)).cast("long")
    val cells = docs.select(cell.as("cell"),
        col("n_tokens").cast("long").as("n_tok"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    spark.range(8).toDF("cell")
      .join(cells, Seq("cell"), "left")
      .na.fill(0L, Seq("n_docs", "n_tokens"))
      .withColumn("total_docs", sum("n_docs").over(Window.partitionBy())) // 8 rows
      .withColumn("pass_len", expr("(cell div 4) % 2 = 1"))
      .withColumn("pass_div", expr("(cell div 2) % 2 = 1"))
      .withColumn("pass_stop", expr("cell % 2 = 1"))
      .withColumn("docs_ppm", floor(
        col("n_docs").cast("double") * 1e6 / col("total_docs") + 0.5)
        .cast("long"))
      .withColumn("kept", col("cell") === 7L)
      .withColumn("unique_kill", col("cell").isin(3L, 5L, 6L))
      .select("cell", "pass_len", "pass_div", "pass_stop", "n_docs",
        "n_tokens", "docs_ppm", "kept", "unique_kill")
      .orderBy("cell")
  }

  def filterAblationOracle: String = """
    WITH d AS (
      SELECT n_chars, string_split(text, ' ') AS toks FROM documents),
    f AS (
      SELECT n_chars,
             CAST(len(toks) AS BIGINT) AS n_tok,
             round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
               AS diversity,
             round(CAST(len(list_filter(toks,
               x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
               / len(toks), 4) AS stop_ratio
      FROM d),
    cc AS (
      SELECT (CASE WHEN n_chars >= 100 THEN 4 ELSE 0 END
            + CASE WHEN diversity >= 0.35 THEN 2 ELSE 0 END
            + CASE WHEN stop_ratio <= 0.15 THEN 1 ELSE 0 END) AS cell,
             n_tok
      FROM f),
    g AS (
      SELECT cell, CAST(count(1) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM cc GROUP BY cell),
    dom AS (SELECT CAST(range AS BIGINT) AS cell FROM range(8)),
    m AS (
      SELECT dom.cell,
             CAST(coalesce(g.n_docs, 0) AS BIGINT) AS n_docs,
             CAST(coalesce(g.n_tokens, 0) AS BIGINT) AS n_tokens
      FROM dom LEFT JOIN g ON dom.cell = g.cell),
    t AS (SELECT *, CAST(sum(n_docs) OVER () AS BIGINT) AS total_docs FROM m)
    SELECT cell,
           CAST(cell // 4 % 2 AS INTEGER) = 1 AS pass_len,
           CAST(cell // 2 % 2 AS INTEGER) = 1 AS pass_div,
           CAST(cell % 2 AS INTEGER) = 1 AS pass_stop,
           n_docs, n_tokens,
           CAST(floor(CAST(n_docs AS DOUBLE) * 1e6 / total_docs + 0.5)
             AS BIGINT) AS docs_ppm,
           cell = 7 AS kept,
           cell IN (3, 5, 6) AS unique_kill
    FROM t ORDER BY cell"""

  /** q9g: DOMAIN REWEIGHTING — the DoReMi/Group-DRO exponentiated-
    * gradient step (Xie et al. 2023 "DoReMi", alg. 1): domains whose
    * EXCESS LOSS is highest get their mixture weight multiplied by
    * exp(η·excess) and the weights renormalize — "train more where the
    * model is worst". The per-domain loss here is the deterministic
    * proxy a data-only engine can grade: each source's mean token
    * SURPRISAL under a reference model trained on the corpus's `en`
    * slice (hashed-unigram Laplace-smoothed buckets over the q8e
    * feature space, which bounds the model at `nBuckets` rows at any
    * corpus size), so domains whose content sits farthest from the
    * reference slice carry the highest excess and get upweighted
    * hardest. Excess = loss − min over domains.
    * The graded artifact is the reweighting table: proxy loss, excess,
    * the post-EG weight against the uniform baseline, and the
    * up/down-weight ratio.
    *
    * Exactness doctrine: bucket counts are integers; each bucket's
    * smoothed log-probability forms ONE libm ln from identical integer
    * operands quantized to e6, so per-source total surprisal is an
    * integer sum (order-free); the EG exponential is one libm exp on an
    * integer-derived double, e6-quantized per domain BEFORE the
    * normalizing integer sum — hash-replayable.
    *
    * Scale shape: the token stream is scanned twice (reference slice,
    * then scoring) and deliberately not cached (the q8e doctrine); the
    * bounded model completes its 0..nBuckets-1 domain via `spark.range`
    * and broadcasts back (always broadcastable, unlike a raw vocabulary —
    * at 100 TB); everything after the ≤n_sources-row rollup is
    * window arithmetic on that bounded frame (the q1e rule). */
  def domainReweighting(spark: SparkSession, dir: String,
      etaE3: Long = 1000L, nBuckets: Int = 64,
      refLang: String = "en"): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        explode(Text.tokens(col("text"))).as("tok"))
      .withColumn("b", Text.tokenHash(col("tok")) % lit(nBuckets.toLong))
    val refCounts = toks.where(col("lang") === refLang)
      .groupBy("b").agg(count(lit(1)).as("cnt"))
    val model = spark.range(nBuckets).toDF("b")
      .join(refCounts, Seq("b"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("nref", sum("cnt").over(Window.partitionBy())) // ≤ nBuckets rows
      .withColumn("lp_e6", floor(
        log((col("cnt") + 1L).cast("double") / (col("nref") + nBuckets))
          * 1e6 + 0.5).cast("long"))
      .select("b", "lp_e6")
    val perSrc = toks.join(broadcast(model), "b")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), sum("lp_e6").as("sum_lp_e6"))
    val tot = Window.partitionBy() // ≤ n_sources rows — the q1e rule
    perSrc
      .withColumn("loss_e6", floor(
        -col("sum_lp_e6").cast("double") / col("n_tokens") + 0.5).cast("long"))
      .withColumn("excess_e6", col("loss_e6") - min("loss_e6").over(tot))
      .withColumn("w_raw_e6", floor(
        exp(lit(etaE3.toDouble / 1e3) * (col("excess_e6").cast("double") / 1e6))
          * 1e6 + 0.5).cast("long"))
      .withColumn("w_sum_e6", sum("w_raw_e6").over(tot))
      .withColumn("k", count(lit(1)).over(tot))
      .withColumn("weight_ppm", floor(
        col("w_raw_e6").cast("double") * 1e6 / col("w_sum_e6") + 0.5)
        .cast("long"))
      .withColumn("baseline_ppm", floor(lit(1e6) / col("k") + 0.5).cast("long"))
      .withColumn("ratio_e3", floor(
        col("weight_ppm").cast("double") * 1e3 / col("baseline_ppm") + 0.5)
        .cast("long"))
      .select("source", "n_tokens", "loss_e6", "excess_e6", "weight_ppm",
        "baseline_ppm", "ratio_e3")
      .orderBy("source")
  }

  def domainReweightingOracle: String = """
    WITH toks AS (
      SELECT source, lang,
             ((length(t) * 1000003 + ascii(t) * 65599
               + ascii(substring(t, -1, 1)) * 31) % 1000000007) % 64 AS b
      FROM (SELECT source, lang, unnest(string_split(text, ' ')) AS t
            FROM documents)),
    rc AS (
      SELECT b, CAST(count(1) AS BIGINT) AS cnt
      FROM toks WHERE lang = 'en' GROUP BY b),
    dom AS (SELECT CAST(range AS BIGINT) AS b FROM range(64)),
    m AS (
      SELECT b, CAST(floor(ln((cnt + 1.0) / (nref + 64.0)) * 1e6 + 0.5)
               AS BIGINT) AS lp_e6
      FROM (SELECT dom.b, CAST(coalesce(rc.cnt, 0) AS BIGINT) AS cnt,
                   CAST(sum(coalesce(rc.cnt, 0)) OVER () AS BIGINT) AS nref
            FROM dom LEFT JOIN rc ON dom.b = rc.b)),
    ps AS (
      SELECT source, CAST(count(1) AS BIGINT) AS n_tokens,
             CAST(sum(m.lp_e6) AS BIGINT) AS sum_lp_e6
      FROM toks JOIN m ON toks.b = m.b
      GROUP BY source),
    l AS (
      SELECT *, CAST(floor(-CAST(sum_lp_e6 AS DOUBLE) / n_tokens + 0.5)
               AS BIGINT) AS loss_e6
      FROM ps),
    x AS (
      SELECT *, CAST(loss_e6 - min(loss_e6) OVER () AS BIGINT) AS excess_e6
      FROM l),
    w AS (
      SELECT *, CAST(floor(exp(1.0 * (CAST(excess_e6 AS DOUBLE) / 1e6))
               * 1e6 + 0.5) AS BIGINT) AS w_raw_e6
      FROM x),
    s AS (
      SELECT *, CAST(sum(w_raw_e6) OVER () AS BIGINT) AS w_sum_e6,
             CAST(count(1) OVER () AS BIGINT) AS k
      FROM w)
    SELECT source, n_tokens, loss_e6, excess_e6,
           CAST(floor(CAST(w_raw_e6 AS DOUBLE) * 1e6 / w_sum_e6 + 0.5)
             AS BIGINT) AS weight_ppm,
           CAST(floor(1e6 / k + 0.5) AS BIGINT) AS baseline_ppm,
           CAST(floor(CAST(CAST(floor(CAST(w_raw_e6 AS DOUBLE) * 1e6
               / w_sum_e6 + 0.5) AS BIGINT) AS DOUBLE) * 1e3
             / CAST(floor(1e6 / k + 0.5) AS BIGINT) + 0.5) AS BIGINT)
             AS ratio_e3
    FROM s ORDER BY source"""

  /** q9h: UNIMAX ALLOCATION — the water-filling budget solve that is
    * UNIMAX's actual algorithm (Chung et al. 2023, alg. 1): distribute
    * a total training-token budget as UNIFORMLY as possible across
    * languages, except no language may be repeated past `maxEpochs` —
    * its CAPACITY n_l·maxEpochs. Walking languages by ascending
    * capacity: a language caps out iff its capacity is below the
    * current per-remaining-language fair share; its unused share
    * redistributes over the rest. This is the constrained counterpart
    * of q9a's unconstrained temperature table: q9a says what weights a
    * temperature implies, q9h says what a budget can actually deliver
    * under an epoch cap.
    *
    * Exactness doctrine: capacities and the greedy cap decision are
    * pure integer arithmetic (c_i·m_i < R_i — no division at all; the
    * ascending-capacity order makes the greedy condition monotone, so
    * one window pass decides every language); only the final fair-share
    * and the two reporting ratios go through one IEEE division each,
    * floor(·+0.5)-quantized — hash-replayable.
    *
    * Scale shape: one map-side-combined groupBy(lang) (bounded rows
    * forever), then window arithmetic over that frame (the q1e rule).
    * Ties in capacity break on the language code so the walk order is a
    * total order. */
  def unimaxAllocation(spark: SparkSession, dir: String,
      maxEpochsE3: Long = 1200L): DataFrame = {
    val perLang = Tables.documents(spark, dir).groupBy("lang").agg(
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = Window.partitionBy() // ≤ n_languages rows — the q1e rule
    val asc = Window.orderBy("cap", "lang")
    perLang
      .withColumn("b_total", sum("n_tokens").over(tot))
      .withColumn("cap", expr(s"(n_tokens * $maxEpochsE3) div 1000"))
      .withColumn("rk", row_number().over(asc))
      .withColumn("k", count(lit(1)).over(tot))
      .withColumn("cum_prev_cap", coalesce(
        sum("cap").over(asc.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      // greedy water-filling: capped iff capacity below the fair share
      // of the budget remaining once every smaller language capped out
      .withColumn("capped",
        col("cap") * (col("k") - col("rk") + 1L)
          < (col("b_total") - col("cum_prev_cap")))
      .withColumn("n_capped",
        sum(when(col("capped"), 1L).otherwise(0L)).over(tot))
      .withColumn("capped_mass",
        sum(when(col("capped"), col("cap")).otherwise(0L)).over(tot))
      .withColumn("alloc_tokens", when(col("capped"), col("cap"))
        .otherwise(floor(
          (col("b_total") - col("capped_mass")).cast("double")
            / (col("k") - col("n_capped")) + 0.5).cast("long")))
      .withColumn("alloc_ppm", floor(
        col("alloc_tokens").cast("double") * 1e6 / col("b_total") + 0.5)
        .cast("long"))
      .withColumn("epochs_e3", floor(
        col("alloc_tokens").cast("double") * 1e3 / col("n_tokens") + 0.5)
        .cast("long"))
      .select("lang", "n_tokens", "cap", "capped", "alloc_tokens",
        "alloc_ppm", "epochs_e3")
      .orderBy("lang")
  }

  def unimaxAllocationOracle: String = """
    WITH pl AS (
      SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY lang),
    c AS (
      SELECT lang, n_tokens,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS b_total,
             CAST((n_tokens * 1200) // 1000 AS BIGINT) AS cap,
             CAST(count(1) OVER () AS BIGINT) AS k
      FROM pl),
    r AS (
      SELECT *, CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS rk,
             CAST(coalesce(sum(cap) OVER (ORDER BY cap, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_prev_cap
      FROM c),
    g AS (
      SELECT *, cap * (k - rk + 1) < (b_total - cum_prev_cap) AS capped
      FROM r),
    s AS (
      SELECT *,
             CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()
               AS BIGINT) AS n_capped,
             CAST(sum(CASE WHEN capped THEN cap ELSE 0 END) OVER ()
               AS BIGINT) AS capped_mass
      FROM g),
    a AS (
      SELECT *, CASE WHEN capped THEN cap
               ELSE CAST(floor(CAST(b_total - capped_mass AS DOUBLE)
                 / (k - n_capped) + 0.5) AS BIGINT) END AS alloc_tokens
      FROM s)
    SELECT lang, n_tokens, cap, capped, alloc_tokens,
           CAST(floor(CAST(alloc_tokens AS DOUBLE) * 1e6 / b_total + 0.5)
             AS BIGINT) AS alloc_ppm,
           CAST(floor(CAST(alloc_tokens AS DOUBLE) * 1e3 / n_tokens + 0.5)
             AS BIGINT) AS epochs_e3
    FROM a ORDER BY lang"""

  /** q9z: END-TO-END CURATION PIPELINE — the composed run a real
    * training-data team ships, graded as ONE query with per-SOURCE
    * attribution: raw → exact dedup (first-of-normalized-text, the q4f
    * chain) → near-dup dedup (df-capped shared-trigram exact Jaccard at
    * the q8a-calibrated 0.97 knee → connected components → min-id
    * representative, the q55/q57 machinery composed) → quality gates
    * (the q4e thresholds). Where q4e grades gate ORDER on the raw
    * corpus, q9z grades the REAL sequencing (dedup before quality — the
    * standard order, so quality compute never runs on documents dedup
    * would discard) and attributes every stage's survivors to their
    * source — the table that tells a curation team WHICH feed is
    * burning their budget.
    *
    * Composition is the point: the stages are the engine's own exported
    * operators ([[Dedup.normalizeText]], [[Dedup.jaccardPairs]],
    * [[Dedup.connectedComponents]]) chained as DataFrames — one lineage
    * Catalyst plans end-to-end. The oracle replays the whole pipeline
    * including the component fixpoint as a recursive CTE (the q57
    * pattern) — a completely different algorithm reaching the same
    * survivors.
    *
    * Scale notes: the exact-dedup window shuffles on `norm` (the same
    * exchange exact dedup always pays); pair generation is bounded by
    * the df-cap (no all-pairs anywhere); the component fixpoint runs on
    * the near-dup graph only (vertices = exact survivors, edges = the
    * thresholded pairs — tiny relative to the corpus); gates are narrow
    * codegen predicates. The builder executes the CC fixpoint's bounded
    * probes (the q57 precedent). */
  def curationPipeline(spark: SparkSession, dir: String,
      jaccThresholdPpm: Long = 970000L, ngram: Int = 3,
      dfCap: Long = 64L): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tok", size(Text.tokens(col("text"))).cast("long"))
    val exact = docs
      .withColumn("norm", Dedup.normalizeText(col("text")))
      .withColumn("rn",
        row_number().over(Window.partitionBy("norm").orderBy("doc_id")))
      .where(col("rn") === 1).drop("rn", "norm")
      .cache() // consumed by pair gen, CC vertices, survivor join, rollup
    // SEQUENCED materialization (the FullCvSpec lesson): exact, then the
    // pair table, then CC. Left lazy, everything materializes inside the
    // CC fixpoint's first job with the gram cache consumed by both
    // self-join sides before it fills — measured 32.8 s vs 19.5 s at
    // sf0.1 for identical work
    exact.count()
    val pairs = Dedup.jaccardPairs(exact, ngram, dfCap)
      .where(col("jacc_ppm") >= jaccThresholdPpm)
    pairs.count()
    val comp = Dedup.connectedComponents(
      exact.select(col("doc_id").as("id")),
      pairs.select(col("a").as("src"), col("b").as("dst")))
    val neardup = exact.join(
      comp.where(col("id") === col("rep")).select(col("id").as("doc_id")),
      "doc_id")
    val gated = neardup
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("n_tok_d", size(col("toks")).cast("double"))
      .withColumn("diversity",
        round(size(array_distinct(col("toks"))) / col("n_tok_d"), 4))
      .withColumn("stop_ratio",
        round(size(filter(col("toks"),
          t => t.isin("the", "a", "of", "and", "to", "in"))) / col("n_tok_d"), 4))
      .where(col("diversity") >= 0.35 && col("stop_ratio") <= 0.15
        && col("n_chars") >= 100)
    val raw = docs.groupBy("source")
      .agg(count(lit(1)).as("n_raw"), sum("n_tok").as("tok_raw"))
    val ex = exact.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val nd = neardup.groupBy("source").agg(count(lit(1)).as("n_neardup"))
    val q = gated.groupBy("source")
      .agg(count(lit(1)).as("n_quality"), sum("n_tok").as("tok_quality"))
    raw.join(ex, Seq("source"), "left")
      .join(nd, Seq("source"), "left")
      .join(q, Seq("source"), "left")
      .na.fill(0L, Seq("n_exact", "n_neardup", "n_quality", "tok_quality"))
      .withColumn("retention_ppm", expr("(n_quality * 1000000) div n_raw"))
      .select("source", "n_raw", "tok_raw", "n_exact", "n_neardup",
        "n_quality", "tok_quality", "retention_ppm")
      .orderBy("source")
  }

  def curationPipelineOracle: String = """
    WITH RECURSIVE d AS (
      SELECT doc_id, source, lang, n_chars, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      FROM documents),
    e AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id)
          AS rn FROM d) WHERE rn = 1),
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM e),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 1),
               i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')))) AS gram
      FROM t),
    capped AS (
      SELECT gram FROM g GROUP BY gram HAVING count(1) > 64),
    kept AS (
      SELECT doc_id, gram FROM g
      WHERE gram NOT IN (SELECT gram FROM capped)),
    sz AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS n_grams
           FROM kept GROUP BY doc_id),
    p AS (
      SELECT g1.doc_id AS a, g2.doc_id AS b, CAST(count(1) AS BIGINT)
               AS n_shared
      FROM kept g1 JOIN kept g2
        ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT p.a, p.b
      FROM p JOIN sz sa ON p.a = sa.doc_id JOIN sz sb ON p.b = sb.doc_id
      WHERE (p.n_shared * 1000000)
              // (sa.n_grams + sb.n_grams - p.n_shared) >= 970000),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION ALL SELECT b, a FROM pairs),
    reach(v, r) AS (
      SELECT doc_id, doc_id FROM e
      UNION
      SELECT eg.dst, reach.r FROM reach JOIN edges eg ON reach.v = eg.src),
    comp AS (SELECT v, min(r) AS rep FROM reach GROUP BY v),
    nd AS (
      SELECT e.* FROM e JOIN comp ON e.doc_id = comp.v
      WHERE comp.rep = e.doc_id),
    gated AS (
      SELECT * FROM (
        SELECT source, n_tok, n_chars,
               round(CAST(len(list_distinct(string_split(text, ' ')))
                 AS DOUBLE) / len(string_split(text, ' ')), 4) AS diversity,
               round(CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS stop_ratio
        FROM nd)
      WHERE diversity >= 0.35 AND stop_ratio <= 0.15 AND n_chars >= 100),
    raw AS (
      SELECT source, CAST(count(1) AS BIGINT) AS n_raw,
             CAST(sum(n_tok) AS BIGINT) AS tok_raw
      FROM d GROUP BY source),
    ex AS (SELECT source, CAST(count(1) AS BIGINT) AS n_exact
           FROM e GROUP BY source),
    ndr AS (SELECT source, CAST(count(1) AS BIGINT) AS n_neardup
            FROM nd GROUP BY source),
    qr AS (
      SELECT source, CAST(count(1) AS BIGINT) AS n_quality,
             CAST(sum(n_tok) AS BIGINT) AS tok_quality
      FROM gated GROUP BY source)
    SELECT raw.source, raw.n_raw, raw.tok_raw,
           CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact,
           CAST(coalesce(ndr.n_neardup, 0) AS BIGINT) AS n_neardup,
           CAST(coalesce(qr.n_quality, 0) AS BIGINT) AS n_quality,
           CAST(coalesce(qr.tok_quality, 0) AS BIGINT) AS tok_quality,
           CAST((coalesce(qr.n_quality, 0) * 1000000) // raw.n_raw
             AS BIGINT) AS retention_ppm
    FROM raw
    LEFT JOIN ex ON raw.source = ex.source
    LEFT JOIN ndr ON raw.source = ndr.source
    LEFT JOIN qr ON raw.source = qr.source
    ORDER BY raw.source"""

  /** q9r: SPLIT MANIFEST — the reproducibility artifact a dataset
    * RELEASE ships next to its card (the q8q datasheet's sibling): for
    * each train/val/test split of the [[hashSplit]] gate, the exact
    * document count, token mass, and an ORDER-FREE membership checksum
    * (sum of each member's Lehmer value mod 1000003 — pure arithmetic,
    * so any consumer on any engine can re-derive it and verify they
    * loaded exactly the published membership, the reason manifests
    * exist). The gate itself is the engine's q46/q4b Lehmer machinery:
    * stateless per row, stable under any partitioning.
    *
    * Exactness: membership and checksum are integer arithmetic; the
    * mod-1e6 checksum terms keep the int64 sum inside headroom to
    * ~9e12 documents (the round-6 overflow doctrine, bound documented
    * rather than wrapped). One narrow scan + a 3-row rollup. */
  def splitManifest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val lehmer2 = (pmod(col("doc_id"), lit(LehmerM)) * lit(48271L) % lit(LehmerM))
      .*(lit(48271L)) % lit(LehmerM)
    hashSplit(docs)
      .withColumn("member_term", lehmer2 % lit(1000003L))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("member_term").as("membership_checksum"))
      .withColumn("share_ppm", floor(
        col("n_docs").cast("double") * 1e6
          / sum("n_docs").over(Window.partitionBy()) + 0.5).cast("long"))
      .select("split", "n_docs", "n_tokens", "membership_checksum", "share_ppm")
      .orderBy("split")
  }

  def splitManifestOracle: String = """
    WITH d AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             ((doc_id % 2147483647) * 48271 % 2147483647) * 48271
               % 2147483647 AS l2
      FROM documents),
    s AS (
      SELECT *,
             CASE WHEN CAST(l2 AS DOUBLE) / 2147483647 < 0.8 THEN 'train'
                  WHEN CAST(l2 AS DOUBLE) / 2147483647 < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM d),
    g AS (
      SELECT split, CAST(count(1) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             CAST(sum(l2 % 1000003) AS BIGINT) AS membership_checksum
      FROM s GROUP BY split)
    SELECT split, n_docs, n_tokens, membership_checksum,
           CAST(floor(CAST(n_docs AS DOUBLE) * 1e6
             / sum(n_docs) OVER () + 0.5) AS BIGINT) AS share_ppm
    FROM g ORDER BY split"""

  /** qah: LENGTH-DISTRIBUTION FLATTENING — inverse-density debiasing
    * over a NUMERIC axis, the sibling of q4i's categorical
    * stratification: training corpora are length-skewed (web text
    * piles up in a few length bands), and a model trained on the raw
    * density under-sees long documents. The flattener buckets by
    * length, sets each bucket's keep-rate to target/count capped at 1
    * (target = the uniform per-bucket mass), gates rows with the
    * Lehmer hash (pure row function — membership stable under any
    * partitioning), and GRADES the achieved flatness: max/min bucket
    * share before and after, plus the improvement verdict. The rate
    * table is a ≤|buckets|-row broadcast back onto the scan; the
    * gate comparison u < rate/1e6 is written identically in both
    * engines so membership replays bit-for-bit. */
  def lengthDebias(spark: SparkSession, dir: String,
      bucketWidth: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr(s"n_chars div $bucketWidth").as("bucket"))
    val counts = docs.groupBy("bucket").agg(count(lit(1)).as("n_docs"))
    val all = Window.partitionBy() // <=|buckets| rows — bounded rollup
    val rates = counts
      .withColumn("total", sum("n_docs").over(all))
      .withColumn("n_buckets", count(lit(1)).over(all))
      .withColumn("rate_ppm", least(lit(1000000L),
        expr("((total div n_buckets) * 1000000) div n_docs")))
      .select(col("bucket"), col("n_docs"), col("rate_ppm"))
    val kept = docs.join(broadcast(rates), "bucket")
      .where(hashUniform(col("doc_id") * lit(13L) + lit(7L))
        < col("rate_ppm").cast("double") / 1000000.0)
      .groupBy("bucket").agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_kept"))
      .withColumn("share_pre_ppm",
        expr("(n_docs * 1000000) div sum(n_docs) OVER ()"))
      .withColumn("share_post_ppm", when(sum("n_kept").over(all) === 0L, 0L)
        .otherwise(expr("(n_kept * 1000000) div sum(n_kept) OVER ()")))
      .withColumn("flat_pre_x1000",
        expr("(max(n_docs) OVER () * 1000) div greatest(min(n_docs) OVER (), 1)"))
      .withColumn("flat_post_x1000",
        expr("(max(n_kept) OVER () * 1000) div greatest(min(n_kept) OVER (), 1)"))
      .withColumn("flattened", col("flat_post_x1000") <= col("flat_pre_x1000"))
      .orderBy("bucket")
  }

  def lengthDebiasOracle: String = """
    WITH d AS (
      SELECT doc_id, n_chars // 50 AS bucket FROM documents),
    counts AS (
      SELECT bucket, CAST(count(1) AS BIGINT) AS n_docs
      FROM d GROUP BY bucket),
    rates AS (
      SELECT bucket, n_docs,
             CAST(least(1000000,
               ((CAST(sum(n_docs) OVER () AS BIGINT)
                 // CAST(count(1) OVER () AS BIGINT)) * 1000000)
                 // n_docs) AS BIGINT) AS rate_ppm
      FROM counts),
    kept AS (
      SELECT d.bucket, CAST(count(1) AS BIGINT) AS n_kept
      FROM d JOIN rates ON d.bucket = rates.bucket
      WHERE CAST((((d.doc_id * 13 + 7) % 2147483647) * 48271
              % 2147483647) * 48271 % 2147483647 AS DOUBLE) / 2147483647
            < CAST(rates.rate_ppm AS DOUBLE) / 1000000.0
      GROUP BY d.bucket),
    j AS (
      SELECT rates.bucket, rates.n_docs, rates.rate_ppm,
             CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept
      FROM rates LEFT JOIN kept ON rates.bucket = kept.bucket)
    SELECT bucket, n_docs, rate_ppm, n_kept,
           CAST((n_docs * 1000000) // sum(n_docs) OVER () AS BIGINT)
             AS share_pre_ppm,
           CAST(CASE WHEN sum(n_kept) OVER () = 0 THEN 0
             ELSE (n_kept * 1000000) // sum(n_kept) OVER () END AS BIGINT)
             AS share_post_ppm,
           CAST((max(n_docs) OVER () * 1000)
             // greatest(min(n_docs) OVER (), 1) AS BIGINT)
             AS flat_pre_x1000,
           CAST((max(n_kept) OVER () * 1000)
             // greatest(min(n_kept) OVER (), 1) AS BIGINT)
             AS flat_post_x1000,
           (max(n_kept) OVER () * 1000) // greatest(min(n_kept) OVER (), 1)
             <= (max(n_docs) OVER () * 1000)
               // greatest(min(n_docs) OVER (), 1) AS flattened
    FROM j ORDER BY bucket"""

  /** q9v: FILTER-THRESHOLD OPERATING-CURVE SWEEP — choosing WHERE to
    * cut a quality score is the real decision a curation pipeline
    * makes, and the right tool is the precision/recall/F1 curve
    * against a held-out label (here q9t's repetition label, which the
    * score's own inputs never see). One corpus scan builds a 21-bucket
    * score histogram with per-bucket positive counts; the entire sweep
    * then runs on that histogram — the threshold frame (21 rows, the
    * e4 grid in steps of 500) range-joins the histogram (bucket >=
    * threshold, exact because both live on the same 500-grid), so
    * corpus cost is independent of how many thresholds are swept. At
    * 100 TB the histogram is still 21 rows.
    *
    * All metrics are division-free or integer-div ppm: F1 simplifies
    * to 2·TP·1e6 div (P + POS) — counts only, no chained rounded
    * ratios — and the argmax row is flagged via rank over (f1 desc,
    * threshold asc), so `is_best` is deterministic under ties and the
    * whole curve replays exactly in DuckDB. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables
    val toks = Text.tokens(col("text"))
    val nTok = size(toks).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = size(filter(toks,
      t => t.isin(Text.StopWords.map(lit(_)): _*))).cast("double") / nTok
    val lengthOk = when(col("n_chars") >= 100, lit(1.0))
      .otherwise(col("n_chars") / 100.0)
    val docs = Tables.documents(spark, dir)
    val scored = docs.select(col("doc_id"),
      floor((lengthOk * 0.4 + diversity * 0.4
        + least(stopRatio * lit(5.0), lit(1.0)) * 0.2) * 1e4 + 0.5)
        .cast("long").as("score_e4"))
    val rep = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("mx"), sum("c").as("n_tok"))
    val hist = scored.join(rep, "doc_id")
      .select(least(expr("score_e4 div 500"), lit(20L)).as("bucket"),
        when(col("mx") * 10 < col("n_tok"), 1L).otherwise(0L).as("y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
    val thr = spark.range(21).toDF("t")
    val swept = thr.join(hist, col("bucket") >= col("t"), "left")
      .groupBy("t")
      .agg(coalesce(sum("n"), lit(0L)).as("p_pred"),
        coalesce(sum("n_pos"), lit(0L)).as("tp"))
    val all = Window.partitionBy() // 21 rows — bounded by construction
    val rankW = Window.orderBy(col("f1_ppm").desc, col("t"))
    swept
      .withColumn("pos_total", max(when(col("t") === 0L, col("tp"))).over(all))
      .withColumn("fp", col("p_pred") - col("tp"))
      .withColumn("fn", col("pos_total") - col("tp"))
      .withColumn("precision_ppm", when(col("p_pred") === 0L, 0L)
        .otherwise(expr("(tp * 1000000) div p_pred")))
      .withColumn("recall_ppm", when(col("pos_total") === 0L, 0L)
        .otherwise(expr("(tp * 1000000) div pos_total")))
      .withColumn("f1_ppm", when(col("p_pred") + col("pos_total") === 0L, 0L)
        .otherwise(expr("(2 * tp * 1000000) div (p_pred + pos_total)")))
      .withColumn("is_best", row_number().over(rankW) === 1)
      .select((col("t") * 500L).as("threshold_e4"), col("p_pred"), col("tp"),
        col("fp"), col("fn"), col("precision_ppm"), col("recall_ppm"),
        col("f1_ppm"), col("is_best"))
      .orderBy("threshold_e4")
  }

  def thresholdSweepOracle: String = """
    WITH t AS (
      SELECT doc_id, n_chars,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               AS n_distinct,
             CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
               AS n_stop
      FROM documents),
    s AS (
      SELECT doc_id,
             CAST(floor(((CASE WHEN n_chars >= 100 THEN 1.0
                           ELSE n_chars/100.0 END) * 0.4
               + (n_distinct / n_tokens) * 0.4
               + least((n_stop / n_tokens) * 5.0, 1.0) * 0.2) * 1e4 + 0.5)
               AS BIGINT) AS score_e4
      FROM t),
    u AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    tc AS (SELECT doc_id, tok, count(1) AS c FROM u GROUP BY 1, 2),
    rep AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS mx,
             CAST(sum(c) AS BIGINT) AS n_tok
      FROM tc GROUP BY doc_id),
    h AS (
      SELECT least(s.score_e4 // 500, 20) AS bucket,
             CAST(count(1) AS BIGINT) AS n,
             CAST(sum(CASE WHEN rep.mx * 10 < rep.n_tok THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pos
      FROM s JOIN rep ON s.doc_id = rep.doc_id GROUP BY 1),
    thr AS (SELECT unnest(range(21)) AS t),
    swept AS (
      SELECT thr.t,
             CAST(coalesce(sum(h.n), 0) AS BIGINT) AS p_pred,
             CAST(coalesce(sum(h.n_pos), 0) AS BIGINT) AS tp
      FROM thr LEFT JOIN h ON h.bucket >= thr.t GROUP BY thr.t),
    m AS (
      SELECT *,
             CAST(max(CASE WHEN t = 0 THEN tp END) OVER () AS BIGINT)
               AS pos_total
      FROM swept),
    r AS (
      SELECT t, p_pred, tp,
             CAST(p_pred - tp AS BIGINT) AS fp,
             CAST(pos_total - tp AS BIGINT) AS fn,
             CAST(CASE WHEN p_pred = 0 THEN 0
               ELSE (tp * 1000000) // p_pred END AS BIGINT) AS precision_ppm,
             CAST(CASE WHEN pos_total = 0 THEN 0
               ELSE (tp * 1000000) // pos_total END AS BIGINT) AS recall_ppm,
             CAST(CASE WHEN p_pred + pos_total = 0 THEN 0
               ELSE (2 * tp * 1000000) // (p_pred + pos_total) END AS BIGINT)
               AS f1_ppm
      FROM m)
    SELECT CAST(t * 500 AS BIGINT) AS threshold_e4, p_pred, tp, fp, fn,
           precision_ppm, recall_ppm, f1_ppm,
           row_number() OVER (ORDER BY f1_ppm DESC, t) = 1 AS is_best
    FROM r ORDER BY threshold_e4"""

  /** qas: DETERMINISTIC EPOCH SHUFFLE — the seeded data-order
    * permutation every training run performs per epoch, and must be
    * able to REPLAY (resume from step k, audit which examples a
    * checkpoint saw): each doc gets a Lehmer key from (doc_id, seed),
    * the corpus is range-sharded on the key (uniform by construction),
    * and the within-shard position is a window rank — global order =
    * (shard, pos). The shape is the scale-correct one: a single global
    * `row_number` would serialize the corpus through one partition (the
    * WindowExec single-partition trap); sharding first keeps every
    * window partition-local, which is exactly how distributed loaders
    * implement epoch shuffles (shard-then-local-shuffle). The graded
    * rows pin the ENTIRE permutation per shard with the exact integer
    * checksum Σ(pos·doc_id) — any swap of two positions changes it —
    * which DuckDB replays from the same arithmetic. */
  def epochShuffle(spark: SparkSession, dir: String,
      seed: Long = 7L, shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = LehmerM
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val keyed = docs.withColumn("key",
      expr(s"(((doc_id * 31 + $seed) % $m) * 48271 % $m) * 48271 % $m"))
      .withColumn("shard", expr(s"cast(key * $shards div $m as int)"))
    val w = Window.partitionBy("shard").orderBy(col("key"), col("doc_id"))
    keyed
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        sum("n_chars").as("chars"),
        sum(col("pos") * col("doc_id")).as("perm_checksum"))
      .orderBy("shard")
  }

  def epochShuffleOracle: String = """
    WITH k AS (
      SELECT doc_id, n_chars,
             (((doc_id * 31 + 7) % 2147483647) * 48271 % 2147483647)
               * 48271 % 2147483647 AS key
      FROM documents),
    s AS (SELECT doc_id, n_chars, key,
                 CAST(key * 8 // 2147483647 AS INTEGER) AS shard
          FROM k),
    p AS (SELECT shard, doc_id, n_chars,
                 row_number() OVER (PARTITION BY shard
                                    ORDER BY key, doc_id) AS pos
          FROM s)
    SELECT shard, CAST(count(1) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(sum(pos * doc_id) AS BIGINT) AS perm_checksum
    FROM p GROUP BY shard ORDER BY shard"""

  /** qb5: PRIORITY SAMPLING (Duffield–Lund–Thorup, JACM 2007) — the
    * weighted fixed-size sample whose subset-sum estimator is provably
    * unbiased: each row draws priority p_i = w_i / u_i (u_i the
    * deterministic per-row Lehmer uniform), the k highest-priority
    * rows are kept, τ is the (k+1)-th priority, and any subset's
    * weight is estimated by Σ max(w_i, τ) over its sampled members —
    * E[estimate] = Σ w_i exactly, with near-optimal variance among
    * k-sample schemes. This is how a 100 TB warehouse answers
    * arbitrary slice totals from a kilobyte sample: the graded rows
    * estimate per-returnflag revenue from the k=300 sample next to
    * the exact totals, with the realized error in ppm — the
    * variance the theorem trades for the 200× data reduction,
    * measured rather than asserted.
    *
    * Scale shape: the only non-narrow steps are TWO distributed
    * top-(k+1) selections (`orderBy(...).limit(...)` plans as
    * TakeOrderedAndProject — per-partition heaps merged on the
    * driver, never a global sort or single-partition window) and the
    * per-group aggregates. The estimator sums per-row integer cents
    * AFTER the max(w, τ) clamp, so the graded numbers are exact
    * integers in both engines — float only inside the (bit-identical
    * IEEE) priority division. Sampling is replayable because u_i
    * rides the q46 Lehmer gate on the packed row id, not a session
    * RNG. */
  def prioritySample(spark: SparkSession, dir: String,
      k: Int = 300): DataFrame = {
    // packed unique row id: l_linenumber <= 7 in TPC-H, and +1 keeps
    // the id off the Lehmer fixed point at 0
    val rid = (col("l_orderkey") * 8L + col("l_linenumber") + 1L)
    val pri = Tables.lineitem(spark, dir)
      .select(rid.as("rid"), col("l_returnflag"),
        col("l_extendedprice").as("w"))
      .withColumn("u",
        (pmod(col("rid"), lit(LehmerM)) * lit(48271L) % lit(LehmerM)
          * lit(48271L) % lit(LehmerM) + 1L).cast("double")
          / lit(LehmerM.toDouble + 1.0))
      .withColumn("p", col("w") / col("u"))
    // distributed top-(k+1): per-partition heaps, driver merge
    val topK1 = pri.orderBy(desc("p"), col("rid")).limit(k + 1)
    val tau = topK1.agg(min("p").as("tau"))
    val sample = pri.orderBy(desc("p"), col("rid")).limit(k)
    val est = sample.crossJoin(broadcast(tau))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_sampled"),
        sum(round(greatest(col("w"), col("tau")) * 100d).cast("long"))
          .as("est_c"))
    val exact = pri.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("w") * 100d).cast("long")).as("exact_c"))
    exact.join(est, Seq("l_returnflag"), "left")
      .na.fill(0L, Seq("n_sampled", "est_c"))
      .select(col("l_returnflag"), col("n_rows"), col("n_sampled"),
        col("exact_c"), col("est_c"),
        expr("abs(est_c - exact_c) * 1000000 div exact_c").as("err_ppm"))
      .orderBy("l_returnflag")
  }

  /** DuckDB replay of [[prioritySample]]: same packed ids, same
    * Lehmer uniforms, same priorities, same τ, same cents-clamped
    * estimator. */
  def prioritySampleOracle: String = """
    WITH pri AS (
      SELECT l_returnflag, l_extendedprice AS w,
             l_orderkey * 8 + l_linenumber + 1 AS rid,
             l_extendedprice /
               (((l_orderkey * 8 + l_linenumber + 1) % 2147483647
                 * 48271 % 2147483647 * 48271 % 2147483647 + 1)
                / (2147483647.0 + 1.0)) AS p
      FROM lineitem),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY p DESC, rid) AS rk FROM pri),
    tau AS (SELECT p AS tau FROM ranked WHERE rk = 301),
    est AS (
      SELECT l_returnflag,
             CAST(count(1) AS BIGINT) AS n_sampled,
             CAST(sum(CAST(round(greatest(w, tau.tau) * 100) AS BIGINT))
               AS BIGINT) AS est_c
      FROM ranked CROSS JOIN tau WHERE rk <= 300 GROUP BY 1),
    exact AS (
      SELECT l_returnflag,
             CAST(count(1) AS BIGINT) AS n_rows,
             CAST(sum(CAST(round(w * 100) AS BIGINT)) AS BIGINT) AS exact_c
      FROM pri GROUP BY 1)
    SELECT exact.l_returnflag, n_rows,
           CAST(coalesce(est.n_sampled, 0) AS BIGINT) AS n_sampled,
           exact_c,
           CAST(coalesce(est.est_c, 0) AS BIGINT) AS est_c,
           abs(CAST(coalesce(est.est_c, 0) AS BIGINT) - exact_c) * 1000000
             // exact_c AS err_ppm
    FROM exact LEFT JOIN est USING (l_returnflag)
    ORDER BY l_returnflag"""
}
