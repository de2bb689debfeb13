package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (SURVEY.md §2.3
  * "Text analysis"): token counting, quality scoring, language-ID and
  * document fingerprinting. All are narrow per-row transforms — no
  * shuffle except the final reporting aggregations — so they scale
  * linearly with input splits at 100 TB.
  *
  * Everything is expressed with codegen'd built-ins, codegen'd kernels
  * (`graft.functions`) and higher-order array functions
  * (`transform`/`filter`/`aggregate`), never Scala UDFs.
  */
object Text {

  /** Tokenize on single spaces (the fixture corpus is space-separated;
    * a BPE-ish fallback regex handles arbitrary text). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish tokenization for arbitrary text: letter runs, digit runs,
    * and single punctuation marks each become tokens. */
  def tokensRegex(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Token trigrams: [[ngrams]] with n = 3, except that a doc shorter
    * than 3 tokens falls back to one whole-text gram. */
  def trigrams(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) < 3, array(text)).otherwise(ngrams(toks, 3))
  }

  /** Token n-grams (n ≥ 2): the len−n+1 full windows, each its tokens
    * joined by single spaces (null tokens skipped, as `concat_ws` skips
    * them), or [] for a shorter doc. One codegen'd window pass per
    * document ([[graft.functions.TextKernels.ngrams]]). */
  def ngrams(toks: Column, n: Int): Column = {
    require(n >= 2, s"ngrams needs n >= 2, got $n")
    graft.functions.TextKernels.tokenNGrams(toks, n)
  }

  /** One-pass run-length scan over a SORTED array: returns
    * struct(max_run, n_distinct) — i.e. the count of the most frequent
    * element and the distinct-element count — without any shuffle or
    * explode. The per-document repetition statistics (q48) ride on this:
    * sort the gram array, scan once. */
  def runLengthScan(sorted: Column): Column =
    aggregate(
      sorted,
      // `started` flags whether prev holds a real element — a string
      // sentinel like "" would silently merge with a genuine leading
      // empty-string element and undercount n_distinct
      struct(lit(false).as("started"), lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("max_run"), lit(0L).as("n_distinct")),
      (acc, x) => {
        val same = acc.getField("started") && x === acc.getField("prev")
        val run = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
        struct(lit(true).as("started"), x.as("prev"), run.as("run"),
          greatest(acc.getField("max_run"), run).as("max_run"),
          when(same, acc.getField("n_distinct"))
            .otherwise(acc.getField("n_distinct") + 1L).as("n_distinct"))
      },
      acc => struct(acc.getField("max_run").as("max_run"),
        acc.getField("n_distinct").as("n_distinct")))

  /** q48: Gopher-style repetition filters (Rae et al. 2021 §A1.1 "repeated
    * n-grams") — fraction of bigrams occupied by the single most frequent
    * bigram, and fraction of duplicated trigrams. Both are computed
    * per-document as array_sort + one [[runLengthScan]] pass: a NARROW
    * projection with zero shuffles, so at 100 TB the filter runs entirely
    * inside the parquet scan stage (contrast the oracle, which replays it
    * relationally via unnest + GROUP BY). The `repetitive` flag applies
    * the thresholds to the ROUNDED fractions so the boolean is replayable
    * bit-for-bit. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    // the sort+run-length HOFs are the heavy part; spread a narrow
    // fixture scan so they run at session parallelism — at 100 TB the
    // scan is wide and this is a no-op, preserving the
    // inside-the-scan-stage shape described above
    val withGrams = Tables.spreadIfNarrow(Tables.documents(spark, dir))
      .withColumn("toks", tokens(col("text")))
      .withColumn("bstat", runLengthScan(array_sort(ngrams(col("toks"), 2))))
      .withColumn("tstat", runLengthScan(array_sort(ngrams(col("toks"), 3))))
    withGrams
      .withColumn("n_bigrams",
        greatest(size(col("toks")) - 1, lit(0)).cast("long"))
      .withColumn("n_trigrams",
        greatest(size(col("toks")) - 2, lit(0)).cast("long"))
      // docs too short to have grams score 0.0, not NULL — keeps the
      // row set identical to the oracle's (which LEFT-JOINs + COALESCEs)
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") === 0, lit(0.0)).otherwise(
          round(col("bstat.max_run").cast("double") / col("n_bigrams"), 4)))
      .withColumn("dup_trigram_frac",
        when(col("n_trigrams") === 0, lit(0.0)).otherwise(
          round(lit(1.0) - col("tstat.n_distinct").cast("double") / col("n_trigrams"), 4)))
      .select(
        col("doc_id"), col("n_bigrams"),
        col("top_bigram_frac"), col("dup_trigram_frac"),
        (col("top_bigram_frac") > 0.18 || col("dup_trigram_frac") > 0.05)
          .as("repetitive"))
      .orderBy("doc_id")
  }

  /** Deterministic per-token hash from cheap features (length, first and
    * last code points). Chosen to be expressible identically in any ANSI
    * SQL engine (the DuckDB oracle) — the production-strength path for
    * near-dup detection uses xxhash64 (Dedup.scala) instead. */
  def tokenHash(t: Column): Column =
    (length(t) * lit(1000003L)
      + ascii(t) * lit(65599L)
      + ascii(substring(t, -1, 1)) * lit(31L)) % lit(1000000007L)

  /** Rolling polynomial fingerprint over the token stream:
    * fp = fold(tokens, 0, (acc, t) => (acc*31 + hash(t)) mod p).
    * Order-sensitive, so re-ordered documents fingerprint differently. */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => tokenHash(t)),
      lit(0L),
      (acc, h) => (acc * 31L + h) % lit(1000000007L))

  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Per-document token statistics: token count, distinct-token count,
    * average token length, stopword ratio. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("lang"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        round(
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
            / size(toks), 4).as("avg_token_len"),
        size(filter(toks, t => t.isin(StopWords.map(lit(_)): _*)))
          .cast("long").as("n_stopwords"))
      .orderBy("doc_id")
  }

  /** q4z: TOKENIZER FERTILITY by language — the multilingual
    * budget metric (chars consumed per token emitted): a tokenizer
    * with low fertility on a language burns that language's context
    * budget faster, and the per-language spread is how tokenizer bias
    * is actually measured when sizing multilingual mixtures. Two
    * tokenizations side by side — whitespace and the BPE-ish regex —
    * per-language totals in exact integers, fertility as
    * floor(chars·1e6/tokens + 0.5): both engines divide the SAME two
    * exact integers, so the doubles agree bitwise and the floor can't
    * straddle. One narrow projection + one hash aggregate — no
    * shuffle beyond the |langs|-row rollup at any corpus size. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("lang"),
        length(col("text")).cast("long").as("chars"),
        size(tokens(col("text"))).cast("long").as("ws"),
        size(tokensRegex(col("text"))).cast("long").as("re"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("chars").as("n_chars"),
        sum("ws").as("ws_tokens"),
        sum("re").as("re_tokens"))
      .withColumn("ws_fertility_ppm",
        floor(col("n_chars").cast("double") / col("ws_tokens") * 1e6 + 0.5))
      .withColumn("re_fertility_ppm",
        floor(col("n_chars").cast("double") / col("re_tokens") * 1e6 + 0.5))
      .orderBy("lang")
  }

  val tokenizerFertilityOracle: String = """
    WITH t AS (
      SELECT lang, length(text) AS chars,
             len(string_split(text, ' ')) AS ws,
             len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re
      FROM documents),
    a AS (
      SELECT lang,
             CAST(count(1) AS BIGINT) AS n_docs,
             CAST(sum(chars) AS BIGINT) AS n_chars,
             CAST(sum(ws) AS BIGINT) AS ws_tokens,
             CAST(sum(re) AS BIGINT) AS re_tokens
      FROM t GROUP BY lang)
    SELECT lang, n_docs, n_chars, ws_tokens, re_tokens,
           CAST(floor(CAST(n_chars AS DOUBLE) / ws_tokens * 1e6 + 0.5)
             AS BIGINT) AS ws_fertility_ppm,
           CAST(floor(CAST(n_chars AS DOUBLE) / re_tokens * 1e6 + 0.5)
             AS BIGINT) AS re_fertility_ppm
    FROM a ORDER BY lang"""

  /** Quality score in [0,1]: penalizes very short docs, low vocabulary
    * diversity and stopword-free (unnatural) text. Deterministic rational
    * arithmetic so it is oracle-checkable. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = size(filter(toks, t => t.isin(StopWords.map(lit(_)): _*)))
      .cast("double") / nTok
    val lengthOk = when(col("n_chars") >= 100, lit(1.0)).otherwise(col("n_chars") / 100.0)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        round(nTok, 2).as("n_tokens"),
        round(diversity, 4).as("diversity"),
        round(stopRatio, 4).as("stop_ratio"),
        round((lengthOk * 0.4 + diversity * 0.4
          + least(stopRatio * lit(5.0), lit(1.0)) * 0.2), 4).as("quality"))
      .orderBy("doc_id")
  }

  /** q8c: PER-SOURCE QUALITY COMPARISON — the feed-level filtering
    * decision built on q41's per-doc score: for each source, the doc
    * count, exact integer mean, exact MEDIAN (q1r's histogram
    * decomposition — scores live on the e4 grid, so the order
    * statistic comes from cumulative counts over a ≤|sources|·|grid|
    * histogram, never a per-group value buffer), the share of docs
    * below the 0.5 quality floor, and the drop/keep verdict
    * (`source_ok` ⟺ low share < 20%). The score is q41's arithmetic
    * quantized to e4 integers (the same grid q41's round(…, 4)
    * already grades), so the whole rollup replays exactly. One scan +
    * one histogram shuffle; windows run over the histogram only. */
  def sourceQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = size(filter(toks, t => t.isin(StopWords.map(lit(_)): _*)))
      .cast("double") / nTok
    val lengthOk = when(col("n_chars") >= 100, lit(1.0)).otherwise(col("n_chars") / 100.0)
    val scored = Tables.documents(spark, dir).select(
      col("source"),
      floor((lengthOk * 0.4 + diversity * 0.4
        + least(stopRatio * lit(5.0), lit(1.0)) * 0.2) * 1e4 + 0.5)
        .cast("long").as("score_e4"))
    val h = scored.groupBy("source", "score_e4").agg(count(lit(1)).as("c"))
    val bySrc = Window.partitionBy("source")
    val cumW = bySrc.orderBy("score_e4")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h2 = h.withColumn("cum", sum("c").over(cumW))
      .withColumn("n", sum("c").over(bySrc))
      .withColumn("lo_pos", expr("(n + 1) div 2"))
      .withColumn("hi_pos", expr("(n + 2) div 2"))
    def bucketOf(pos: Column): Column =
      col("cum") - col("c") < pos && col("cum") >= pos
    h2.groupBy("source").agg(
      max("n").as("n_docs"),
      sum(col("score_e4") * col("c")).as("sum_e4"),
      (min(when(bucketOf(col("lo_pos")), col("score_e4")))
        + min(when(bucketOf(col("hi_pos")), col("score_e4")))).as("med2_e4"),
      sum(when(col("score_e4") < 5000L, col("c")).otherwise(0L)).as("n_low"))
      .select(col("source"), col("n_docs"),
        expr("sum_e4 div n_docs").as("mean_e4"),
        col("med2_e4"), col("n_low"),
        expr("(n_low * 1000000) div n_docs").as("low_ppm"))
      .withColumn("source_ok", col("low_ppm") < 200000L)
      .orderBy("source")
  }

  def sourceQualityOracle: String = """
    WITH t AS (
      SELECT source, n_chars,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_distinct,
             CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) AS n_stop
      FROM documents),
    s AS (
      SELECT source,
             CAST(floor(((CASE WHEN n_chars >= 100 THEN 1.0
                           ELSE n_chars/100.0 END) * 0.4
               + (n_distinct / n_tokens) * 0.4
               + least((n_stop / n_tokens) * 5.0, 1.0) * 0.2) * 1e4 + 0.5)
               AS BIGINT) AS score_e4
      FROM t),
    h AS (SELECT source, score_e4, count(1) AS c FROM s GROUP BY 1, 2),
    h2 AS (
      SELECT *,
             sum(c) OVER (PARTITION BY source ORDER BY score_e4
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(c) OVER (PARTITION BY source) AS n
      FROM h),
    m AS (
      SELECT source, max(n) AS n_docs,
             sum(score_e4 * c) AS sum_e4,
             min(CASE WHEN cum - c < (n+1)//2 AND cum >= (n+1)//2
                      THEN score_e4 END)
             + min(CASE WHEN cum - c < (n+2)//2 AND cum >= (n+2)//2
                        THEN score_e4 END) AS med2_e4,
             sum(CASE WHEN score_e4 < 5000 THEN c ELSE 0 END) AS n_low
      FROM h2 GROUP BY source)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(sum_e4 // n_docs AS BIGINT) AS mean_e4,
           CAST(med2_e4 AS BIGINT) AS med2_e4,
           CAST(n_low AS BIGINT) AS n_low,
           CAST((n_low * 1000000) // n_docs AS BIGINT) AS low_ppm,
           (n_low * 1000000) // n_docs < 200000 AS source_ok
    FROM m ORDER BY source"""

  /** n-gram-heuristic language ID: score each candidate language by its
    * marker-token hit rate and pick the argmax (ties broken by fixed
    * language order). The fixture corpus is synthetic so markers are
    * frequency-based, but the operator shape — per-row scoring against a
    * broadcast-sized marker table, no shuffle — is the 100 TB shape. */
  def languageId(spark: SparkSession, dir: String): DataFrame = {
    val markers: Map[String, Seq[String]] = Map(
      "en" -> Seq("the", "a", "of"),
      "es" -> Seq("el", "la", "de"),
      "fr" -> Seq("le", "la", "et"),
      "de" -> Seq("der", "die", "und"))
    val toks = tokens(col("text"))
    val scored = markers.foldLeft(Tables.documents(spark, dir)) {
      case (df, (lang, ws)) =>
        df.withColumn(s"score_$lang",
          size(filter(toks, t => t.isin(ws.map(lit(_)): _*))))
    }
    val langs = markers.keys.toSeq.sorted
    val best = langs.tail.foldLeft(
      struct(col(s"score_${langs.head}").as("s"), lit(langs.head).as("l"))) {
      (acc, lang) =>
        when(col(s"score_$lang") > acc.getField("s"),
          struct(col(s"score_$lang").as("s"), lit(lang).as("l"))).otherwise(acc)
    }
    scored
      .select(col("doc_id"), col("lang").as("labelled_lang"),
        best.getField("l").as("detected_lang"),
        best.getField("s").as("marker_hits"))
      .orderBy("doc_id")
  }

  /** TF-IDF as plain relational algebra (E-13): explode → per-(doc,term)
    * counts → document frequency → smoothed idf → per-doc top-3 terms by
    * tf·idf. Fully deterministic (ties broken by term), so it is
    * DuckDB-oracle-checkable — unlike CountVectorizer, whose vocabulary
    * index order is frequency-with-arbitrary-ties. Shuffles: one on
    * (doc_id, term), one on term (df is tiny and broadcast back), one
    * window on doc_id — each on exactly the key it aggregates. */
  def tfIdfTopTerms(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct("doc_id").as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(df), "term")
      .join(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 4))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy("doc_id", "rk")
  }

  /** q4r: BM25 RETRIEVAL SCORING — the ranking function behind every
    * lexical retriever (and the first-stage candidate generator in
    * RAG pipelines): Lucene-variant BM25 (k1 = 1.2, b = 0.75,
    * idf = ln(1 + (N − df + ½)/(df + ½)), always positive) for a fixed
    * query term set, top-k documents.
    *
    * Determinism: each (doc, term) contribution is ONE rational-plus-
    * log expression — computed once, quantized to an e6 integer at the
    * row level — and the per-document score is then an exact INTEGER
    * sum, immune to float summation order under partial aggregation
    * (the q1e lesson; `round(sum(double))` would be a shuffle-order
    * coin flip). Cross-engine log risk at the 1e-6 grain on O(1)
    * values matches the long-green q44 regime.
    *
    * Plan: doc-length aggregate + corpus stats (1 row, broadcast),
    * query-term postings filtered BEFORE the tf aggregate (the
    * inverted-index asymmetry: |query| ≪ |vocab|, so the fact-table
    * shuffle carries only matching postings), df broadcast back,
    * TakeOrdered top-k — no global sort. */
  def bm25TopDocs(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("spark", "join", "window"),
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.groupBy().agg(
      sum("dl").as("sum_dl"), count(lit(1)).as("n_docs"))
    val tf = terms.where(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib_e6",
        floor(col("idf") * (col("tf") * lit(k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
          * 1e6 + 0.5))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_hit"), max("dl").as("dl"),
        sum("contrib_e6").as("score_bm25_e6"))
      .orderBy(col("score_bm25_e6").desc, col("doc_id"))
      .limit(topK)
  }

  def bm25TopDocsOracle: String = """
    WITH terms AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    dl AS (SELECT doc_id, count(1) AS dl FROM terms GROUP BY doc_id),
    stats AS (SELECT sum(dl) AS sum_dl, count(1) AS n_docs FROM dl),
    tf AS (
      SELECT doc_id, term, count(1) AS tf FROM terms
      WHERE term IN ('spark', 'join', 'window')
      GROUP BY doc_id, term),
    df AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, dl.dl,
             CAST(floor(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
                   / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))
               * 1e6 + 0.5) AS BIGINT) AS contrib_e6
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats)
    SELECT doc_id, CAST(count(1) AS BIGINT) AS n_terms_hit,
           CAST(max(dl) AS BIGINT) AS dl,
           CAST(sum(contrib_e6) AS BIGINT) AS score_bm25_e6
    FROM scored GROUP BY doc_id
    ORDER BY score_bm25_e6 DESC, doc_id LIMIT 10"""

  /** q4s: N-GRAM NOVELTY — the corpus-diversity audit run before
    * (and after) dedup on a crawl snapshot: per source, how many of
    * the token 8-grams are unique vs repeated (high repetition ⇒
    * boilerplate/template contamination; the same statistic measured
    * train-vs-train is the memorization denominator for q49's
    * decontamination). Two-level exact distinct: the fact table
    * collapses to a (source, gram) histogram in ONE hash aggregate
    * (map-side combine carries most of the weight), then distinct =
    * row count and total = Σocc over the histogram — no countDistinct
    * EXPAND, no second scan. `max_gram_occ` surfaces the worst
    * single template. Novelty is one correctly-rounded integer
    * division (ppm). */
  def ngramNovelty(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    // the 8-gram explode + map-side combine is ~100× the text bytes in
    // work; spread a narrow fixture scan first (no-op at real scale)
    val g = Tables.spreadIfNarrow(Tables.documents(spark, dir))
      .select(col("source"), explode(ngrams(tokens(col("text")), n)).as("gram"))
    g.groupBy("source", "gram").agg(count(lit(1)).as("occ"))
      .groupBy("source")
      .agg(sum("occ").as("total_grams"),
        count(lit(1)).as("distinct_grams"),
        max("occ").as("max_gram_occ"))
      .withColumn("novelty_ppm",
        floor((col("distinct_grams") * 1000000L).cast("double")
          / col("total_grams") + 0.5))
      .select("source", "total_grams", "distinct_grams", "novelty_ppm",
        "max_gram_occ")
      .orderBy("source")
  }

  def ngramNoveltyOracle: String = """
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT source,
             unnest(list_transform(range(1, len(t) - 6),
               i -> array_to_string(t[i:i+7], ' '))) AS gram
      FROM toks),
    h AS (SELECT source, gram, count(1) AS occ FROM g GROUP BY 1, 2)
    SELECT source,
           CAST(sum(occ) AS BIGINT) AS total_grams,
           CAST(count(1) AS BIGINT) AS distinct_grams,
           CAST(floor(CAST(count(1) * 1000000 AS DOUBLE) / sum(occ) + 0.5)
             AS BIGINT) AS novelty_ppm,
           CAST(max(occ) AS BIGINT) AS max_gram_occ
    FROM h GROUP BY source ORDER BY source"""

  /** Rolling-hash fingerprint per document + duplicate-fingerprint audit. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** q4a: statistical quality filtering by unigram language-model score —
    * the CCNet/KenLM-filter shape: fit a LM on the corpus, keep documents
    * whose mean token log-probability clears a threshold (gibberish and
    * boilerplate score far from the bulk). The "fit" is one token-count
    * aggregate; scoring joins each document's exploded tokens to the
    * BROADCAST frequency table — at 100 TB the table is the top-K vocab
    * with an OOV floor (still broadcast-sized by construction), and
    * scoring stays a map-side join + one per-doc aggregate. The `kept`
    * flag compares the ROUNDED score, making it a pure function of the
    * graded column. */
  def unigramLogProb(spark: SparkSession, dir: String,
      threshold: Double = -3.41): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // vocab-sized; cached so deriving the total reads the table instead
    // of re-running the corpus tokenize+count lineage a second time
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt")).cache()
    val tot = freq.agg(sum("cnt").as("total"))
    toks.join(broadcast(freq), "tok")
      .join(broadcast(tot))
      .withColumn("lp", log(col("cnt").cast("double") / col("total")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg("lp"), 4).as("avg_logprob"))
      .withColumn("kept", col("avg_logprob") > threshold)
      .orderBy("doc_id")
  }

  /** q4j: BIGRAM LM SCORING — the CCNet/perplexity-filter shape one
    * level up from q4a's unigram model: a bigram language model with
    * add-one smoothing is fit on the corpus IN the same job, then every
    * document is scored by its average bigram log-probability and
    * perplexity. Low-probability documents are what a quality filter
    * drops; emitting the score (not the verdict) keeps thresholding a
    * downstream policy choice.
    *
    * Plan shape: bigrams are built per row with an array transform
    * (sequence + struct lambda — zero shuffle, the q4d/trigram rule:
    * never element_at(split) inside a lambda), counts are two hash
    * aggregates, and scoring joins the bigram stream back to the count
    * tables on their natural keys — plain equi joins Catalyst/AQE can
    * broadcast while they fit (they do here) and shuffle when a 100 TB
    * corpus grows the n-gram tables past the broadcast budget; only V
    * rides an always-1-row broadcast. P(b|a) = (c(a,b)+1)/(c(a)+V). */
  def bigramScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 2) // sequence(0, size-2) needs ≥2 tokens
    val pairs = docs.select(col("doc_id"),
      explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS a, toks[i+1] AS b))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
    // vocab-sized; session-scoped cache (accepted repo pattern — the
    // graded run evaluates each query once and Verify/Bench own the
    // session lifetime, so early unpersist would only re-run lineage)
    val uni = docs.select(explode(col("toks")).as("a"))
      .groupBy("a").agg(count(lit(1)).as("c_a")).cache()
    val vocab = uni.agg(count(lit(1)).cast("double").as("v"))
    val big = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    pairs
      .join(big, Seq("a", "b"))
      .join(uni, Seq("a"))
      .join(broadcast(vocab))
      .withColumn("lp", log((col("c_ab") + 1.0) / (col("c_a") + col("v"))))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg("lp"), 4).as("avg_logprob"),
        round(exp(-avg(col("lp"))), 2).as("perplexity"))
      .orderBy("doc_id")
  }

  /** One Misra-Gries pass over a partition's tokens with k bounded
    * counters: a non-resident token either claims a free counter or
    * decrements all k. Classic guarantee: any token with partition
    * frequency > n_p/(k+1) still holds a counter at the end. The
    * decrement-all here is O(k) per eviction — fine for audit-sized k;
    * production implementations amortize it with count-grouped buckets,
    * which changes nothing about the survivors. */
  private[graft] def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      counters.get(t) match {
        case Some(c) => counters(t) = c + 1
        case None if counters.size < k => counters(t) = 1L
        case None =>
          val dead = List.newBuilder[String]
          counters.foreach { case (key, c) =>
            if (c == 1L) dead += key else counters(key) = c - 1
          }
          dead.result().foreach(counters.remove)
      }
    }
    counters.keysIterator
  }

  /** q4c: HEAVY HITTERS with a bounded-memory sketch — the streaming
    * top-token question a 100 TB corpus can't answer with a full
    * groupBy (the token-count table itself is huge; the sketch holds
    * k counters per partition, full stop). Two passes, the standard
    * scale shape: (1) per-partition Misra-Gries → candidate union
    * (≤ k·numPartitions ids — broadcastable by construction; a
    * globally-heavy token is locally heavy in ≥1 partition by
    * pigeonhole, so the union keeps every token with global count
    * > n/(k+1)); (2) exact recount of candidates only. The graded
    * output folds the MG theorem into each row the q62/q63 way:
    * `hh_ok` = guaranteed → surviving, which a correct implementation
    * makes TRUE regardless of how the input happened to be
    * partitioned (raw candidate membership for NON-guaranteed tokens
    * is partitioning-dependent, so only the implication is emitted).
    * The exact top-N side is the audit harness for the oracle — the
    * operator under test is the sketch. */
  def heavyHitters(spark: SparkSession, dir: String,
      k: Int = 100, topN: Int = 10): DataFrame = {
    import org.apache.spark.sql.Encoders
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
    val cands = toks.as(Encoders.STRING)
      .mapPartitions(it => misraGries(it, k))(Encoders.STRING)
      .toDF("tok").distinct()
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = exact.agg(sum("cnt").as("n_total"))
    exact.orderBy(col("cnt").desc, col("tok")).limit(topN)
      .join(broadcast(cands.withColumn("is_cand", lit(true))), Seq("tok"), "left")
      .join(broadcast(total))
      .withColumn("guaranteed",
        col("cnt") > col("n_total").cast("double") / (k + 1))
      .select(
        col("tok"), col("cnt"), col("guaranteed"),
        (!col("guaranteed") || coalesce(col("is_cand"), lit(false))).as("hh_ok"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** PII patterns shared by the redactor and its counters. Kept to the
    * regex subset Java and RE2 (DuckDB) interpret identically — char
    * classes, bounded quantifiers, `\b` — so the oracle replays the
    * redaction byte-for-byte. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** Scrub emails, IPv4 addresses, and phone-shaped numbers — the
    * standard pre-training privacy pass. Order matters: emails first
    * (their dotted domains must not be half-eaten by the IP rule),
    * then IPs, then phones. Pure codegen'd `regexp_replace`, narrow,
    * no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** q45: redaction over documents. The fixture corpus carries no PII,
    * so each document gets a DETERMINISTIC synthetic contact suffix
    * (derived from doc_id — the oracle rebuilds the identical input),
    * and the query emits the redacted text plus per-kind match counts.
    * A wrong pattern, wrong replacement order, or engine-dialect
    * divergence shows up as a hash mismatch. */
  def piiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.com from 10.0."),
        col("doc_id") % 256, lit(".7 tel 555-"),
        (col("doc_id") % 9000) + 1000).as("txt"))
    withPii.select(
      col("doc_id"),
      redactPii(col("txt")).as("redacted"),
      regexp_count(col("txt"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("txt"), lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(col("txt"), lit(PhoneRe)).cast("long").as("n_phones"))
      .orderBy("doc_id")
  }

  /** q4p: LANGUAGE-ID CONFUSION MATRIX — the evaluation read over
    * q42's marker detector: (labelled, detected) cell counts, each
    * cell's share of its labelled row, and the global accuracy
    * replicated per row. Labels outside the detector's 4-language
    * marker set can never be detected correctly — the matrix shows
    * exactly where that mass lands, which is the point of the audit.
    * Integer counts + ppm floors; one q42 pass + a ≤|langs|² aggregate.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val det = languageId(spark, dir)
    val byLabel = Window.partitionBy("labelled_lang")
    val tot = Window.partitionBy()
    det.groupBy("labelled_lang", "detected_lang").agg(count(lit(1)).as("n"))
      .withColumn("row_share_ppm",
        floor(col("n").cast("double") / sum(col("n")).over(byLabel) * 1e6 + 0.5))
      .withColumn("accuracy_ppm",
        floor(sum(when(col("labelled_lang") === col("detected_lang"), col("n"))
            .otherwise(0L)).over(tot).cast("double")
          / sum(col("n")).over(tot) * 1e6 + 0.5))
      .orderBy("labelled_lang", "detected_lang")
  }

  def langConfusionOracle: String = """
    WITH s AS (
      SELECT doc_id, lang,
        len(list_filter(string_split(text,' '), t -> t IN ('der','die','und'))) AS s_de,
        len(list_filter(string_split(text,' '), t -> t IN ('the','a','of')))    AS s_en,
        len(list_filter(string_split(text,' '), t -> t IN ('el','la','de')))    AS s_es,
        len(list_filter(string_split(text,' '), t -> t IN ('le','la','et')))    AS s_fr
      FROM documents),
    d AS (
      SELECT lang AS labelled_lang,
             CASE WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
                  WHEN s_es > greatest(s_de, s_en)       THEN 'es'
                  WHEN s_en > s_de                       THEN 'en'
                  ELSE 'de' END AS detected_lang
      FROM s),
    m AS (
      SELECT labelled_lang, detected_lang, count(1) AS n
      FROM d GROUP BY 1, 2)
    SELECT labelled_lang, detected_lang, CAST(n AS BIGINT) AS n,
           CAST(floor(CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY labelled_lang) * 1e6 + 0.5)
             AS BIGINT) AS row_share_ppm,
           CAST(floor(CAST(sum(CASE WHEN labelled_lang = detected_lang
               THEN n ELSE 0 END) OVER () AS DOUBLE)
             / sum(n) OVER () * 1e6 + 0.5) AS BIGINT) AS accuracy_ppm
    FROM m ORDER BY labelled_lang, detected_lang"""

  /** q4n: VOCABULARY COVERAGE / OOV-RATE AUDIT — the tokenizer-fit
    * check run before committing a vocab: fit the top-100 tokens
    * in-job (frequency desc, token asc — the boundary tie is pinned),
    * then measure each language's out-of-vocabulary token rate against
    * it. The vocab is a 100-row broadcast (at any corpus size — the
    * vocab is fixed by construction); the corpus side is one explode +
    * one broadcast-hash left join + one hash aggregate. Counts are
    * integers; the rate is one floored ppm division. */
  def vocabCoverage(spark: SparkSession, dir: String,
      vocabSize: Int = 100): DataFrame = {
    // ONE pass over the corpus: explode once into per-(lang, token)
    // counts, cache the reduced table, and derive both the vocab fit
    // and the coverage join from it — without the cache the two
    // consumers would each re-run the corpus explode
    val tokCounts = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      .cache()
    val vocab = tokCounts.groupBy("tok").agg(sum("n").as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    tokCounts.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("lang")
      .agg(
        sum("n").as("total_tokens"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_ppm",
        floor(col("oov_tokens").cast("double") / col("total_tokens") * 1e6 + 0.5))
      .orderBy("lang")
  }

  def vocabCoverageOracle: String = """
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, count(1) AS cnt FROM tok GROUP BY tok
        ORDER BY cnt DESC, tok LIMIT 100)),
    j AS (
      SELECT t.lang, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok t LEFT JOIN vocab v ON t.tok = v.tok)
    SELECT lang, CAST(count(1) AS BIGINT) AS total_tokens,
           CAST(sum(oov) AS BIGINT) AS oov_tokens,
           CAST(floor(CAST(sum(oov) AS DOUBLE) / count(1) * 1e6 + 0.5)
             AS BIGINT) AS oov_ppm
    FROM j GROUP BY lang ORDER BY lang"""

  /** q4t: NUCLEUS (top-p) VOCABULARY TRUNCATION — q4n asks "how well
    * does a FIXED vocab cover the corpus"; this asks the dual tokenizer-
    * sizing question: what is the SMALLEST per-language vocabulary that
    * covers ≥90% of token mass? (The top-p/nucleus cut applied to a
    * frequency table — how BPE vocab budgets get sized per language.)
    * A token is in the nucleus iff the cumulative mass STRICTLY BEFORE
    * it is under the threshold, so the boundary token that crosses 90%
    * is included and the prefix is minimal. The cut is evaluated in
    * exact integers (cum·100 < total·90 — no division), ordering is
    * pinned (count desc, token asc), and because selection is a prefix
    * of the per-language ranked spine, max(cum) over the selected rows
    * IS the covered mass. Plan: one corpus explode → (lang, tok) hash
    * aggregate, then per-language windows over the REDUCED frequency
    * table; at 100 TB the window side is |vocab|-sized, not
    * |corpus|-sized, and partitions by language. */
  def nucleusVocab(spark: SparkSession, dir: String,
      massPct: Int = 90): DataFrame = {
    val tokCounts = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
    val ranked = Window.partitionBy("lang")
      .orderBy(col("n").desc, col("tok"))
    val perLang = Window.partitionBy("lang")
    tokCounts
      .withColumn("cum", sum("n").over(
        ranked.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum("n").over(perLang))
      .withColumn("n_distinct", count(lit(1)).over(perLang))
      .filter((col("cum") - col("n")) * 100 < col("total") * lit(massPct))
      .groupBy("lang")
      .agg(
        max("total").as("total_tokens"),
        max("n_distinct").as("distinct_tokens"),
        count(lit(1)).as("vocab_p90"),
        max("cum").as("covered_tokens"))
      .withColumn("coverage_ppm",
        floor(col("covered_tokens").cast("double") / col("total_tokens") * 1e6 + 0.5))
      .withColumn("vocab_share_ppm",
        floor(col("vocab_p90").cast("double") / col("distinct_tokens") * 1e6 + 0.5))
      .orderBy("lang")
  }

  def nucleusVocabOracle: String = """
    WITH tc AS (
      SELECT lang, tok, count(1) AS n FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY lang, tok),
    w AS (
      SELECT lang, n,
             sum(n) OVER (PARTITION BY lang ORDER BY n DESC, tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(n) OVER (PARTITION BY lang) AS total,
             count(1) OVER (PARTITION BY lang) AS n_distinct
      FROM tc)
    SELECT lang,
           CAST(max(total) AS BIGINT) AS total_tokens,
           CAST(max(n_distinct) AS BIGINT) AS distinct_tokens,
           CAST(count(1) AS BIGINT) AS vocab_p90,
           CAST(max(cum) AS BIGINT) AS covered_tokens,
           CAST(floor(CAST(max(cum) AS DOUBLE) / max(total) * 1e6 + 0.5)
             AS BIGINT) AS coverage_ppm,
           CAST(floor(CAST(count(1) AS DOUBLE) / max(n_distinct) * 1e6 + 0.5)
             AS BIGINT) AS vocab_share_ppm
    FROM w WHERE (cum - n) * 100 < total * 90
    GROUP BY lang ORDER BY lang"""

  /** q4v: ZIPF SLOPE — does the corpus obey the rank-frequency power
    * law (slope ≈ −1 on log-log axes)? The canary for synthetic /
    * machine-generated / template-heavy text, whose frequency curves
    * flatten or step. Fit is OLS over the TOP-1000 ranks (Zipf is a
    * head law, and the cap also bounds every moment sum below bigint
    * range). Determinism: rank is a pinned-tie window (count desc,
    * token asc) over the vocab-sized frequency table; ln() is applied
    * to exact integers (the q4o/q1n integer-input encoding) and
    * quantized to e4 PER TERM, so the regression moments are
    * order-free exact integer sums — the slope's one division is
    * correctly rounded. Plan: one corpus explode + hash aggregate; the
    * window and regression run over ≤1000 rows. */
  def zipfSlope(spark: SparkSession, dir: String, topN: Int = 1000): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    // take the head of the vocabulary FIRST (distributed
    // TakeOrderedAndProject), then rank the bounded topN-row frame —
    // a global row_number over the full vocabulary would put every
    // token on one partition (the round-12 window-audit fix)
    val ranked = freq.orderBy(col("n").desc, col("tok")).limit(topN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("tok"))))
      .select(
        floor(log(col("rank").cast("double")) * 1e4 + 0.5).as("x"),
        floor(log(col("n").cast("double")) * 1e4 + 0.5).as("y"))
    ranked.agg(
        count(lit(1)).as("n_terms"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n_terms"), col("sx"), col("sy"), col("sxx"), col("sxy"),
        floor((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n_terms") * col("sxx") - col("sx") * col("sx")) * 1e6 + 0.5)
          .as("slope_e6"))
      .withColumn("is_decreasing", col("slope_e6") < 0L)
  }

  def zipfSlopeOracle: String = """
    WITH freq AS (
      SELECT tok, count(1) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok),
    ranked AS (
      SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(CAST(n AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) AS y
      FROM (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank
            FROM freq)
      WHERE rank <= 1000),
    m AS (
      SELECT CAST(count(1) AS BIGINT) AS n_terms,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM ranked)
    SELECT n_terms, sx, sy, sxx, sxy,
           CAST(floor(CAST(n_terms * sxy - sx * sy AS DOUBLE)
             / (n_terms * sxx - sx * sx) * 1e6 + 0.5) AS BIGINT) AS slope_e6,
           CAST(floor(CAST(n_terms * sxy - sx * sy AS DOUBLE)
             / (n_terms * sxx - sx * sx) * 1e6 + 0.5) AS BIGINT) < 0
             AS is_decreasing
    FROM m"""

  /** q8n: DISTINGUISHING TERMS — the "Fightin' Words" log-odds ratio
    * with an informative Dirichlet prior (Monroe, Colaresi & Quinn
    * 2008): for each (source, token), the z-scored log-odds of the
    * token in that source versus the Rest of the corpus, the standard
    * answer to "what is source X actually made of?" when composing or
    * debugging a mixture. Where q8j says HOW FAR two sources diverge,
    * this says WHICH TERMS carry the divergence and in which direction
    * (positive z = over-represented, negative = under-represented).
    * Raw count ratios would rank rare tokens first; the +1 Dirichlet
    * smoothing and the 1/(c+1)+1/(c_rest+1) variance are exactly the
    * paper's correction.
    *
    * Engine parity: every ln/sqrt consumes ratios of EXACT INTEGER
    * counts (the q4o PMI discipline), so both engines evaluate the
    * identical closed-form doubles; graded at e6. Scale shape: one
    * explode scan to (source, token) counts, two bounded rollups
    * (per-source, per-token), a 1-row global broadcast, and a
    * TakeOrderedAndProject top-12 on |z|. */
  def distinguishingTerms(spark: SparkSession, dir: String, topK: Int = 12): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
      .cache() // feeds both rollups and the scored join
    val ns = cnt.groupBy("source").agg(sum(col("c")).as("n_i"))
    val tt = cnt.groupBy("t").agg(sum(col("c")).as("c_tot"))
    val gl = tt.groupBy().agg(
      count(lit(1)).as("v"), sum(col("c_tot")).as("n"))
    val z = cnt.join(ns, "source").join(tt, "t").crossJoin(broadcast(gl))
      .select(col("source"), col("t"), col("c").as("c_i"), col("n_i"),
        (col("c_tot") - col("c")).as("c_r"), col("v"), col("n"),
        ((log((col("c") + 1).cast("double")
            / (col("n_i") + col("v") - col("c") - 1))
          - log((col("c_tot") - col("c") + 1).cast("double")
            / (col("n") - col("n_i") + col("v")
              - (col("c_tot") - col("c")) - 1)))
          / sqrt(lit(1.0) / (col("c") + 1)
            + lit(1.0) / (col("c_tot") - col("c") + 1))).as("zval"))
      .select(col("source"), col("t"), col("c_i"), col("n_i"), col("c_r"),
        col("v"), col("n"),
        floor(col("zval") * 1e6 + 0.5).cast("long").as("z_e6"))
    z.orderBy(abs(col("z_e6")).desc, col("source"), col("t"))
      .limit(topK)
      .withColumn("rank", row_number().over(Window.partitionBy()
        .orderBy(abs(col("z_e6")).desc, col("source"), col("t"))))
      .select(col("rank"), col("source"), col("t").as("token"),
        col("c_i"), col("n_i"), col("c_r"), col("z_e6"), col("v"), col("n"))
      .orderBy("rank")
  }

  def distinguishingTermsOracle: String = """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
    cnt AS (
      SELECT source, t, CAST(count(1) AS BIGINT) AS c
      FROM toks GROUP BY source, t),
    ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_i
           FROM cnt GROUP BY source),
    tt AS (SELECT t, CAST(sum(c) AS BIGINT) AS c_tot FROM cnt GROUP BY t),
    gl AS (SELECT CAST(count(1) AS BIGINT) AS v,
                  CAST(sum(c_tot) AS BIGINT) AS n FROM tt),
    z AS (
      SELECT cnt.source, cnt.t, cnt.c AS c_i, ns.n_i,
             tt.c_tot - cnt.c AS c_r, gl.v, gl.n,
             (ln(CAST(cnt.c + 1 AS DOUBLE) / (ns.n_i + gl.v - cnt.c - 1))
            - ln(CAST(tt.c_tot - cnt.c + 1 AS DOUBLE)
                / (gl.n - ns.n_i + gl.v - (tt.c_tot - cnt.c) - 1)))
            / sqrt(1.0/(cnt.c + 1) + 1.0/(tt.c_tot - cnt.c + 1)) AS zval
      FROM cnt JOIN ns ON cnt.source = ns.source
               JOIN tt ON cnt.t = tt.t CROSS JOIN gl),
    e AS (
      SELECT source, t, c_i, n_i, CAST(c_r AS BIGINT) AS c_r, v, n,
             CAST(floor(zval * 1e6 + 0.5) AS BIGINT) AS z_e6 FROM z),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY abs(z_e6) DESC, source, t)
               AS rank
      FROM e)
    SELECT CAST(rank AS INTEGER) AS rank, source, t AS token,
           c_i, n_i, c_r, z_e6, v, n
    FROM rk WHERE rank <= 12 ORDER BY rank"""

  /** q8j: SOURCE DIVERGENCE MATRIX — pairwise Jensen-Shannon divergence
    * between the unigram distributions of every source pair, the
    * mixture-design complement to q8b: q8b measures near-dup OVERLAP
    * across sources (shared content), this measures DISTRIBUTIONAL
    * distance (different content statistics) — the quantity mixture
    * tuning (DoReMi-style reweighting, temperature mixing q4g) actually
    * consumes, since two sources can share zero documents yet be
    * statistically interchangeable, or vice versa.
    *
    * Decomposition that avoids materializing the token×pair outer join:
    * the inner join on shared tokens carries the p·ln(2p/(p+q)) terms;
    * the mass each source holds in tokens the OTHER lacks contributes
    * exactly (missing mass)·ln 2, recovered from per-source totals minus
    * the shared-token sums — so tokens-only-in-a never produce rows.
    *
    * Engine parity: each token's JS term is folded to floor(·1e9+0.5)
    * BIGINT at the ROW level and summed as integers (the q1n entropy
    * pattern) — double summation order across partitions can never
    * reorder, because only the per-row double math is floating point.
    *
    * Scale shape: one explode scan → (source, token) count (map-side
    * combined); the pair join is keyed on TOKEN with both sides bounded
    * by |vocab|·|sources| rows — never documents — and the final
    * aggregate is |pairs| rows. At 100 TB the vocab projection would be
    * capped to top-V tokens per source (the q4c/q4t machinery); source
    * count is operationally bounded (tens, not millions). */
  def sourceDivergence(spark: SparkSession, dir: String, topK: Int = 10): DataFrame =
    sourceDivergenceOf(Tables.documents(spark, dir), topK)

  /** DataFrame form of q8j, for planted-corpus tests. */
  def sourceDivergenceOf(docs: DataFrame, topK: Int = 10): DataFrame = {
    val cnt = docs
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("source").agg(sum(col("c")).as("n"))
    val c2 = cnt.join(tot, "source").cache() // both sides of the pair join
    val a = c2.select(col("source").as("sa"), col("t"),
      col("c").as("ca"), col("n").as("na"))
    val b = c2.select(col("source").as("sb"), col("t"),
      col("c").as("cb"), col("n").as("nb"))
    val j = a.join(b, Seq("t")).where(col("sa") < col("sb"))
      .withColumn("p", col("ca").cast("double") / col("na"))
      .withColumn("q", col("cb").cast("double") / col("nb"))
    val pair = j.groupBy("sa", "sb").agg(
      count(lit(1)).as("n_shared"),
      sum(col("ca")).as("sca"), sum(col("cb")).as("scb"),
      sum(floor(col("p") * log(lit(2) * col("p") / (col("p") + col("q")))
        * 1e9 + 0.5).cast("long")).as("tp_e9"),
      sum(floor(col("q") * log(lit(2) * col("q") / (col("p") + col("q")))
        * 1e9 + 0.5).cast("long")).as("tq_e9"))
    // full pair spine from the per-source totals (bounded: |sources|²),
    // so pairs sharing ZERO tokens still appear — they carry the MAXIMUM
    // divergence (both missing masses are 1, jsd = ln 2), and an inner
    // join would silently drop exactly the pairs a mixture designer
    // most needs to see
    val spine = tot.select(col("source").as("sa"), col("n").as("na"))
      .join(broadcast(tot.select(col("source").as("sb"), col("n").as("nb"))),
        col("sa") < col("sb"))
    val scored = spine
      .join(pair, Seq("sa", "sb"), "left")
      .na.fill(0L, Seq("n_shared", "sca", "scb", "tp_e9", "tq_e9"))
      .select(col("sa"), col("sb"), col("na"), col("nb"), col("n_shared"),
        expr("(tp_e9 + CAST(floor((CAST(na - sca AS DOUBLE) / na) * ln(2)"
          + " * 1e9 + 0.5) AS BIGINT)"
          + " + tq_e9 + CAST(floor((CAST(nb - scb AS DOUBLE) / nb) * ln(2)"
          + " * 1e9 + 0.5) AS BIGINT)) div 2").as("jsd_e9"))
      .cache() // feeds the totals row and the ranked top-k
    val tots = scored.groupBy().agg(
      count(lit(1)).as("n_pairs"),
      min(col("jsd_e9")).as("min_jsd_e9"),
      max(col("jsd_e9")).as("max_jsd_e9"))
    scored
      .orderBy(col("jsd_e9").desc, col("sa"), col("sb"))
      .limit(topK)
      .withColumn("rank", row_number().over(Window.partitionBy()
        .orderBy(col("jsd_e9").desc, col("sa"), col("sb"))))
      .crossJoin(broadcast(tots))
      .select(col("rank"), col("sa").as("src_a"), col("sb").as("src_b"),
        col("na").as("n_tok_a"), col("nb").as("n_tok_b"), col("n_shared"),
        col("jsd_e9"), col("n_pairs"), col("min_jsd_e9"), col("max_jsd_e9"))
      .orderBy("rank")
  }

  def sourceDivergenceOracle: String = """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
    cnt AS (
      SELECT source, t, CAST(count(1) AS BIGINT) AS c
      FROM toks GROUP BY source, t),
    tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source),
    c2 AS (
      SELECT cnt.source, cnt.t, cnt.c, tot.n
      FROM cnt JOIN tot ON cnt.source = tot.source),
    j AS (
      SELECT a.source AS sa, b.source AS sb, a.t,
             a.c AS ca, a.n AS na, b.c AS cb, b.n AS nb,
             CAST(a.c AS DOUBLE) / a.n AS p, CAST(b.c AS DOUBLE) / b.n AS q
      FROM c2 a JOIN c2 b ON a.t = b.t AND a.source < b.source),
    pair AS (
      SELECT sa, sb,
             CAST(count(1) AS BIGINT) AS n_shared,
             CAST(sum(ca) AS BIGINT) AS sca, CAST(sum(cb) AS BIGINT) AS scb,
             CAST(sum(CAST(floor(p * ln(2*p/(p+q)) * 1e9 + 0.5) AS BIGINT))
               AS BIGINT) AS tp_e9,
             CAST(sum(CAST(floor(q * ln(2*q/(p+q)) * 1e9 + 0.5) AS BIGINT))
               AS BIGINT) AS tq_e9
      FROM j GROUP BY sa, sb),
    spine AS (
      SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
      FROM tot a JOIN tot b ON a.source < b.source),
    scored AS (
      SELECT s.sa, s.sb, s.na, s.nb,
             CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
             CAST((coalesce(p.tp_e9, 0)
                 + CAST(floor(CAST(s.na - coalesce(p.sca, 0) AS DOUBLE)/s.na
                     * ln(2) * 1e9 + 0.5) AS BIGINT)
                 + coalesce(p.tq_e9, 0)
                 + CAST(floor(CAST(s.nb - coalesce(p.scb, 0) AS DOUBLE)/s.nb
                     * ln(2) * 1e9 + 0.5) AS BIGINT)) // 2 AS BIGINT)
               AS jsd_e9
      FROM spine s LEFT JOIN pair p ON s.sa = p.sa AND s.sb = p.sb),
    tots AS (
      SELECT CAST(count(1) AS BIGINT) AS n_pairs,
             CAST(min(jsd_e9) AS BIGINT) AS min_jsd_e9,
             CAST(max(jsd_e9) AS BIGINT) AS max_jsd_e9 FROM scored),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY jsd_e9 DESC, sa, sb) AS rank
      FROM scored)
    SELECT CAST(rk.rank AS INTEGER) AS rank, rk.sa AS src_a, rk.sb AS src_b,
           rk.na AS n_tok_a, rk.nb AS n_tok_b, rk.n_shared, rk.jsd_e9,
           tots.n_pairs, tots.min_jsd_e9, tots.max_jsd_e9
    FROM rk CROSS JOIN tots WHERE rk.rank <= 10 ORDER BY rk.rank"""

  /** q9b: IN-DOMAIN LM-PERPLEXITY FILTER — the CCNet selection gate
    * (Wenzek et al. 2020 §4.3: score every crawled document by the
    * perplexity of a language model trained on a TRUSTED slice; keep
    * the low-perplexity head). Three things distinguish this from the
    * corpus-self-trained scorers already in the surface ([[unigramLogProb]]
    * q4a, [[bigramScore]] q4j): (1) the model is fit on the `trainLang`
    * slice only, so the score measures in-domain-ness, not just
    * fluency — the actual CCNet semantics; (2) the model is a
    * Laplace-smoothed token-BIGRAM LM over `nBuckets` HASHED buckets
    * (DSIR's hashed-feature trick), bounding it at `nBuckets` rows no
    * matter the corpus — broadcastable at 100 TB where q4j's exact
    * bigram table grows past the broadcast budget and must shuffle;
    * (3) the graded artifact is the per-LANGUAGE selection report
    * (mean/min/max cross-entropy + head-retention rate under the
    * cutoff), the table a curation run reviews before committing the
    * gate — the trained language must sit at the low-perplexity head.
    *
    * Exactness doctrine: bucket counts are integers; each bucket's
    * smoothed log-prob forms ONE libm ln from identical integer
    * operands, quantized to integer e6 (the q1e/q8e encoding), so a
    * document's total log-likelihood is an exact INTEGER sum of bucket
    * literals (order-free) and every derived ratio is one IEEE division
    * over integer operands, floor(·+0.5)-quantized — hash-replayable.
    *
    * Scale shape: the token stream is scanned twice (train-slice count,
    * then scoring) and deliberately NOT cached — at 100 TB the narrow
    * rescan beats materializing an exploded corpus (the q8e doctrine).
    * The train aggregate is map-side combined into ≤ nBuckets rows,
    * completed over the 0..nBuckets-1 domain via a `spark.range` left
    * join (so absent buckets carry the smoothing floor and the scoring
    * join is a total function), and broadcast back; scoring is then one
    * explode + broadcast-hash-join + per-doc aggregate — scan-shaped,
    * no shuffle wider than the final ≤ n_languages reporting rollup. */
  def lmPerplexity(spark: SparkSession, dir: String, nBuckets: Int = 256,
      trainLang: String = "en", headCutoffE6: Long = 5400000L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = tokens(col("text"))
    // bigram bucket stream: hash each token pair (h1·131 + h2) mod p
    // into nBuckets buckets via zip_with over the shifted token array
    val bigrams = docs
      .where(size(toks) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => ((tokenHash(a) * lit(131L) + tokenHash(b))
            % lit(1000000007L)) % lit(nBuckets.toLong))).as("b"))
    val trainCounts = bigrams.where(col("lang") === trainLang)
      .groupBy("b").agg(count(lit(1)).as("cnt"))
    val model = spark.range(nBuckets).toDF("b")
      .join(trainCounts, Seq("b"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("ntr", sum("cnt").over(Window.partitionBy())) // ≤ nBuckets rows
      .withColumn("logp_e6", floor(
        log((col("cnt") + 1L).cast("double") / (col("ntr") + nBuckets))
          * 1e6 + 0.5).cast("long"))
      .select("b", "logp_e6")
    val perDoc = bigrams.join(broadcast(model), "b")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum("logp_e6").as("tot_logp_e6"))
      .withColumn("ce_e6", floor(
        -col("tot_logp_e6").cast("double") / col("n_bigrams") + 0.5)
        .cast("long"))
    val langAgg = perDoc.groupBy("lang").agg(
      count(lit(1)).as("n_scored"),
      sum("n_bigrams").as("n_bigrams"),
      floor(sum("ce_e6").cast("double") / count(lit(1)) + 0.5).cast("long")
        .as("mean_ce_e6"),
      min("ce_e6").as("min_ce_e6"),
      max("ce_e6").as("max_ce_e6"),
      sum(when(col("ce_e6") <= headCutoffE6, 1L).otherwise(0L)).as("n_head"))
    val nDocs = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    nDocs.join(broadcast(langAgg), "lang")
      .withColumn("head_ppm", floor(
        col("n_head").cast("double") * 1e6 / col("n_scored") + 0.5)
        .cast("long"))
      .select(col("lang"), col("n_docs"), col("n_scored"), col("n_bigrams"),
        col("mean_ce_e6"), col("min_ce_e6"), col("max_ce_e6"), col("n_head"),
        col("head_ppm"))
      .orderBy("lang")
  }

  def lmPerplexityOracle: String = """
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS t,
             generate_subscripts(string_split(text, ' '), 1) AS ord
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    h AS (
      SELECT doc_id, lang, ord,
             (length(t) * 1000003 + ascii(t) * 65599
              + ascii(substring(t, -1, 1)) * 31) % 1000000007 AS th
      FROM toks),
    big AS (
      SELECT a.doc_id, a.lang,
             ((a.th * 131 + b.th) % 1000000007) % 256 AS b
      FROM h a JOIN h b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1),
    tc AS (
      SELECT b, CAST(count(1) AS BIGINT) AS cnt
      FROM big WHERE lang = 'en' GROUP BY b),
    dom AS (SELECT CAST(range AS BIGINT) AS b FROM range(256)),
    m0 AS (
      SELECT dom.b, CAST(coalesce(tc.cnt, 0) AS BIGINT) AS cnt
      FROM dom LEFT JOIN tc ON dom.b = tc.b),
    m AS (
      SELECT b, CAST(floor(ln((cnt + 1.0) / (ntr + 256.0)) * 1e6 + 0.5)
               AS BIGINT) AS logp_e6
      FROM (SELECT *, CAST(sum(cnt) OVER () AS BIGINT) AS ntr FROM m0)),
    sc AS (
      SELECT big.doc_id, big.lang, CAST(count(1) AS BIGINT) AS n_bigrams,
             CAST(sum(m.logp_e6) AS BIGINT) AS tot_logp_e6
      FROM big JOIN m ON big.b = m.b
      GROUP BY big.doc_id, big.lang),
    ce AS (
      SELECT *, CAST(floor(-CAST(tot_logp_e6 AS DOUBLE) / n_bigrams + 0.5)
               AS BIGINT) AS ce_e6
      FROM sc),
    la AS (
      SELECT lang, CAST(count(1) AS BIGINT) AS n_scored,
             CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
             CAST(floor(CAST(sum(ce_e6) AS DOUBLE) / count(1) + 0.5)
               AS BIGINT) AS mean_ce_e6,
             CAST(min(ce_e6) AS BIGINT) AS min_ce_e6,
             CAST(max(ce_e6) AS BIGINT) AS max_ce_e6,
             CAST(sum(CASE WHEN ce_e6 <= 5400000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_head
      FROM ce GROUP BY lang),
    nd AS (
      SELECT lang, CAST(count(1) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang)
    SELECT nd.lang, nd.n_docs, la.n_scored, la.n_bigrams, la.mean_ce_e6,
           la.min_ce_e6, la.max_ce_e6, la.n_head,
           CAST(floor(CAST(la.n_head AS DOUBLE) * 1e6 / la.n_scored + 0.5)
             AS BIGINT) AS head_ppm
    FROM nd JOIN la ON nd.lang = la.lang ORDER BY nd.lang"""

  /** q9f: BPE MERGE CANDIDATES — the first step of byte-pair-encoding
    * tokenizer TRAINING (Sennrich et al. 2016 §3.2): count every
    * adjacent symbol pair across the corpus and rank by frequency; the
    * top pair is the first merge rule. This grades the counting engine
    * a BPE trainer is built on — distinct from q4h (token co-occurrence
    * within documents) and q4j (token-bigram LM): the pairs here are
    * CHARACTER-level, inside tokens.
    *
    * Scale shape: the corpus is first collapsed to its VOCABULARY
    * (distinct token + occurrence count — one map-side-combined
    * aggregate; the classic BPE-trainer trick: pair counts are summed
    * over distinct words weighted by word frequency, never over the raw
    * corpus), then each vocabulary entry explodes into its ≤len-1
    * in-token character pairs via a `transform(sequence(...))` of O(1)
    * `substring` calls (never element_at(split) in a lambda — the q4d
    * rule), and the weighted pair aggregate + global top-k plans as
    * TakeOrderedAndProject (the q10 doctrine). At 100 TB the vocabulary
    * table is the only shuffled frame — millions of rows, not the
    * corpus. */
  def bpeMergeCandidates(spark: SparkSession, dir: String,
      topK: Int = 20): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val pairs = vocab
      .where(length(col("tok")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(tok) - 1), " +
          "i -> struct(substring(tok, i, 1) AS a, substring(tok, i + 1, 1) AS b))"))
        .as("pr"))
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(sum("cnt").as("n_occ"), count(lit(1)).as("n_types"))
    val totals = pairs.agg(
      count(lit(1)).as("n_distinct_pairs"),
      sum("n_occ").as("total_pair_occ"))
    pairs
      .orderBy(col("n_occ").desc, col("a"), col("b"))
      .limit(topK) // TakeOrderedAndProject — distributed top-k
      .withColumn("rank", row_number().over(Window.partitionBy()
        .orderBy(col("n_occ").desc, col("a"), col("b")))) // topK rows only
      .crossJoin(broadcast(totals))
      .select(col("rank"), col("a"), col("b"), col("n_occ"), col("n_types"),
        col("n_distinct_pairs"), col("total_pair_occ"))
      .orderBy("rank")
  }

  def bpeMergeCandidatesOracle: String = """
    WITH v AS (
      SELECT t AS tok, CAST(count(1) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      GROUP BY t),
    pr AS (
      SELECT substring(tok, i, 1) AS a, substring(tok, i + 1, 1) AS b, cnt
      FROM (SELECT tok, cnt, unnest(range(1, length(tok))) AS i
            FROM v WHERE length(tok) >= 2)),
    g AS (
      SELECT a, b, CAST(sum(cnt) AS BIGINT) AS n_occ,
             CAST(count(1) AS BIGINT) AS n_types
      FROM pr GROUP BY a, b),
    tots AS (
      SELECT CAST(count(1) AS BIGINT) AS n_distinct_pairs,
             CAST(sum(n_occ) AS BIGINT) AS total_pair_occ
      FROM g),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY n_occ DESC, a, b) AS rank
      FROM g)
    SELECT CAST(rk.rank AS INTEGER) AS rank, rk.a, rk.b, rk.n_occ,
           rk.n_types, tots.n_distinct_pairs, tots.total_pair_occ
    FROM rk CROSS JOIN tots WHERE rk.rank <= 20 ORDER BY rk.rank"""

  /** q9y: BPE TRAINER LOOP — tokenizer-training step 2, completing
    * q9f's single-step pair count: run the actual Sennrich et al.
    * merge loop for `rounds` rounds. Each round (a) counts adjacent
    * symbol pairs over the DISTINCT weighted vocabulary (the classic
    * trainer trick — corpus token frequency enters as a weight, the
    * pair scan runs over vocab entries only, so the loop cost is
    * bounded by |vocab|, not the corpus), (b) picks the
    * max-frequency pair with a deterministic (n_occ desc, a, b)
    * tie-break, (c) applies the merge to every vocab entry.
    *
    * Words are the flat sentinel-spaced symbol string of the original
    * BPE implementation (" h e l l o "), so applying a merge is plain
    * string `replace` of " a b " with " ab " — left-to-right
    * non-overlapping in BOTH engines (identical algorithm, identical
    * result), iterated 3 passes because a replacement consumes the
    * separator the next overlapping occurrence needs (a run of k
    * repeated pairs resolves in ceil(log2 k)+1 passes; 3 covers runs
    * to 8). `merge_complete` GRADES the fixpoint per round (bool_and
    * of instr(sym, pat) = 0) rather than assuming it. Each round's
    * vocab is localCheckpointed — 4 tiny materializations instead of
    * an exponentially nesting plan (the q8k lesson); the per-round
    * argmax pair is a 1-row broadcast. */
  def bpeTrainerLoop(spark: SparkSession, dir: String,
      rounds: Int = 4): DataFrame =
    bpeLoop(spark, dir, rounds)._2.reduce(_.unionAll(_)).orderBy("round")

  /** Shared trainer core for q9y/qa1: runs the merge loop, returns the
    * FINAL segmented vocabulary and the per-round report rows. */
  private def bpeLoop(spark: SparkSession, dir: String,
      rounds: Int): (DataFrame, Seq[DataFrame]) = {
    val chars = expr(
      "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))")
    // the loop iterates a VOCAB-sized frame (kilobytes) ~10 jobs per
    // round — per-round cost is task-launch overhead, so run the loop
    // at few partitions (the q57 connected-components doctrine);
    // at real scale size this to the vocabulary, not the corpus
    graft.SessionConf.withShufflePartitions(spark,
      math.min(4, spark.sparkContext.defaultParallelism)) {
    var vocab = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .select(concat(lit(" "), concat_ws(" ", chars), lit(" ")).as("sym"),
        col("cnt"))
      .localCheckpoint(true)
    val roundRows = (1 to rounds).map { r =>
      val pairs = vocab
        .withColumn("syms", split(trim(col("sym")), " "))
        // single-symbol entries have no pairs — and Spark's
        // sequence(1, 0) DESCENDS rather than being empty
        .where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(syms[i-1] AS a, syms[i] AS b))")).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum("cnt").as("n_occ"), count(lit(1)).as("n_types"))
      val best = pairs
        .orderBy(col("n_occ").desc, col("a"), col("b")).limit(1)
      val applied = vocab.crossJoin(broadcast(best))
        .withColumn("pat",
          concat(lit(" "), col("a"), lit(" "), col("b"), lit(" ")))
        .withColumn("rep", concat(lit(" "), col("a"), col("b"), lit(" ")))
        .withColumn("sym2",
          expr("replace(replace(replace(sym, pat, rep), pat, rep), pat, rep)"))
      val newVocab = applied.select(col("sym2").as("sym"), col("cnt"))
        .localCheckpoint(true)
      vocab = newVocab
      // one exploded pass yields BOTH post-merge stats: every symbol
      // occurrence contributes its word's corpus weight, so the
      // weighted symbol mass is sum(cnt) over the exploded frame
      val post = newVocab
        .select(col("cnt"), explode(split(trim(col("sym")), " ")).as("s"))
        .agg(sum("cnt").as("total_weighted_symbols"),
          countDistinct("s").as("distinct_symbols"))
      val fix = applied.agg(
        bool_and(expr("instr(sym2, pat) = 0")).as("merge_complete"))
      best
        .crossJoin(broadcast(post))
        .crossJoin(broadcast(fix))
        .select(lit(r.toLong).as("round"), col("a"), col("b"),
          concat(col("a"), col("b")).as("merged"), col("n_occ"),
          col("n_types"), col("total_weighted_symbols"),
          col("distinct_symbols"), col("merge_complete"))
        // eager: the round's jobs must run INSIDE the reduced-partition
        // scope — left lazy they'd execute at write time under the
        // session default
        .localCheckpoint(true)
    }
    (vocab, roundRows)
    }
  }

  /** qa1: BPE ENCODE — tokenizer-training step 3, closing the q9f →
    * q9y arc: apply the trained segmentation to the WHOLE corpus and
    * report per-language compression. The trainer trick works in
    * reverse for encoding too: the corpus never gets re-segmented —
    * the final vocabulary already carries each word's symbol count,
    * so encoding is a (lang, token) count table equi-joined to the
    * |vocab|-row symbol table (broadcastable; a giant vocabulary
    * degrades gracefully to a shuffle equi-join). The per-language
    * chars-per-symbol ratio is q4z's fertility metric evaluated on a
    * TRAINED tokenizer — the number that exposes how a tokenizer
    * fitted on a skewed mixture taxes the minority languages. */
  def bpeEncode(spark: SparkSession, dir: String,
      rounds: Int = 4): DataFrame = {
    val (vocab, _) = bpeLoop(spark, dir, rounds)
    val wordSyms = vocab.select(
      expr("replace(trim(sym), ' ', '')").as("tok"),
      size(split(trim(col("sym")), " ")).cast("long").as("n_syms"))
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("occ"))
    toks.join(broadcast(wordSyms), "tok")
      .groupBy("lang").agg(
        sum("occ").as("n_tokens"),
        sum(col("occ") * length(col("tok"))).as("n_chars"),
        sum(col("occ") * col("n_syms")).as("bpe_symbols"))
      .withColumn("compression_ppm",
        expr("(bpe_symbols * 1000000) div n_chars"))
      .withColumn("chars_per_symbol_ppm",
        expr("(n_chars * 1000000) div bpe_symbols"))
      .orderBy("lang")
  }

  def bpeTrainerLoopOracle: String =
    s"""
    WITH ${bpeRoundsSql(4)}
    SELECT * FROM r0 UNION ALL SELECT * FROM r1
    UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
    ORDER BY round"""

  def bpeEncodeOracle: String =
    s"""
    WITH ${bpeRoundsSql(4)},
    ws AS (
      SELECT replace(trim(sym), ' ', '') AS tok,
             CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_syms
      FROM v4),
    tk AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
    g AS (SELECT lang, tok, CAST(count(1) AS BIGINT) AS occ
          FROM tk GROUP BY 1, 2),
    enc AS (
      SELECT g.lang,
             CAST(sum(g.occ) AS BIGINT) AS n_tokens,
             CAST(sum(g.occ * length(g.tok)) AS BIGINT) AS n_chars,
             CAST(sum(g.occ * ws.n_syms) AS BIGINT) AS bpe_symbols
      FROM g JOIN ws ON g.tok = ws.tok
      GROUP BY g.lang)
    SELECT lang, n_tokens, n_chars, bpe_symbols,
           CAST((bpe_symbols * 1000000) // n_chars AS BIGINT)
             AS compression_ppm,
           CAST((n_chars * 1000000) // bpe_symbols AS BIGINT)
             AS chars_per_symbol_ppm
    FROM enc ORDER BY lang"""

  /** The v0 vocabulary CTE plus `n` unrolled merge-round CTEs
    * (p/b/v/r per round), shared by the q9y and qa1 oracles. */
  private def bpeRoundsSql(n: Int): String = {
    def round(i: Int): String = {
      val (vin, vout) = (s"v$i", s"v${i + 1}")
      s"""
    p$i AS (
      SELECT syms[i] AS a, syms[i+1] AS b,
             CAST(sum(cnt) AS BIGINT) AS n_occ,
             CAST(count(1) AS BIGINT) AS n_types
      FROM (SELECT cnt, string_split(trim(sym), ' ') AS syms,
                   unnest(range(1, len(string_split(trim(sym), ' ')))) AS i
            FROM $vin)
      GROUP BY 1, 2),
    b$i AS (SELECT a, b, n_occ, n_types FROM p$i
            ORDER BY n_occ DESC, a, b LIMIT 1),
    $vout AS (
      SELECT replace(replace(replace(sym,
               ' ' || b.a || ' ' || b.b || ' ', ' ' || b.a || b.b || ' '),
               ' ' || b.a || ' ' || b.b || ' ', ' ' || b.a || b.b || ' '),
               ' ' || b.a || ' ' || b.b || ' ', ' ' || b.a || b.b || ' ')
               AS sym, cnt
      FROM $vin CROSS JOIN b$i b),
    r$i AS (
      SELECT CAST($i + 1 AS BIGINT) AS round, b.a, b.b,
             b.a || b.b AS merged, b.n_occ, b.n_types,
             (SELECT CAST(sum(cnt * len(string_split(trim(sym), ' ')))
                AS BIGINT) FROM $vout) AS total_weighted_symbols,
             (SELECT CAST(count(DISTINCT s) AS BIGINT) FROM
                (SELECT unnest(string_split(trim(sym), ' ')) AS s
                 FROM $vout)) AS distinct_symbols,
             (SELECT bool_and(instr(sym,
                ' ' || b.a || ' ' || b.b || ' ') = 0) FROM $vout)
               AS merge_complete
      FROM b$i b)"""
    }
    s"""v0 AS (
      SELECT ' ' || list_aggregate(list_transform(range(length(tok)),
               i -> substring(tok, i + 1, 1)), 'string_agg', ' ')
               || ' ' AS sym,
             CAST(count(1) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY 1),
    ${(0 until n).map(round).mkString(",")}"""
  }

  /** q9t: QUALITY-SCORE CALIBRATION AUDIT (reliability diagram + ECE) —
    * before a pipeline trusts q41's heuristic score as a keep/drop
    * probability, it should check the score is CALIBRATED against an
    * independent signal: here the held-out label is "no single token
    * exceeds 10% of the document" (max-token-frequency repetition, a
    * statistic the score never looks at — its inputs are length,
    * diversity, stopword ratio). The classic reliability-diagram
    * binning: 10 equal-width score bins, per bin the doc count, mean
    * score, and empirical positive rate; expected calibration error is
    * the doc-weighted mean |confidence − accuracy|.
    *
    * Everything is exact integer arithmetic on the e4 score grid (q8c's
    * quantization): the label is the division-free test mx*10 < n_tok,
    * rates are integer-div ppm, and ECE is a windowed integer sum — so
    * the whole diagram replays bit-for-bit in any SQL engine. Cost: one
    * wordcount-shaped explode (the repetition label), one scan for the
    * score, a 10-group aggregate; linear at any scale. Zero-doc bins
    * grade as explicit zeros via the fixed range(10) frame. */
  def scoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = size(filter(toks, t => t.isin(StopWords.map(lit(_)): _*)))
      .cast("double") / nTok
    val lengthOk = when(col("n_chars") >= 100, lit(1.0))
      .otherwise(col("n_chars") / 100.0)
    val docs = Tables.documents(spark, dir)
    val scored = docs.select(col("doc_id"),
      floor((lengthOk * 0.4 + diversity * 0.4
        + least(stopRatio * lit(5.0), lit(1.0)) * 0.2) * 1e4 + 0.5)
        .cast("long").as("score_e4"))
    val rep = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("mx"), sum("c").as("n_tok"))
    val lab = scored.join(rep, "doc_id")
      .select(col("score_e4"),
        when(col("mx") * 10 < col("n_tok"), 1L).otherwise(0L).as("y"))
    val bins = lab
      .groupBy(least(expr("score_e4 div 1000"), lit(9L)).as("bin"))
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        sum("score_e4").as("sum_e4"))
    val all = Window.partitionBy() // 10 rows — bounded by construction
    spark.range(10).toDF("bin")
      .join(bins, Seq("bin"), "left")
      .na.fill(0L, Seq("n", "n_pos", "sum_e4"))
      .withColumn("conf_ppm", when(col("n") === 0L, 0L)
        .otherwise(expr("(sum_e4 * 100) div n")))
      .withColumn("pos_ppm", when(col("n") === 0L, 0L)
        .otherwise(expr("(n_pos * 1000000) div n")))
      .withColumn("gap_ppm", abs(col("conf_ppm") - col("pos_ppm")))
      .withColumn("n_total", sum("n").over(all))
      .withColumn("ece_ppm",
        floor(sum(col("n") * col("gap_ppm")).over(all) / col("n_total"))
          .cast("long"))
      .select(col("bin"), col("n"), col("n_pos"), col("conf_ppm"),
        col("pos_ppm"), col("gap_ppm"), col("n_total"), col("ece_ppm"))
      .orderBy("bin")
  }

  def scoreCalibrationOracle: String = """
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
    lab AS (
      SELECT s.score_e4,
             CASE WHEN rep.mx * 10 < rep.n_tok THEN 1 ELSE 0 END AS y
      FROM s JOIN rep ON s.doc_id = rep.doc_id),
    b AS (
      SELECT least(score_e4 // 1000, 9) AS bin,
             CAST(count(1) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(score_e4) AS BIGINT) AS sum_e4
      FROM lab GROUP BY 1),
    frame AS (SELECT unnest(range(10)) AS bin),
    f AS (
      SELECT frame.bin,
             CAST(coalesce(b.n, 0) AS BIGINT) AS n,
             CAST(coalesce(b.n_pos, 0) AS BIGINT) AS n_pos,
             CAST(coalesce(b.sum_e4, 0) AS BIGINT) AS sum_e4
      FROM frame LEFT JOIN b ON frame.bin = b.bin),
    r AS (
      SELECT bin, n, n_pos,
             CAST(CASE WHEN n = 0 THEN 0
               ELSE (sum_e4 * 100) // n END AS BIGINT) AS conf_ppm,
             CAST(CASE WHEN n = 0 THEN 0
               ELSE (n_pos * 1000000) // n END AS BIGINT) AS pos_ppm
      FROM f)
    SELECT bin, n, n_pos, conf_ppm, pos_ppm,
           CAST(abs(conf_ppm - pos_ppm) AS BIGINT) AS gap_ppm,
           CAST(sum(n) OVER () AS BIGINT) AS n_total,
           CAST(floor(CAST(sum(n * abs(conf_ppm - pos_ppm)) OVER ()
             AS DOUBLE) / sum(n) OVER ()) AS BIGINT) AS ece_ppm
    FROM r ORDER BY bin"""

  /** qb3: INVERTED-INDEX CONJUNCTIVE SEARCH — the keyword-AND query
    * every retrieval stack answers from a term→postings index, run the
    * way a cost-based executor would: intersect posting lists
    * RAREST-FIRST, because the running candidate set can only shrink
    * and starting from the smallest list bounds every later step by
    * min(df). The graded rows ARE the execution trace: one row per
    * intersection step carrying the step's term, its df (posting-list
    * length), and the cumulative candidate count — so the
    * monotone-shrink property and the rarest-first payoff (step 1
    * collapses |corpus| to df_min candidates) are hash-checked, not
    * asserted. Final answer rides every row as n_results plus a
    * doc_id-sum checksum of the actual result set.
    *
    * Scale shape: the postings build is ONE distinct-explode +
    * hash aggregate (term, doc_id) — the index table a 100 TB corpus
    * stores bucketed by term; the query touches ONLY the |q| query
    * terms' postings via an `isin` pushdown (partition pruning on a
    * term-bucketed index), never a full-corpus scan per term. The
    * step spine is |q| rows; ranks come from a |q|-row window (tiny
    * by construction). The cumulative intersection is ONE step-tagged
    * aggregate over the ≤ |q|·df_max posting rows — no iterative
    * driver loop, all |q| prefixes graded in one job. */
  def invertedIndexQuery(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("dup", "vector", "batch")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nq = queryTerms.length
    val postings = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
      .where(col("term").isin(queryTerms.map(_.toString): _*))
    // |q|-row df frame: LEFT join from the literal query-term spine so
    // a zero-df term still ranks (and empties every later step)
    val spine = spark.createDataFrame(
      queryTerms.map(Tuple1(_))).toDF("term")
    val dfs = spine.join(
        postings.groupBy("term").agg(count(lit(1)).as("df")),
        Seq("term"), "left")
      .na.fill(0L, Seq("df"))
    // rarest-first rank; the window runs over the |q|-row frame only
    val ranked = dfs.withColumn("step",
      row_number().over(Window.orderBy(col("df"), col("term"))))
    // a doc survives step s iff it holds ALL terms ranked <= s: tag
    // each posting with its term's rank, fan each out to every step
    // >= rank (bounded by |q|), and keep (doc, step) groups of size s
    val stepsArr = array((1 to nq).map(s => lit(s)): _*)
    val survivors = postings
      .join(broadcast(ranked.select("term", "step")), Seq("term"))
      .select(col("doc_id"), explode(stepsArr).as("s"), col("step"))
      .where(col("step") <= col("s"))
      .groupBy(col("doc_id"), col("s"))
      .agg(count(lit(1)).as("n_held"))
      .where(col("n_held") === col("s"))
    val perStep = survivors.groupBy(col("s").as("step"))
      .agg(count(lit(1)).as("n_candidates"))
    val finals = survivors.where(col("s") === nq)
      .agg(count(lit(1)).as("n_results"),
        coalesce(sum("doc_id"), lit(0L)).as("result_checksum"))
    ranked.join(broadcast(perStep), Seq("step"), "left")
      .na.fill(0L, Seq("n_candidates"))
      .crossJoin(broadcast(finals))
      .select(col("step").cast("long").as("step"), col("term"), col("df"),
        col("n_candidates"), col("n_results"), col("result_checksum"))
      .orderBy("step")
  }

  /** DuckDB replay of [[invertedIndexQuery]]: same postings, same
    * (df, term) rarest-first ranks, same cumulative intersection. */
  def invertedIndexQueryOracle: String = """
    WITH p AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      FROM documents),
    q AS (SELECT unnest(['dup', 'vector', 'batch']) AS term),
    qp AS (SELECT p.doc_id, p.term FROM p JOIN q USING (term)),
    dfs AS (
      SELECT q.term, CAST(count(qp.doc_id) AS BIGINT) AS df
      FROM q LEFT JOIN qp USING (term) GROUP BY 1),
    ranked AS (
      SELECT term, df,
             CAST(row_number() OVER (ORDER BY df, term) AS BIGINT) AS step
      FROM dfs),
    steps AS (SELECT unnest([1, 2, 3]) AS s),
    surv AS (
      SELECT qp.doc_id, steps.s
      FROM qp JOIN ranked USING (term) JOIN steps ON ranked.step <= steps.s
      GROUP BY 1, 2
      HAVING count(1) = s),
    per_step AS (
      SELECT s AS step, CAST(count(1) AS BIGINT) AS n_candidates
      FROM surv GROUP BY 1),
    fin AS (
      SELECT CAST(count(1) AS BIGINT) AS n_results,
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS result_checksum
      FROM surv WHERE s = 3)
    SELECT ranked.step, ranked.term, ranked.df,
           CAST(coalesce(per_step.n_candidates, 0) AS BIGINT) AS n_candidates,
           fin.n_results, fin.result_checksum
    FROM ranked LEFT JOIN per_step USING (step) CROSS JOIN fin
    ORDER BY step"""

  /** qbp: FILL-IN-THE-MIDDLE TRANSFORM — the FIM data preparation
    * (Bavarian et al. '22) every code-model pipeline runs: split each
    * document into (prefix, middle, suffix) at deterministic
    * hash-derived character offsets, then reorder to PSM
    * (prefix-suffix-middle) or SPM by doc parity, with sentinel
    * markers. The graded per-doc rows carry the split geometry
    * (segment lengths, mode), a reconstruction self-check (the three
    * segments re-concatenate to the original — FIM must be lossless
    * or training data silently corrupts), and the first characters of
    * the middle span (the oracle replays the exact substring
    * arithmetic). Split fractions are pure doc_id arithmetic —
    * a ∈ [20,50]%, b ∈ (a+10, a+32]% — so any engine reproduces the
    * same spans; offsets are 1-based character positions, identical
    * semantics in Spark and DuckDB `substr`.
    *
    * Scale shape: a narrow per-row projection — no shuffle at all
    * except the output ordering; at 100 TB this runs at scan speed,
    * which is the point: FIM is applied to entire code corpora. */
  def fimTransform(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("n", length(col("text")).cast("long"))
      .withColumn("a_pct", lit(20L) + col("doc_id") % 31)
      .withColumn("b_pct", col("a_pct") + 10L + col("doc_id") % 23)
      .withColumn("pa", expr("n * a_pct div 100"))
      .withColumn("pb", expr("n * b_pct div 100"))
      .withColumn("prefix", expr("substr(text, 1, pa)"))
      .withColumn("middle", expr("substr(text, pa + 1, pb - pa)"))
      .withColumn("suffix", expr("substr(text, pb + 1)"))
      .withColumn("mode",
        when(col("doc_id") % 2 === 0, "psm").otherwise("spm"))
    d.select(
        col("doc_id"), col("mode"),
        length(col("prefix")).cast("long").as("plen"),
        length(col("middle")).cast("long").as("mlen"),
        length(col("suffix")).cast("long").as("slen"),
        (concat(col("prefix"), col("middle"), col("suffix")) === col("text"))
          .as("reconstructed_ok"),
        expr("substr(middle, 1, 12)").as("middle_head"),
        // the emitted training string, PSM/SPM with sentinels
        length(when(col("mode") === "psm",
          concat(lit("<PRE>"), col("prefix"), lit("<SUF>"), col("suffix"),
            lit("<MID>"), col("middle")))
          .otherwise(
            concat(lit("<SUF>"), col("suffix"), lit("<PRE>"), col("prefix"),
              lit("<MID>"), col("middle")))).cast("long").as("emitted_len"))
      .orderBy("doc_id")
  }

  /** qbs: RETRIEVAL RECALL EVAL — the end-to-end check a RAG/search
    * pipeline runs on itself: plant EXTRACTIVE queries (a verbatim
    * 8-token span lifted from every 10th document), chunk the corpus
    * (20-token non-overlapping windows), retrieve by exact
    * distinct-trigram overlap (integers — BM25's float IDF would make
    * the ranking engine-dependent; overlap count is the deterministic
    * core of the same signal), and grade where each query's own
    * document ranks. Graded per query: candidate count, the gold
    * document's best rank (0 = not retrieved), hit@1/hit@5. A healthy
    * chunk+retrieve stack must put the source document at rank 1 for
    * nearly every verbatim query — failures localize to chunking (span
    * straddles a boundary → grams split across chunks) before scoring,
    * which is exactly the diagnostic a pipeline needs.
    *
    * Scale shape: the gram join is df-capped (the q4k doctrine — grams
    * appearing in > 100 chunks are stopword shingles, dropped before
    * the join), so candidates per query stay bounded; ranking is a
    * per-query window over those candidates. */
  def retrievalRecall(spark: SparkSession, dir: String,
      dfCap: Long = 100L): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val chunks = docs.select(col("doc_id").as("cdoc"),
        posexplode(expr(
          """transform(sequence(0, int(floor((size(toks) - 1) / 20))),
             i -> slice(toks, i * 20 + 1, 20))""")))
      .withColumnsRenamed(Map("pos" -> "cidx", "col" -> "ctoks"))
      .where(size(col("ctoks")) >= 3)
    val cgrams = chunks.select(col("cdoc"), col("cidx"),
        explode(array_distinct(expr(
          """transform(sequence(1, size(ctoks) - 2),
             i -> concat_ws(' ', ctoks[i - 1], ctoks[i], ctoks[i + 1]))""")))
          .as("gram"))
      .cache()
    // df-cap: stopword shingles out before the join (q4k doctrine)
    val hot = cgrams.groupBy("gram")
      .agg(countDistinct(struct(col("cdoc"), col("cidx"))).as("df"))
      .where(col("df") > dfCap).select("gram")
    val kept = cgrams.join(broadcast(hot), Seq("gram"), "left_anti")
    val queries = docs.where(col("doc_id") % 10 === 0 && size(col("toks")) >= 25)
      .select(col("doc_id").as("qdoc"),
        expr("slice(toks, 6, 8)").as("qtoks"))
    val qgrams = queries.select(col("qdoc"),
      explode(array_distinct(expr(
        """transform(sequence(1, size(qtoks) - 2),
           i -> concat_ws(' ', qtoks[i - 1], qtoks[i], qtoks[i + 1]))""")))
        .as("gram"))
    val scoredChunks = qgrams.join(kept, Seq("gram"))
      .groupBy("qdoc", "cdoc", "cidx")
      .agg(count(lit(1)).as("score"))
    val wRank = Window.partitionBy("qdoc")
      .orderBy(col("score").desc, col("cdoc"), col("cidx"))
    val ranked = scoredChunks.withColumn("rnk", row_number().over(wRank))
    ranked.groupBy("qdoc")
      .agg(count(lit(1)).as("n_cands"),
        coalesce(min(when(col("cdoc") === col("qdoc"), col("rnk"))),
          lit(0L)).cast("long").as("gold_rank"))
      .select(col("qdoc").as("query_id"), col("n_cands"), col("gold_rank"),
        (col("gold_rank") === 1L).as("hit_at_1"),
        (col("gold_rank") >= 1L && col("gold_rank") <= 5L).as("hit_at_5"))
      .orderBy("query_id")
  }

  /** DuckDB replay of [[retrievalRecall]] — same chunks, same grams,
    * same df-cap, same tie-breaks. */
  val retrievalRecallOracle: String = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    chunks AS (
      SELECT doc_id AS cdoc, i AS cidx,
             toks[i * 20 + 1 : i * 20 + 20] AS ctoks
      FROM (SELECT doc_id, toks,
              unnest(range(0, CAST(floor((len(toks) - 1) / 20) AS BIGINT)
                + 1)) AS i
            FROM t)
      WHERE len(toks[i * 20 + 1 : i * 20 + 20]) >= 3),
    cg AS (
      SELECT cdoc, cidx,
             unnest(list_distinct(list_transform(range(1, len(ctoks) - 1),
               i -> list_aggregate(ctoks[i:i+2], 'string_agg', ' '))))
               AS gram
      FROM chunks),
    hot AS (
      SELECT gram FROM (
        SELECT gram, count(DISTINCT (cdoc, cidx)) AS df FROM cg GROUP BY gram)
      WHERE df > 100),
    kept AS (SELECT cg.* FROM cg ANTI JOIN hot USING (gram)),
    q AS (
      SELECT doc_id AS qdoc, toks[6:13] AS qtoks FROM t
      WHERE doc_id % 10 = 0 AND len(toks) >= 25),
    qg AS (
      SELECT qdoc,
             unnest(list_distinct(list_transform(range(1, len(qtoks) - 1),
               i -> list_aggregate(qtoks[i:i+2], 'string_agg', ' '))))
               AS gram
      FROM q),
    sc AS (
      SELECT qdoc, cdoc, cidx, count(1) AS score
      FROM qg JOIN kept USING (gram) GROUP BY 1, 2, 3),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY qdoc
        ORDER BY score DESC, cdoc, cidx) AS rnk
      FROM sc)
    SELECT qdoc AS query_id, CAST(count(1) AS BIGINT) AS n_cands,
           CAST(coalesce(min(CASE WHEN cdoc = qdoc THEN rnk END), 0)
             AS BIGINT) AS gold_rank,
           coalesce(min(CASE WHEN cdoc = qdoc THEN rnk END), 0) = 1
             AS hit_at_1,
           coalesce(min(CASE WHEN cdoc = qdoc THEN rnk END), 0) BETWEEN 1
             AND 5 AS hit_at_5
    FROM rk GROUP BY qdoc ORDER BY query_id"""

  /** qbr: KNESER–NEY SMOOTHED BIGRAM LM — the interpolated-KN estimate
    * (the n-gram LM standard; Chen & Goodman '98) with absolute
    * discount d = 3/4, computed in EXACT QUARTER-INTEGER RATIONALS:
    * scaling every probability by 4·c(a)·T turns
    *   p_KN(b|a) = max(c(a,b)−d, 0)/c(a) + d·N₁₊(a,·)/c(a) · N₁₊(·,b)/T
    * into pure Long arithmetic —
    *   num = max(4c−3, 0)·T + 3·N₁₊(a,·)·N₁₊(·,b),  den = 4·c(a)·T
    * — so ranking and e6 output are bit-identical in any engine (the
    * float-log hazard of naive LM scoring never appears; q9b handles
    * the log-domain variant, this is the exact-arithmetic one).
    *
    * Graded rows: the top-3 KN continuations of the 5 highest-count
    * context tokens, each context's reserved backoff mass
    * λ(a) = d·N₁₊(a,·)/c(a), and a per-context `mass_ok` audit — the
    * exact integer identity Σ_seen(4c−3) = 4c(a) − 3N₁₊(a,·), which
    * holds iff the bigram/unigram/type counts are mutually consistent
    * (KN's total mass telescopes to exactly 1 when it does).
    *
    * Scale shape: bigram and continuation counts are grouped
    * aggregates over the pair explode (vocab²-bounded output,
    * map-side combined); the graded slice joins against a broadcast
    * 5-row context block. */
  def knSmoothing(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
    val pairs = docs.select(
      explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS a, toks[i+1] AS b))"))
        .as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
    val big = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab")).cache()
    val ctx = big.groupBy("a").agg(
      sum("c_ab").as("c_a"), count(lit(1)).as("n1p_a"))
    val cont = big.groupBy("b").agg(count(lit(1)).as("n1p_b"))
    val tt = big.groupBy().agg(count(lit(1)).as("t_types"))
    val top5 = ctx.orderBy(col("c_a").desc, col("a")).limit(5)
    val scored = big.join(broadcast(top5), Seq("a"))
      .join(cont, Seq("b"))
      .crossJoin(broadcast(tt))
      .withColumn("num",
        greatest(col("c_ab") * 4 - 3, lit(0L)) * col("t_types") +
          col("n1p_a") * col("n1p_b") * 3)
      .withColumn("p_e6",
        expr("num * 1000000 div (4 * c_a * t_types)"))
    val wRank = Window.partitionBy("a")
      .orderBy(col("p_e6").desc, col("b"))
    val audits = scored.groupBy("a")
      .agg(sum(col("c_ab") * 4 - 3).as("sum_disc"))
    scored.withColumn("rk", row_number().over(wRank))
      .where(col("rk") <= 3)
      .join(audits, Seq("a"))
      .select(
        col("a").as("context"), col("rk").cast("long").as("rk"),
        col("b").as("continuation"), col("c_ab"), col("p_e6"),
        col("c_a"), col("n1p_a"),
        expr("3 * n1p_a * 1000000 div (4 * c_a)").as("backoff_e6"),
        (col("sum_disc") === col("c_a") * 4 - col("n1p_a") * 3)
          .as("mass_ok"))
      .orderBy("context", "rk")
  }

  /** DuckDB replay of [[knSmoothing]] — same counts, same quarter-
    * integer rationals, same tie-breaks. */
  val knSmoothingOracle: String = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    plist AS (
      SELECT list_transform(range(1, len(toks)),
               i -> [toks[i], toks[i + 1]]) AS ps
      FROM t),
    pairs AS (
      SELECT p[1] AS a, p[2] AS b
      FROM (SELECT unnest(ps) AS p FROM plist)),
    big AS (SELECT a, b, count(1) AS c_ab FROM pairs GROUP BY 1, 2),
    ctx AS (
      SELECT a, sum(c_ab) AS c_a, count(1) AS n1p_a FROM big GROUP BY a),
    cont AS (SELECT b, count(1) AS n1p_b FROM big GROUP BY b),
    tt AS (SELECT count(1) AS t_types FROM big),
    top5 AS (SELECT * FROM ctx ORDER BY c_a DESC, a LIMIT 5),
    scored AS (
      SELECT big.a, big.b, big.c_ab, top5.c_a, top5.n1p_a, cont.n1p_b,
             tt.t_types,
             (greatest(big.c_ab * 4 - 3, 0) * tt.t_types
               + top5.n1p_a * cont.n1p_b * 3) AS num
      FROM big JOIN top5 ON big.a = top5.a
      JOIN cont ON big.b = cont.b CROSS JOIN tt),
    pe AS (
      SELECT *, num * 1000000 // (4 * c_a * t_types) AS p_e6
      FROM scored),
    audits AS (
      SELECT a, sum(c_ab * 4 - 3) AS sum_disc FROM pe GROUP BY a),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY a
        ORDER BY p_e6 DESC, b) AS rk
      FROM pe)
    SELECT r.a AS context, CAST(r.rk AS BIGINT) AS rk,
           r.b AS continuation, CAST(r.c_ab AS BIGINT) AS c_ab,
           CAST(r.p_e6 AS BIGINT) AS p_e6,
           CAST(r.c_a AS BIGINT) AS c_a, CAST(r.n1p_a AS BIGINT) AS n1p_a,
           CAST(3 * r.n1p_a * 1000000 // (4 * r.c_a) AS BIGINT)
             AS backoff_e6,
           au.sum_disc = r.c_a * 4 - r.n1p_a * 3 AS mass_ok
    FROM ranked r JOIN audits au ON r.a = au.a
    WHERE r.rk <= 3 ORDER BY context, rk"""

  /** DuckDB replay of [[fimTransform]] — same offsets, same substrings. */
  val fimTransformOracle: String = """
    WITH d AS (
      SELECT doc_id, text, length(text) AS n,
             20 + doc_id % 31 AS a_pct,
             20 + doc_id % 31 + 10 + doc_id % 23 AS b_pct
      FROM documents),
    s AS (
      SELECT doc_id, text, n,
             n * a_pct // 100 AS pa, n * b_pct // 100 AS pb,
             CASE WHEN doc_id % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode
      FROM d),
    seg AS (
      SELECT doc_id, mode, text,
             substr(text, 1, CAST(pa AS INTEGER)) AS prefix,
             substr(text, CAST(pa + 1 AS INTEGER),
                    CAST(pb - pa AS INTEGER)) AS middle,
             substr(text, CAST(pb + 1 AS INTEGER)) AS suffix
      FROM s)
    SELECT doc_id, mode,
           CAST(length(prefix) AS BIGINT) AS plen,
           CAST(length(middle) AS BIGINT) AS mlen,
           CAST(length(suffix) AS BIGINT) AS slen,
           prefix || middle || suffix = text AS reconstructed_ok,
           substr(middle, 1, 12) AS middle_head,
           CAST(length(prefix) + length(middle) + length(suffix) + 15
             AS BIGINT) AS emitted_len
    FROM seg ORDER BY doc_id"""

  /** qcg: SEQUENCE DP INSIDE `aggregate()` — Kadane's max-subarray
    * over per-token scores (score = 2·len − 7, mixed sign: "find the
    * highest-value contiguous token span" — the salient-passage /
    * quality-span primitive) run ENTIRELY inside the higher-order
    * `aggregate` with a STRUCT accumulator `(best, cur)`:
    * cur' = max(x, cur+x), best' = max(best, cur'). One codegen'd
    * array pass per row, no explode, no shuffle, no per-token rows —
    * the pattern for any linear-scan DP (run-length, bracket depth,
    * decay sums) at 100 TB: per-row state lives in a struct, not in a
    * window. The oracle replays through the OTHER identity (the qc6
    * prefix-sum trick): best = max_j (S_j − min(0, min_{i<j} S_i)) via
    * two windows over unnested positions — the two derivations
    * agreeing integer-exactly is the strongest check either could
    * get. Graded per source: doc count, best-span max/sum, docs with
    * a positive span. */
  def hofMaxSpan(spark: SparkSession, dir: String): DataFrame = {
    val scores = transform(tokens(col("text")),
      t => (length(t) * 2 - 7).cast("long"))
    val negInf = lit(-1099511627776L) // < any real span sum; exact long
    val best = aggregate(scores,
      struct(negInf.as("best"), lit(0L).as("cur")),
      (acc, x) => {
        val newCur = greatest(x, acc.getField("cur") + x)
        struct(greatest(acc.getField("best"), newCur).as("best"),
          newCur.as("cur"))
      },
      acc => acc.getField("best"))
    Tables.documents(spark, dir)
      .select(col("source"), best.as("best_span"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        max("best_span").as("best_max"),
        sum("best_span").as("best_sum"),
        sum(when(col("best_span") > 0, 1L).otherwise(0L))
          .as("n_positive"))
      .orderBy("source")
  }

  /** Prefix-sum-identity replay of [[hofMaxSpan]]:
    * best_j = S_j − min(0, running min of S before j). */
  val hofMaxSpanOracle: String = """
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks
      FROM documents),
    u AS (
      SELECT doc_id, source, toks,
             unnest(range(1, len(toks) + 1)) AS i
      FROM t),
    x AS (
      SELECT doc_id, source, i,
             CAST(len(toks[i]) * 2 - 7 AS BIGINT) AS s
      FROM u),
    p AS (
      SELECT doc_id, source, i,
             sum(s) OVER (PARTITION BY doc_id ORDER BY i
               ROWS UNBOUNDED PRECEDING) AS ps
      FROM x),
    m AS (
      SELECT doc_id, source, ps,
             least(0, coalesce(min(ps) OVER (PARTITION BY doc_id
               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0)) AS minprev
      FROM p),
    b AS (
      SELECT doc_id, source, max(ps - minprev) AS best
      FROM m GROUP BY doc_id, source)
    SELECT source,
           CAST(count(1) AS BIGINT) AS n_docs,
           CAST(max(best) AS BIGINT) AS best_max,
           CAST(sum(best) AS BIGINT) AS best_sum,
           CAST(sum(CASE WHEN best > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive
    FROM b GROUP BY source ORDER BY source"""
}
