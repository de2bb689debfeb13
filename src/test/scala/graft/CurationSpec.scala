package graft

import graft.operators.{Curation, Recsys}
import org.apache.spark.sql.functions._

/** Dataset-curation invariants: hash-gated sampling must be exactly
  * reproducible (it is arithmetic, not randomness), splits must
  * partition the corpus independent of physical layout, and packing
  * must conserve documents and tokens. */
class CurationSpec extends SparkSpec {

  test("itemItemCF: cosine identity, symmetry, top-k bound, WindowGroupLimit plan") {
    val df = Recsys.itemItemCF(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty, "fixture baskets must share >= minCooc items")
    rows.foreach { r =>
      val cooc = r.getAs[Long]("cooc")
      val ni = r.getAs[Long]("n_item"); val nn = r.getAs[Long]("n_nbr")
      assert(cooc >= 2L, "min support respected")
      assert(cooc <= math.min(ni, nn), "co-occurrence bounded by popularity")
      assert(r.getAs[Long]("cos2_ppm") == cooc * cooc * 1000000L / (ni * nn))
      assert(r.getAs[Int]("rank") >= 1 && r.getAs[Int]("rank") <= 5)
    }
    // pair symmetry: (a sees b with cooc c) implies (b sees a with cooc c)
    // in the pre-rank candidate set; spot-check via the emitted rows that
    // ranks within an item are strictly ordered by the total order
    rows.groupBy(_.getAs[Long]("item")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      val keys = sorted.map(r => (-r.getAs[Long]("cos2_ppm"),
        -r.getAs[Long]("cooc"), r.getAs[Long]("nbr")))
      assert(keys.sameElements(keys.sorted), "neighbor order follows the total order")
    }
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "per-item top-k must plan as WindowGroupLimit")
  }

  test("itemItemCF: basket cap binds on a planted mega-basket") {
    import spark.implicits._
    // user 1 owns items 0..299 (over the cap of 4 used here); user 2
    // and 3 share items {0, 1} so a genuine pair survives
    val basket = ((0 until 300).map(i => (1L, i.toLong)) ++
      Seq((2L, 0L), (2L, 1L), (3L, 0L), (3L, 1L))).toDF("u", "item")
    // replicate the operator's capped-pair pipeline at cap=4
    val capped = basket.withColumn("rk",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("u").orderBy("item")))
      .where(col("rk") <= 4).drop("rk")
    val co = capped.as("a").join(capped.as("b"),
        col("a.u") === col("b.u") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("ia"), col("b.item").as("ib"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cooc"))
    // without the cap user 1 alone would emit C(300,2) = 44850 pairs;
    // capped, user 1 emits C(4,2) = 6 and the (0,1) pair reaches cooc 3
    assert(co.count() == 6L)
    assert(co.where(col("ia") === 0L && col("ib") === 1L)
      .head().getAs[Long]("cooc") == 3L)
  }

  test("cfHitRate: summary identities and bounds hold") {
    val r = Recsys.cfHitRate(spark, sfDir).head()
    val users = r.getAs[Long]("n_users_eval")
    val recs = r.getAs[Long]("recs_total")
    val hits = r.getAs[Long]("hits_total")
    val usersHit = r.getAs[Long]("n_users_hit")
    assert(users > 0, "temporal split must leave an eval population")
    assert(recs <= users * 10, "at most kRec recommendations per eval user")
    assert(hits <= recs && usersHit <= users)
    assert(usersHit <= hits, "a hitting user contributes >= 1 hit")
    assert(r.getAs[Long]("hitrate_ppm") == usersHit * 1000000L / users)
    assert(r.getAs[Long]("precision_ppm") == hits * 1000000L / recs)
  }

  test("cfRankingEval: consistent with cfHitRate, MRR/NDCG inside their derivable bounds") {
    val rk = Recsys.cfRankingEval(spark, sfDir).head()
    val hr = Recsys.cfHitRate(spark, sfDir).head()
    // both evals grade the SAME recommender on the SAME split
    assert(rk.getAs[Long]("n_users_eval") == hr.getAs[Long]("n_users_eval"))
    assert(rk.getAs[Long]("n_users_hit") == hr.getAs[Long]("n_users_hit"))
    val users = rk.getAs[Long]("n_users_eval")
    val usersHit = rk.getAs[Long]("n_users_hit")
    val mrr = rk.getAs[Long]("mrr_ppm")
    val ndcg = rk.getAs[Long]("mean_ndcg_ppm")
    // each hitting user contributes rr in [1e6/kRec, 1e6]; zero-hit
    // users contribute 0 — so the mean is bracketed by the hit rate
    assert(mrr >= usersHit * 100000L / users && mrr <= usersHit * 1000000L / users,
      s"MRR $mrr outside the hit-rate bracket")
    assert(ndcg >= 0L && ndcg <= 1000000L)
    assert((ndcg > 0L) == (usersHit > 0L),
      "NDCG must be positive exactly when any user hit")
  }

  test("cfCoverage: bounds and identities hold") {
    val r = Recsys.cfCoverage(spark, sfDir).head()
    val nItems = r.getAs[Long]("n_items_recommended")
    val cat = r.getAs[Long]("n_catalog")
    assert(nItems <= cat)
    assert(r.getAs[Long]("coverage_ppm") == nItems * 1000000L / cat)
    assert(r.getAs[Long]("recs_total") >= nItems, "instances >= distinct items")
    val meanRank = r.getAs[Long]("mean_pop_rank_e2")
    assert(meanRank >= 100L && meanRank <= cat * 100L,
      "mean popularity rank must sit inside [1, catalog]")
    assert(r.getAs[Long]("top10_share_ppm") <= 1000000L)
  }

  test("cf rec store key: Fs.inputFingerprint keeps the old recsFingerprint key") {
    // the key Recsys built by hand before it called Fs.inputFingerprint;
    // an equal key keeps existing /tmp rec stores readable
    def oldKey(dir: String, cap: Int, minCooc: Long, kNbr: Int, kRec: Int,
        cut: String): String = {
      import java.nio.file.{Files, Paths}
      val inputs = Seq("orders.parquet", "lineitem.parquet").map { f =>
        val p = Paths.get(dir, f)
        s"$f:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
      }
      val key = (Seq(dir, cap, minCooc, kNbr, kRec, cut) ++ inputs).mkString("|")
      f"${scala.util.hashing.MurmurHash3.stringHash(key)}%08x"
    }
    for ((cap, minCooc, kNbr, kRec, cut) <- Seq((128, 2L, 5, 10, "1997-01-01"),
        (3, 7L, 1, 2, "1995-06-17"))) {
      assert(Fs.inputFingerprint(sfDir, Seq("orders.parquet", "lineitem.parquet"),
          Seq(cap, minCooc, kNbr, kRec, cut)) ==
        oldKey(sfDir, cap, minCooc, kNbr, kRec, cut))
    }
  }

  test("weightedSample matches an independent scala replay of the hash gate") {
    val rows = Curation.weightedSample(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val weights = Map("de" -> 0.05, "en" -> 0.20, "es" -> 0.10, "fr" -> 0.15)
    val expected = docs.groupBy(_._2).map { case (lang, ds) =>
      val rate = weights.getOrElse(lang, 0.0)
      val sampled = ds.count { case (id, _) =>
        val s1 = (id % 2147483647L) * 48271L % 2147483647L
        (s1 * 48271L % 2147483647L).toDouble / 2147483647L < rate
      }
      lang -> (ds.length.toLong, sampled.toLong)
    }
    rows.foreach { r =>
      val (total, sampled) = expected(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_total") == total)
      assert(r.getAs[Long]("n_sampled") == sampled,
        s"lang ${r.getAs[String]("lang")}: engine ${r.getAs[Long]("n_sampled")} vs replay $sampled")
    }
  }

  test("hashSplit partitions the corpus and is stable under repartitioning") {
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    val a = Curation.hashSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val b = Curation.hashSplit(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    assert(a == b, "split assignment changed with physical layout")
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(a.size == docs.count())
    // 80/10/10 gate: train should dominate
    val n = a.size.toDouble
    assert(a.values.count(_ == "train") / n > 0.6)
  }

  test("groupSplit: no user straddles the boundary; splits partition the events") {
    val out = Curation.groupSplit(spark, sfDir).collect()
    assert(out.map(_.getAs[String]("split")).toSet == Set("train", "test"))
    assert(out.forall(_.getAs[Boolean]("leak_free")))
    val totalEvents = Tables.events(spark, sfDir).count()
    assert(out.map(_.getAs[Long]("n_events")).sum == totalEvents)
    // the union of per-split user sets must equal the full user set and
    // the split user counts must sum to it (disjointness)
    val totalUsers = Tables.events(spark, sfDir)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(out.map(_.getAs[Long]("n_users")).sum == totalUsers)
  }

  test("chunkDocuments: windows tile each document with exact overlap arithmetic") {
    val chunks = Curation.chunkDocuments(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == docs.keySet, "every document must produce chunks")
    byDoc.foreach { case (id, cs) =>
      val toks = docs(id).split(" ", -1)
      val n = toks.length.toLong
      val sorted = cs.sortBy(_.getAs[Long]("chunk_id"))
      assert(sorted.map(_.getAs[Long]("chunk_id")).toSeq == (0L until sorted.length),
        s"doc $id: chunk ids not contiguous")
      val last = sorted.last
      assert(last.getAs[Long]("start_tok") + last.getAs[Long]("n_chunk_tokens") == n,
        s"doc $id: last chunk must end at the last token")
      // stride 48 / window 64: every adjacent pair shares exactly 16
      // tokens, so chunk token mass = n + (k−1)·overlap
      assert(sorted.map(_.getAs[Long]("n_chunk_tokens")).sum ==
        n + (sorted.length - 1) * 16L,
        s"doc $id: overlap arithmetic broken")
      sorted.foreach { c =>
        val s = c.getAs[Long]("start_tok").toInt
        val len = c.getAs[Long]("n_chunk_tokens").toInt
        assert(c.getAs[Long]("chunk_chars") ==
          toks.slice(s, s + len).mkString(" ").length.toLong,
          s"doc $id chunk ${c.getAs[Long]("chunk_id")}: slice mismatch")
      }
    }
  }

  test("temperatureMixture: α=0.5 flattens the stratum distribution") {
    val rows = Curation.temperatureMixture(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum.toDouble
    assert(math.abs(rows.map(_.getAs[Double]("p_temp")).sum - 1.0) < 1e-4,
      "temperature probabilities must normalize")
    rows.foreach { r =>
      val raw = r.getAs[Long]("n_docs") / total
      val p = r.getAs[Double]("p_temp")
      // flattening: below-average strata gain probability, above lose
      if (raw < 1.0 / rows.length) assert(p > raw, s"${r.getAs[String]("lang")}: low-resource stratum not upweighted")
      if (raw > 1.0 / rows.length) assert(p < raw, s"${r.getAs[String]("lang")}: bulk stratum not downweighted")
      val rate = r.getAs[Double]("rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_docs"))
    }
  }

  test("curationFunnel: monotone retention, full corpus at stage 0") {
    val rows = Curation.curationFunnel(spark, sfDir).collect()
    assert(rows.map(_.getAs[Int]("stage")).toSeq == (0 until 6))
    assert(rows.head.getAs[Long]("n_docs") ==
      Tables.documents(spark, sfDir).count())
    val counts = rows.map(_.getAs[Long]("n_docs")).toSeq
    assert(counts == counts.sorted.reverse, s"funnel not monotone: $counts")
    assert(counts.last > 0, "cascade must not empty the corpus")
    assert(rows.head.getAs[Double]("retained") == 1.0)
  }

  test("packSequences conserves documents and tokens, bins are contiguous") {
    val bins = Curation.packSequences(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
      .select(size(split(col("text"), " ")).cast("long").as("t"))
    val totalDocs = docs.count()
    val totalTokens = docs.agg(sum("t")).head().getLong(0)
    assert(bins.map(_.getAs[Long]("n_docs")).sum == totalDocs,
      "every document must land in exactly one bin")
    assert(bins.map(_.getAs[Long]("bin_tokens")).sum == totalTokens,
      "token mass must be conserved")
    // per (lang, shard): bins numbered 0..max without gaps
    bins.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("shard")))
      .foreach { case ((lang, shard), rs) =>
        val ids = rs.map(_.getAs[Long]("bin")).sorted.toSeq
        assert(ids == (0L until ids.length),
          s"($lang, $shard) bins not contiguous: ${ids.mkString(",")}")
      }
  }

  test("pmiPairs: support bounded by min df, PMI replays from the row's own integers") {
    val rows = Curation.pmiPairs(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s, da, db, n) = (r.getAs[Long]("support"), r.getAs[Long]("df_a"),
        r.getAs[Long]("df_b"), r.getAs[Long]("n_docs"))
      assert(s <= math.min(da, db), r.toString)
      assert(da <= n && db <= n)
      val pmi = math.floor(math.log(s.toDouble * n / (da * db)) * 1e6 + 0.5).toLong
      assert(r.getAs[Long]("pmi_e6") == pmi, r.toString)
      // independence bound: P(a,b) <= min(P(a), P(b)) caps PMI at -ln(max df share)
      assert(pmi <= math.floor(math.log(n.toDouble / math.max(da, db)) * 1e6 + 0.5).toLong + 1)
    }
  }

  test("paddingAudit: token conservation, waste identities, bucketing beats naive padding") {
    import org.apache.spark.sql.functions._
    val rows = Curation.paddingAudit(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val corpusTokens = Tables.documents(spark, sfDir)
      .select(sum(size(graft.operators.Text.tokens(col("text")))).cast("long"))
      .head().getLong(0)
    assert(rows.map(_.getAs[Long]("total_tokens")).sum == corpusTokens)
    rows.foreach { r =>
      val (cap, nd, tt, pt) = (r.getAs[Long]("cap"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("total_tokens"), r.getAs[Long]("padded_tokens"))
      assert(pt == nd * cap && tt <= pt, r.toString)
      assert(r.getAs[Long]("waste_ppm") ==
        math.floor((pt - tt).toDouble / pt * 1e6 + 0.5).toLong)
    }
    // total bucketed waste strictly beats padding everything to the global cap
    val bucketedPadded = rows.map(_.getAs[Long]("padded_tokens")).sum
    val globalCap = rows.map(_.getAs[Long]("cap")).max
    val naivePadded = rows.map(_.getAs[Long]("n_docs")).sum * globalCap
    assert(rows.length == 1 || bucketedPadded < naivePadded)
  }

  test("frequentTriples: matches a driver-side A-priori replay") {
    val minSup = 5L // sf0.001 corpus is small — grade at a spec-sized support
    val rows = Curation.frequentTriples(spark, sfDir, minSupport = minSup).collect()
    val docToks = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("[^a-z]+").filter(_.length >= 3).toSet)
      .toMap
    val pairCnt = collection.mutable.Map.empty[(String, String), Long]
    docToks.values.foreach { ts =>
      val s = ts.toSeq.sorted
      for (i <- s.indices; j <- (i + 1) until s.length)
        pairCnt((s(i), s(j))) = pairCnt.getOrElse((s(i), s(j)), 0L) + 1
    }
    val fPairs = pairCnt.filter(_._2 >= minSup)
    val items = fPairs.keySet.flatMap { case (a, b) => Set(a, b) }
    val triCnt = collection.mutable.Map.empty[(String, String, String), Long]
    docToks.values.foreach { ts =>
      val s = (ts intersect items).toSeq.sorted
      for (i <- s.indices; j <- (i + 1) until s.length; k <- (j + 1) until s.length)
        triCnt((s(i), s(j), s(k))) =
          triCnt.getOrElse((s(i), s(j), s(k)), 0L) + 1
    }
    val fTris = triCnt.filter(_._2 >= minSup)
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      == fTris.keySet)
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1), r.getString(2))
      assert(r.getAs[Long]("support") == fTris(key), r.toString)
      assert(r.getAs[Long]("sup_ab") == fPairs((key._1, key._2)))
      assert(r.getAs[Long]("sup_ac") == fPairs((key._1, key._3)))
      assert(r.getAs[Long]("sup_bc") == fPairs((key._2, key._3)))
      assert(r.getAs[Boolean]("closure_ok"), "downward closure violated")
    }
  }

  test("exactKSample: exactly min(k, |stratum|) rows per stratum, Lehmer order replayed (q4x)") {
    val k = 7
    val df = operators.Curation.exactKSample(spark, sfDir, k)
    // the rank<=k filter must plan as a window GROUP LIMIT — the map-side
    // per-stratum prune that keeps the shuffle k-bounded at any corpus size
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "rank filter did not plan as WindowGroupLimit")
    val rows = df.collect()
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang")))
    val m = 2147483647L
    def rk(id: Long) = id % m * 48271 % m * 48271 % m
    docs.groupBy(_._2).foreach { case (lang, ds) =>
      val expect = ds.map(_._1).sortBy(id => (rk(id), id)).take(k)
      val got = rows.filter(_.getAs[String]("lang") == lang)
        .sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("doc_id")).toSeq
      assert(got == expect.toSeq, s"stratum $lang selection diverged")
    }
    rows.foreach(r => assert(rk(r.getAs[Long]("doc_id")) == r.getAs[Long]("rk")))
  }

  test("negativeSampling: no sampled pair is a positive; per-user k honored; hash replayed (q4y)") {
    import org.apache.spark.sql.functions._
    val k = 5; val trials = 40
    // documented precondition: dense 0..N-1 item ids
    val pk = graft.Tables.part(spark, sfDir)
      .agg(min("p_partkey"), max("p_partkey"), count(lit(1))).head()
    assert(pk.getLong(0) == 0L && pk.getLong(1) == pk.getLong(2) - 1,
      "partkeys not dense 0..N-1 — the trial->item mapping is invalid")
    val n = pk.getLong(2)
    val df = operators.Curation.negativeSampling(spark, sfDir, trials, k)
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
    val rows = df.collect()
    val positives = graft.Tables.orders(spark, sfDir)
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey").as("ck"), col("o_orderkey"))
      .join(graft.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select("ck", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val users = positives.map(_._1)
    assert(rows.length == users.size * k, "some user came up short of k negatives")
    rows.foreach { r =>
      val (c, p) = (r.getAs[Long]("custkey"), r.getAs[Long]("partkey"))
      assert(!positives.contains((c, p)), s"sampled a positive: ($c, $p)")
    }
    // driver replay of one user's full rejection-sampling sequence
    val m = 2147483647L
    def item(c: Long, t: Long) = (c * 1009 + t) % m * 48271 % m * 48271 % m % n
    val c0 = users.min
    val expect = (0L until trials)
      .map(t => (item(c0, t), t))
      .filter { case (p, _) => !positives.contains((c0, p)) }
      .groupBy(_._1).map { case (p, ts) => (p, ts.map(_._2).min) }
      .toSeq.sortBy(_._2).take(k)
    val got = rows.filter(_.getAs[Long]("custkey") == c0)
      .sortBy(_.getAs[Int]("rk"))
      .map(r => (r.getAs[Long]("partkey"), r.getAs[Long]("trial"))).toSeq
    assert(got == expect, s"user $c0 sequence diverged")
  }

  test("q8e importance resampling: target lang over-represented in top-k, " +
      "distributed top-k plan, exact doc counts") {
    val df = Curation.importanceResampling(spark, sfDir)
    // the global top-k must plan as TakeOrderedAndProject (partial
    // per-partition top-k), NOT an all-partitions window funnel — the
    // property that keeps the selection scan-shaped at 100 TB
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "global top-k did not plan as TakeOrderedAndProject")
    val rows = df.collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to 20),
      "ranks must be the dense 1..20 sequence")
    val weights = rows.map(_.getAs[Long]("weight_e6")).toSeq
    assert(weights == weights.sorted.reverse, "weights must be non-increasing")
    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    val nEn = docs.where(col("lang") === "en").count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_raw_docs") == nDocs)
      assert(r.getAs[Long]("n_target_docs") == nEn)
    }
    // the likelihood-ratio weights must pull the target language to the
    // front: en's share of the top-20 strictly above its corpus share
    // (hash aliasing at 64 buckets lets some non-en through — that is
    // the paper's tradeoff, not a bug)
    val enTop = rows.count(_.getAs[String]("lang") == "en")
    assert(enTop.toDouble / 20 > nEn.toDouble / nDocs,
      s"target lang not over-represented: $enTop/20 vs $nEn/$nDocs")
  }

  test("q9a mixture epochs: weights normalize, temperature flattens " +
      "monotonically, epoch budget conserves") {
    val rows = Curation.mixtureEpochs(spark, sfDir).collect()
    assert(rows.length >= 2, "fixture must carry >= 2 languages")
    def col(n: String) = rows.map(_.getAs[Long](n))
    // each weight column normalizes to 1e6 up to per-row rounding
    for (w <- Seq("share_ppm", "w03_ppm", "w07_ppm")) {
      val s = col(w).sum
      assert(math.abs(s - 1000000L) <= rows.length,
        s"$w sums to $s, not ~1e6")
    }
    // temperature flattens: for the largest language the weight must
    // DECREASE as alpha drops (1 -> 0.7 -> 0.3); for the smallest it
    // must increase — the defining property of the schedule
    val byTok = rows.sortBy(_.getAs[Long]("n_tokens"))
    val (small, large) = (byTok.head, byTok.last)
    assert(large.getAs[Long]("share_ppm") > large.getAs[Long]("w07_ppm"))
    assert(large.getAs[Long]("w07_ppm") > large.getAs[Long]("w03_ppm"))
    assert(small.getAs[Long]("share_ppm") < small.getAs[Long]("w07_ppm"))
    assert(small.getAs[Long]("w07_ppm") < small.getAs[Long]("w03_ppm"))
    // epochs: the head language trains for < 1 epoch under flattening,
    // the tail language for > 1 — and weight-ordering inverts into
    // epoch-ordering (epochs = w * B / n is decreasing in n for fixed w)
    assert(large.getAs[Long]("epochs03_e3") < 1000L)
    assert(small.getAs[Long]("epochs03_e3") > 1000L)
    // budget conservation: sum over languages of (w_l * B) tokens is B,
    // i.e. sum of epochs weighted by token mass ~ total tokens
    val b = rows.map(_.getAs[Long]("n_tokens")).sum
    val spent = rows.map(r => r.getAs[Long]("epochs03_e3") * 1e-3
      * r.getAs[Long]("n_tokens")).sum
    assert(math.abs(spent - b) / b < 0.01, s"epoch budget drifted: $spent vs $b")
  }

  test("q9c curriculum phases: contiguous equal-mass phases conserve the corpus") {
    val rows = Curation.curriculumPhases(spark, sfDir).collect()
    assert(rows.map(_.getAs[Int]("phase")).toSeq == (1 to rows.length),
      "phases must be the dense 1..k sequence")
    // phases partition the bucket axis monotonically: each phase's range
    // starts strictly after the previous one ends
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("bucket_lo") > a.getAs[Long]("bucket_hi"),
        "phase bucket ranges must be disjoint and increasing")
    }
    // conservation: docs and tokens sum to the corpus totals
    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    val nTok = docs.select(org.apache.spark.sql.functions.expr(
      "sum(size(split(text, ' ')))")).head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == nTok)
    assert(rows.last.getAs[Long]("cum_share_ppm") == 1000000L)
    // equal-mass up to bucket resolution: every phase's share within the
    // largest single bucket's mass of the 25% target
    val hist = docs.select(org.apache.spark.sql.functions.expr(
        "least(size(split(text, ' ')) div 8, 127)").as("b"),
        org.apache.spark.sql.functions.expr("size(split(text, ' '))").as("n"))
      .groupBy("b").agg(org.apache.spark.sql.functions.expr("sum(n)").as("m"))
      .collect()
    val maxBucketPpm = hist.map(_.getAs[Long]("m")).max * 1000000L / nTok
    rows.foreach { r =>
      assert(math.abs(r.getAs[Long]("share_ppm") - 250000L) <= maxBucketPpm,
        s"phase ${r.getAs[Int]("phase")} share off by more than one bucket")
    }
  }

  test("q9d filter ablation: cells partition the corpus and marginals " +
      "replay against direct gate recounts") {
    import org.apache.spark.sql.functions.{col => c, _}
    val rows = Curation.filterAblation(spark, sfDir).collect()
    assert(rows.length == 8)
    val docs = Tables.documents(spark, sfDir)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count(),
      "cells must partition the corpus")
    // flag columns are pure functions of the cell id
    rows.foreach { r =>
      val cell = r.getAs[Long]("cell")
      assert(r.getAs[Boolean]("pass_len") == ((cell / 4) % 2 == 1))
      assert(r.getAs[Boolean]("pass_div") == ((cell / 2) % 2 == 1))
      assert(r.getAs[Boolean]("pass_stop") == (cell % 2 == 1))
      assert(r.getAs[Boolean]("kept") == (cell == 7))
      assert(r.getAs[Boolean]("unique_kill") == Set(3L, 5L, 6L).contains(cell))
    }
    // marginal recount: the min-length gate's pass count recomputed
    // directly must equal the sum over cells with the length bit set
    val lenPass = docs.where(c("n_chars") >= 100).count()
    assert(rows.filter(_.getAs[Boolean]("pass_len"))
      .map(_.getAs[Long]("n_docs")).sum == lenPass,
      "length-gate marginal diverged from direct recount")
    // at least one gate must have unique kill mass on the fixture —
    // otherwise the matrix degenerates and the operator grades nothing
    assert(rows.filter(_.getAs[Boolean]("unique_kill"))
      .map(_.getAs[Long]("n_docs")).sum > 0L)
  }

  test("q8o interleaving audit: shards partition the corpus; planted " +
      "contiguous source blocks are broken up by the permutation") {
    import spark.implicits._
    val rows = Curation.interleavingAudit(spark, sfDir).collect()
    assert(rows.length == 8)
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_shard")).sum == nDocs,
      "shards must partition the corpus exactly")
    rows.foreach { r =>
      assert(r.getAs[Long]("max_run") >= 1L)
      assert(r.getAs[Boolean]("balanced_ok") ==
        (r.getAs[Long]("maxdev_ppm") <= 100000L))
    }
    // planted worst case: 200 docs in 4 CONTIGUOUS 50-doc source blocks
    // (the raw crawl order every pipeline starts from). In doc_id order
    // the max run is 50; after Lehmer placement every shard must mix
    // all 4 sources and runs must collapse far below the block length.
    val docs = (0L until 200L).map(i => (i, s"blk${i / 50}")).toDF("doc_id", "source")
    val audited = Curation.interleavingAuditOf(docs, nShards = 4).collect()
    assert(audited.map(_.getAs[Long]("n_shard")).sum == 200L)
    audited.foreach { r =>
      assert(r.getAs[Long]("n_sources_seen") == 4L,
        s"shard ${r.getAs[Long]("shard")} missing a source block")
      assert(r.getAs[Long]("max_run") <= 10L,
        s"a 50-doc block survived as a run of ${r.getAs[Long]("max_run")}")
    }
    // driver-side replay of the permutation → max run over ALL shards
    val m = 2147483647L
    def pos(id: Long) = id % m * 48271 % m * 48271 % m
    val perShard = (0L until 200L)
      .map(i => (pos(i) * 4 / m, pos(i), s"blk${i / 50}")).sortBy(x => (x._1, x._2))
    val maxRun = perShard.groupBy(_._1).values.map { rowsInShard =>
      val srcs = rowsInShard.sortBy(_._2).map(_._3)
      var best = 1; var cur = 1
      for (i <- 1 until srcs.length) {
        if (srcs(i) == srcs(i - 1)) { cur += 1; best = math.max(best, cur) }
        else cur = 1
      }
      best
    }.max
    assert(audited.map(_.getAs[Long]("max_run")).max == maxRun.toLong,
      "engine max_run must equal the driver replay")
    // absent-source drift: a source with ONE document is necessarily
    // absent from 3 of 4 shards — those shards must report a deviation
    // at least that source's global share, not silently skip it
    val docs2 = ((0L until 99L).map(i => (i, s"blk${i % 3}"))
      :+ (99L, "rare")).toDF("doc_id", "source")
    val a2 = Curation.interleavingAuditOf(docs2, nShards = 4).collect()
    val rareShare = 1000000L / 100L
    val without = a2.filter(_.getAs[Long]("n_sources_seen") < 4L)
    assert(without.length == 3, "the 1-doc source fits exactly one shard")
    without.foreach { r =>
      assert(r.getAs[Long]("maxdev_ppm") >= rareShare,
        s"shard ${r.getAs[Long]("shard")} must see the absent source's " +
          s"global share as drift: ${r.getAs[Long]("maxdev_ppm")}")
    }
  }

  test("q9g domain reweighting: weights normalize, ratio order follows " +
      "excess order, EG direction is correct") {
    val rows = Curation.domainReweighting(spark, sfDir).collect()
    assert(rows.length >= 2)
    val wSum = rows.map(_.getAs[Long]("weight_ppm")).sum
    assert(math.abs(wSum - 1000000L) <= rows.length, s"weights sum to $wSum")
    assert(rows.map(_.getAs[Long]("excess_e6")).min == 0L,
      "excess must be anchored at the best-fit domain")
    // EG direction: the best-fit domain is at-or-below baseline, the
    // worst-fit strictly above; ratio ordering == excess ordering
    val byExcess = rows.sortBy(_.getAs[Long]("excess_e6"))
    assert(byExcess.head.getAs[Long]("ratio_e3") <= 1000L)
    assert(byExcess.last.getAs[Long]("ratio_e3") > 1000L)
    val ratios = byExcess.map(_.getAs[Long]("ratio_e3")).toSeq
    assert(ratios == ratios.sorted, "ratio must be monotone in excess")
    // the reference slice binds: sources with more en tokens should sit
    // lower — check the two extremes' en token share directly
    import org.apache.spark.sql.functions.{col => c, size => sz, split => sp, sum => su, when => wh, lit => lt, explode => ex}
    val enShare = Tables.documents(spark, sfDir)
      .select(c("source"), ex(sp(c("text"), " ")).as("t"), c("lang"))
      .groupBy("source")
      .agg((su(wh(c("lang") === "en", 1L).otherwise(0L)) * 1000000L
        / su(lt(1L))).cast("long").as("en_ppm"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("en_ppm")).toMap
    val best = byExcess.head.getAs[String]("source")
    val worst = byExcess.last.getAs[String]("source")
    assert(enShare(best) > enShare(worst),
      "best-fit domain must carry more reference-language mass than the worst")
  }

  test("q9h unimax allocation: water-filling invariants hold") {
    val rows = Curation.unimaxAllocation(spark, sfDir).collect()
    val b = rows.map(_.getAs[Long]("n_tokens")).sum
    val alloc = rows.map(_.getAs[Long]("alloc_tokens")).sum
    assert(math.abs(alloc - b) <= rows.length,
      s"budget not conserved: $alloc vs $b")
    val (capped, uncapped) = rows.partition(_.getAs[Boolean]("capped"))
    assert(capped.nonEmpty && uncapped.nonEmpty,
      "fixture must exercise both sides of the cap at 1.2 epochs")
    capped.foreach { r =>
      assert(r.getAs[Long]("alloc_tokens") == r.getAs[Long]("cap"),
        "capped language must receive exactly its capacity")
      assert(math.abs(r.getAs[Long]("epochs_e3") - 1200L) <= 1L)
    }
    // water level: every uncapped allocation exceeds every capped one
    // (otherwise the capped language would not have capped), and the
    // uncapped languages all sit at the same level
    val lvl = uncapped.map(_.getAs[Long]("alloc_tokens")).distinct
    assert(lvl.length == 1, "uncapped languages must share one water level")
    assert(lvl.head >= capped.map(_.getAs[Long]("alloc_tokens")).max)
    uncapped.foreach { r =>
      assert(r.getAs[Long]("epochs_e3") < 1200L,
        "uncapped language must train for fewer epochs than the cap")
    }
  }

  test("q9z curation pipeline: per-source funnel is monotone, stages " +
      "conserve, exact stage replays against a direct distinct-norm count") {
    val rows = Curation.curationPipeline(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
    assert(rows.map(_.getAs[Long]("n_raw")).sum == docs.count(),
      "raw stage must cover the corpus")
    rows.foreach { r =>
      val Seq(raw, ex, nd, q) = Seq("n_raw", "n_exact", "n_neardup", "n_quality")
        .map(r.getAs[Long](_))
      assert(raw >= ex && ex >= nd && nd >= q,
        s"${r.getAs[String]("source")}: funnel must be monotone ($raw/$ex/$nd/$q)")
      assert(r.getAs[Long]("retention_ppm") == q * 1000000L / raw)
      assert(r.getAs[Long]("tok_quality") <= r.getAs[Long]("tok_raw"))
    }
    // exact stage == number of distinct normalized texts (first-of-norm
    // keeps exactly one doc per norm)
    val distinctNorms = docs.select(
      graft.operators.Dedup.normalizeText(col("text")).as("n")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_exact")).sum == distinctNorms,
      "exact survivors must equal the distinct normalized-text count")
    // the near-dup stage must remove something on the fixture (planted
    // near-dups survive exact dedup but fall to the 0.97 Jaccard knee)
    assert(rows.map(_.getAs[Long]("n_neardup")).sum <
      rows.map(_.getAs[Long]("n_exact")).sum,
      "near-dup stage removed nothing - threshold not binding")
  }

  test("q9r split manifest: splits partition the corpus, checksums replay " +
      "driver-side from the Lehmer membership") {
    val rows = Curation.splitManifest(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("split")).toSet == Set("train", "val", "test"))
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.length)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == docs.map(_._2).sum)
    val m = 2147483647L
    val replay = docs.groupBy { case (id, _) =>
      val l2 = ((id % m) * 48271L % m) * 48271L % m
      val u = l2.toDouble / m
      if (u < 0.8) "train" else if (u < 0.9) "val" else "test"
    }
    rows.foreach { r =>
      val members = replay(r.getAs[String]("split"))
      assert(r.getAs[Long]("n_docs") == members.length)
      val checksum = members.map { case (id, _) =>
        (((id % m) * 48271L % m) * 48271L % m) % 1000003L
      }.sum
      assert(r.getAs[Long]("membership_checksum") == checksum,
        s"${r.getAs[String]("split")} checksum replay diverged")
    }
    val train = rows.find(_.getAs[String]("split") == "train").get
    assert(train.getAs[Long]("share_ppm") > 700000L,
      "train gate must dominate at the 80/10/10 thresholds")
  }

  test("qah length debias: rates, gated membership and flatness replay " +
      "driver-side; flattening never worsens the max/min ratio") {
    val rows = Curation.lengthDebias(spark, sfDir).collect()
    val m = 2147483647L
    def u(id: Long) = (((((id * 13 + 7) % m) * 48271L % m) * 48271L % m))
      .toDouble / m
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1) / 50))
    val counts = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(rows.length == counts.size)
    val total = docs.length.toLong
    val target = total / counts.size
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val n = counts(b)
      val rate = math.min(1000000L, target * 1000000L / n)
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("rate_ppm") == rate, s"bucket $b rate")
      val kept = docs.filter(_._2 == b)
        .count(d => u(d._1) < rate.toDouble / 1000000.0).toLong
      assert(r.getAs[Long]("n_kept") == kept, s"bucket $b membership")
    }
    val preMax = counts.values.max; val preMin = counts.values.min
    assert(rows.head.getAs[Long]("flat_pre_x1000") ==
      preMax * 1000 / math.max(preMin, 1L))
    val keptByB = rows.map(r => r.getAs[Long]("bucket")
      -> r.getAs[Long]("n_kept")).toMap
    assert(rows.head.getAs[Long]("flat_post_x1000") ==
      keptByB.values.max * 1000 / math.max(keptByB.values.min, 1L))
    assert(rows.head.getAs[Boolean]("flattened"),
      "inverse-density rates must not worsen flatness on this fixture")
  }

  test("q9v threshold sweep: curve replays driver-side; recall is monotone " +
      "non-increasing and exactly one operating point is flagged best") {
    val rows = Curation.thresholdSweep(spark, sfDir).collect()
    assert(rows.length == 21, "21-point e4 grid")
    assert(rows.map(_.getAs[Long]("threshold_e4")).toSeq ==
      (0L to 10000L by 500L))
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "n_chars").collect().map { r =>
        val toks = r.getString(1).split(" ", -1)
        val n = toks.length.toDouble
        val diversity = toks.distinct.length.toDouble / n
        val stop = toks.count(Set("the", "a", "of", "and", "to", "in")).toDouble / n
        val lengthOk = if (r.getLong(2) >= 100) 1.0 else r.getLong(2) / 100.0
        val score = math.floor((lengthOk * 0.4 + diversity * 0.4
          + math.min(stop * 5.0, 1.0) * 0.2) * 1e4 + 0.5).toLong
        val mx = toks.groupBy(identity).values.map(_.length).max.toLong
        (score, if (mx * 10 < toks.length.toLong) 1L else 0L)
      }
    val posTotal = docs.map(_._2).sum
    rows.foreach { r =>
      val t = r.getAs[Long]("threshold_e4")
      // bucket grid: score >= t iff min(score div 500, 20) >= t/500
      val pred = docs.filter(d => math.min(d._1 / 500, 20L) >= t / 500)
      val tp = pred.map(_._2).sum
      assert(r.getAs[Long]("p_pred") == pred.length.toLong, s"P at $t")
      assert(r.getAs[Long]("tp") == tp, s"TP at $t")
      assert(r.getAs[Long]("fp") == pred.length - tp)
      assert(r.getAs[Long]("fn") == posTotal - tp)
      val f1 = if (pred.isEmpty && posTotal == 0) 0L
        else 2 * tp * 1000000L / (pred.length + posTotal)
      assert(r.getAs[Long]("f1_ppm") == f1, s"F1 at $t")
    }
    val recalls = rows.map(_.getAs[Long]("recall_ppm")).toSeq
    assert(recalls == recalls.sorted.reverse,
      "recall must be non-increasing in the threshold")
    assert(rows.count(_.getAs[Boolean]("is_best")) == 1)
    val bestF1 = rows.map(_.getAs[Long]("f1_ppm")).max
    val best = rows.filter(_.getAs[Boolean]("is_best")).head
    assert(best.getAs[Long]("f1_ppm") == bestF1)
    assert(best.getAs[Long]("threshold_e4") ==
      rows.filter(_.getAs[Long]("f1_ppm") == bestF1)
        .map(_.getAs[Long]("threshold_e4")).min,
      "tie broken toward the smallest threshold")
  }

  test("qas epoch shuffle: covers the corpus, replays per seed, and " +
      "different seeds give different permutations") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rows = Curation.epochShuffle(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == docs.length.toLong,
      "every doc appears exactly once across the shards")
    assert(rows.map(_.getAs[Long]("chars")).sum == docs.map(_._2).sum)
    // driver replay of the full permutation at the default seed
    val m = 2147483647L
    def key(id: Long, seed: Long): Long =
      (((id * 31 + seed) % m) * 48271 % m) * 48271 % m
    val expected = docs.map { case (id, _) => (id, key(id, 7L)) }
      .groupBy { case (_, k) => (k * 8 / m).toInt }
      .map { case (shard, in) =>
        val ordered = in.sortBy { case (id, k) => (k, id) }
        shard -> ordered.zipWithIndex
          .map { case ((id, _), i) => (i + 1).toLong * id }.sum
      }
    rows.foreach { r =>
      assert(r.getAs[Long]("perm_checksum") ==
        expected(r.getAs[Int]("shard")),
        s"shard ${r.getAs[Int]("shard")}: permutation diverged from replay")
    }
    // a different seed is a different epoch order (same coverage)
    val other = Curation.epochShuffle(spark, sfDir, seed = 8L).collect()
    assert(other.map(_.getAs[Long]("n_rows")).sum == docs.length.toLong)
    assert(other.map(r => (r.getAs[Int]("shard"), r.getAs[Long]("perm_checksum")))
      .toSeq != rows.map(r => (r.getAs[Int]("shard"), r.getAs[Long]("perm_checksum"))).toSeq,
      "epochs must not repeat the same order")
    // and the same seed replays bit-for-bit
    val again = Curation.epochShuffle(spark, sfDir).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("prioritySample: k rows total, estimator lands near the truth") {
    val rows = Curation.prioritySample(spark, sfDir).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("n_sampled")).sum == 300L,
      "the sample is exactly k rows across all slices")
    assert(rows.map(_.getAs[Long]("n_rows")).sum ==
      graft.Tables.lineitem(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("est_c") > 0L)
      assert(r.getAs[Long]("err_ppm") ==
        math.abs(r.getAs[Long]("est_c") - r.getAs[Long]("exact_c"))
          * 1000000L / r.getAs[Long]("exact_c"))
    }
    // per-slice variance is real (k/3 draws each) but the grand total
    // pools all k draws: the DLT estimator should land within a few %
    val est = rows.map(_.getAs[Long]("est_c")).sum
    val exact = rows.map(_.getAs[Long]("exact_c")).sum
    assert(math.abs(est - exact) * 100L / exact < 10L,
      s"grand-total estimate off by more than 10%: est=$est exact=$exact")
    // determinism: Lehmer uniforms, not a session RNG
    val again = Curation.prioritySample(spark, sfDir).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }
}
