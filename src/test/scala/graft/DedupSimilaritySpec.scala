package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Invariant tests for the near-dup and similarity operators (SURVEY
  * §5.2): candidate generation must be bucket-bounded (≪ n²), LSH/IVF
  * results must agree with brute force on what they do return. */
class DedupSimilaritySpec extends SparkSpec {

  test("retentionCurve: monotone in the threshold, conserves the corpus") {
    val rows = Dedup.retentionCurve(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("threshold_ppm"))
    assert(rows.length == 5)
    val total = rows.head.getAs[Long]("total_chars")
    rows.foreach { r =>
      val surv = r.getAs[Long]("n_survivors")
      val drop = r.getAs[Long]("n_dropped")
      assert(r.getAs[Long]("retention_ppm") == surv * 1000000L / (surv + drop))
      assert(r.getAs[Long]("kept_chars") <= total)
      assert(drop <= r.getAs[Long]("n_pairs"),
        "each dropped doc needs at least one qualifying pair naming it")
    }
    // raising the threshold can only shrink the qualifying pair set
    val pairSeq = rows.map(_.getAs[Long]("n_pairs"))
    assert(pairSeq.zip(pairSeq.tail).forall { case (lo, hi) => lo >= hi },
      s"pair counts must be non-increasing: ${pairSeq.mkString(",")}")
    val survSeq = rows.map(_.getAs[Long]("n_survivors"))
    assert(survSeq.zip(survSeq.tail).forall { case (lo, hi) => lo <= hi },
      "survivors must be non-decreasing in the threshold")
  }

  test("ivfProbeCurve: all contracts hold and the exhaustive probe is exact") {
    val rows = Similarity.ivfProbeCurve(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("n_probe"))
    assert(rows.map(_.getAs[Long]("n_probe")).toSeq == Seq(1L, 2L, 4L))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("recall_ok"), s"recall floor failed at ${r}")
      assert(r.getAs[Boolean]("monotone_ok"), s"nested probes lost overlap at ${r}")
      assert(r.getAs[Long]("n_exact") == 10L)
    }
  }

  test("fisherSeparation: within/between decomposition matches a driver-side replay") {
    val rows = Similarity.fisherSeparation(spark, sfDir).collect()
    val vecs = Tables.embeddings(spark, sfDir)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)
        .map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray))
    val n = vecs.length.toLong
    val dim = vecs.head._2.length
    val gSum = Array.fill(dim)(0L)
    vecs.foreach { case (_, v) => (0 until dim).foreach(d => gSum(d) += v(d)) }
    rows.foreach { r =>
      val lab = r.getAs[Int]("label")
      val mine = vecs.filter(_._1 == lab)
      val nl = mine.length.toLong
      assert(r.getAs[Long]("n_vectors") == nl)
      val sL = Array.fill(dim)(0L)
      var q = 0L
      mine.foreach { case (_, v) =>
        (0 until dim).foreach { d => sL(d) += v(d); q += v(d) * v(d) } }
      val s2 = sL.map(x => x * x).sum
      assert(r.getAs[Long]("within_scaled") == nl * q - s2)
      val bNum = (0 until dim).map { d =>
        val t = BigInt(n * sL(d) - nl * gSum(d)); t * t }.sum
      assert(BigInt(r.getAs[String]("b_num")) == bNum)
      assert(r.getAs[Long]("separation_e6") >= 0L)
    }
  }

  test("componentSizeHistogram: partitions the corpus, removable identity holds") {
    val rows = Dedup.componentSizeHistogram(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == n,
      "histogram must partition every vector")
    val removable = rows.map(_.getAs[Long]("removable")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vectors") ==
        r.getAs[Long]("component_size") * r.getAs[Long]("n_components"))
      assert(r.getAs[Long]("removable") ==
        (r.getAs[Long]("component_size") - 1) * r.getAs[Long]("n_components"))
      assert(r.getAs[Long]("total_removable") == removable)
    }
    // consistency with q57: same component multiset
    val comp = Dedup.duplicateComponents(spark, sfDir).collect()
      .map(_.getAs[Long]("n_members"))
    assert(comp.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }.toSet ==
      rows.map(r => (r.getAs[Long]("component_size"),
        r.getAs[Long]("n_components"))).toSet)
  }

  test("crossSourceMatrix: cells bounded by the pair population, strict <= loose") {
    val rows = Dedup.crossSourceMatrix(spark, sfDir).collect()
    assert(rows.nonEmpty, "planted near-dups must populate at least one cell")
    rows.foreach { r =>
      assert(r.getAs[String]("source_lo") <= r.getAs[String]("source_hi"),
        "cell labels must be lexically ordered")
      assert(r.getAs[Long]("n_strict") <= r.getAs[Long]("n_pairs"))
      val mx = r.getAs[Long]("max_jacc_ppm")
      assert(mx >= 500000L && mx <= 1000000L)
    }
    // the matrix total equals the >= 0.5 row of the retention curve
    val curve = Dedup.retentionCurve(spark, sfDir, thresholds = Seq(500000L))
      .head().getAs[Long]("n_pairs")
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == curve,
      "every qualifying pair lands in exactly one cell")
  }

  test("exactByContent counts are consistent") {
    val r = Dedup.exactByContent(spark, sfDir).head()
    val total = Tables.documents(spark, sfDir).count()
    assert(r.getAs[Long]("n_total") == total)
    assert(r.getAs[Long]("n_unique") <= total)
  }

  test("normalizedDedup merges case/punct/whitespace variants, not distinct docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "en", "Hello, World!"),
      (2L, "en", "hello   world"),
      (3L, "en", "HELLO WORLD."),
      (4L, "en", "goodbye world"),
      (5L, "de", "Hello, World!") // same text, other stratum: separate group
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.normalizedDedupOf(df).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(out("en").getAs[Long]("n_docs") == 4)
    assert(out("en").getAs[Long]("n_unique") == 2, "three variants must merge")
    assert(out("en").getAs[Long]("n_redundant") == 2)
    // "hello world" ×3 + "goodbye world" ×1
    assert(out("en").getAs[Long]("norm_chars") == 3 * 11 + 13)
    assert(out("de").getAs[Long]("n_unique") == 1)
  }

  test("truncationAudit: retention bounded and exact on planted vectors") {
    val r = Similarity.truncationAudit(spark, sfDir).head()
    assert(r.getAs[Double]("avg_retained") > 0.0 &&
      r.getAs[Double]("avg_retained") <= 1.0)
    assert(r.getAs[Double]("min_retained") >= 0.0)
    assert(r.getAs[Long]("n_vectors") ==
      Tables.embeddings(spark, sfDir).count())
    // planted: energy only in the prefix → retained exactly 1.0;
    // energy only in the tail → exactly 0.0 (replayed through the same
    // column expressions the operator uses)
    import spark.implicits._
    val planted = Seq(
      (1L, Array.fill(8)(1.0f) ++ Array.fill(8)(0.0f)),
      (2L, Array.fill(8)(0.0f) ++ Array.fill(8)(2.0f))
    ).toDF("vec_id", "embedding")
    val sq = (x: org.apache.spark.sql.Column) => x.cast("double") * x.cast("double")
    val total = aggregate(col("embedding"), lit(0.0), (acc, x) => acc + sq(x))
    val kept = aggregate(slice(col("embedding"), 1, 8), lit(0.0), (acc, x) => acc + sq(x))
    val rr = planted.select(col("vec_id"),
      when(total === 0.0, lit(1.0)).otherwise(kept / total).as("ret"))
      .collect().map(r2 => r2.getLong(0) -> r2.getDouble(1)).toMap
    assert(rr(1L) == 1.0 && rr(2L) == 0.0)
  }

  test("pageRank: mass conserved, uniform on a symmetric cycle, correct on a star") {
    import spark.implicits._
    import graft.operators.Graph
    // 4-cycle: perfectly symmetric → uniform ranks at every iteration
    val cyc = Graph.pageRank(
      (0L to 3L).toDF("id"),
      (0L to 3L).map(i => (i, (i + 1) % 4)).toDF("src", "dst"),
      iterations = 5).collect()
    cyc.foreach(r => assert(math.abs(r.getAs[Double]("pr") - 0.25) < 1e-12))
    // star 1,2,3 → 0; 0 → 1: hub accumulates, spokes split the floor.
    // After 1 iter: pr(0) = 0.15/4 + 0.85·(3·(1/4)) ; pr(1) = 0.15/4 +
    // 0.85/4 ; pr(2) = pr(3) = 0.15/4
    val star = Graph.pageRank(
      (0L to 3L).toDF("id"),
      Seq((1L, 0L), (2L, 0L), (3L, 0L), (0L, 1L)).toDF("src", "dst"),
      iterations = 1).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("pr")).toMap
    assert(math.abs(star(0L) - (0.15 / 4 + 0.85 * 0.75)) < 1e-12)
    assert(math.abs(star(1L) - (0.15 / 4 + 0.85 * 0.25)) < 1e-12)
    assert(math.abs(star(2L) - 0.15 / 4) < 1e-12)
    // graded fixture query: total mass stays 1 (no dangling leakage —
    // every doc has out-edges by construction)
    val pr = Graph.linkPageRank(spark, sfDir).collect()
    assert(math.abs(pr.map(_.getAs[Double]("pr")).sum - 1.0) < 1e-6)
    assert(pr.length == Tables.documents(spark, sfDir).count())
  }

  test("semanticDedup: clusters partition the corpus, drops only with a kept witness") {
    val out = Dedup.semanticDedup(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.map(_.getAs[Long]("n_vectors")).sum == n,
      "every vector must land in exactly one cluster")
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_vectors"))
      // at least one survivor per non-empty cluster: the globally
      // lowest-priority vector of a cluster has no higher-priority
      // neighbor, so it can never be dropped
      assert(r.getAs[Long]("n_kept") >= 1)
    }
    // threshold 0.25 on the random fixture must actually fire (the q57
    // component fixture found hundreds of such pairs) — a dedup that
    // drops nothing is not exercising the pair join
    assert(out.map(_.getAs[Long]("n_dropped")).sum > 0,
      "no semantic dups found — pair join inert")
  }

  test("minhash candidate pairs are far fewer than all-pairs") {
    val n = Tables.documents(spark, sfDir).count()
    val pairs = Dedup.minhashNearDupPairs(spark, sfDir).count()
    assert(pairs < n * (n - 1) / 4, s"pairs=$pairs vs n=$n — bucketing not pruning")
  }

  test("embeddingNearDupsGraded: exactly the planted twin pairs, cosine exactly 1.0") {
    val rows = Dedup.embeddingNearDupsGraded(spark, sfDir).collect()
    assert(rows.length == 8, s"expected the 8 planted twin pairs, got ${rows.length}")
    rows.foreach { r =>
      val a = r.getAs[Long]("vec_a"); val b = r.getAs[Long]("vec_b")
      assert(a < 8 && b == a + 100000L, s"unexpected pair ($a,$b)")
      // power-of-two scaling: cosine is EXACTLY 1.0, not approximately
      assert(r.getAs[Double]("cosine") == 1.0)
    }
  }

  test("minhashPairsContract: recall/boundedness hold and the truth set is pinned") {
    val rows = Dedup.minhashPairsContract(spark, sfDir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_true_pairs") > 0, "fixture must plant J>=0.7 pairs")
    assert(r.getAs[Long]("sum_true_ids") > 0)
    assert(r.getAs[Boolean]("recall_ok"), "banded join lost >20% of the truth set")
    assert(r.getAs[Boolean]("candidates_bounded"), "candidate set superlinear")
  }

  test("minhashLshContract: recall/precision hold against the exact truth") {
    val rows = Dedup.minhashLshContract(spark, sfDir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_true_pairs") > 0)
    assert(r.getAs[Boolean]("recall_ok"))
    assert(r.getAs[Boolean]("precision_ok"),
      "an emitted pair failed exact-Jaccard re-verification")
  }

  test("minhashNearDupPairsOf: bucket cap drops a planted degenerate bucket") {
    import spark.implicits._
    // 30 identical docs: every band collides → one bucket of 30 per band
    // → 435 pairs uncapped. Exact dedup should have removed these
    // upstream; the cap keeps the join linear if it didn't.
    val dup = (1 to 30).map(i => (i.toLong, "aaa bbb ccc ddd eee fff ggg hhh"))
    val docs = dup.toDF("doc_id", "text")
    val uncapped = Dedup.minhashNearDupPairsOf(docs).collect()
    assert(uncapped.length == 435)
    val capped = Dedup.minhashNearDupPairsOf(docs, bucketCap = 8L).collect()
    assert(capped.isEmpty, "capped degenerate bucket must emit no pairs")
  }

  test("minhash signature is stable and per-doc") {
    val sigs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.minhashSignature(col("text"), 16).as("sig"))
    val a = sigs.orderBy("doc_id").collect()
    val b = sigs.orderBy("doc_id").collect()
    assert(a.sameElements(b))
    assert(a.head.getAs[scala.collection.Seq[Long]]("sig").length == 16)
  }

  test("identical texts share simhash and minhash buckets") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content about spark engines and scale")
    ).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), Dedup.simhash(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
    val mh = df.select(col("doc_id"), Dedup.minhashSignature(col("text"), 16).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(mh(1L) == mh(2L))
    assert(mh(1L) != mh(3L))
  }

  test("embedding near-dups only reports pairs above the cosine floor") {
    Dedup.embeddingNearDups(spark, sfDir, minCosine = 0.9).collect().foreach { r =>
      assert(r.getAs[Double]("cosine") >= 0.9)
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
    }
  }

  test("q8f incremental near-dup: contract holds and the banded index is probe-stable") {
    import org.apache.spark.sql.functions.{col => c}
    // 500 docs at this SF (same as sf0.01): 400-doc standing index
    // probed by a 100-doc batch — the registered query's exact regime,
    // so the bucket cap and the batch-proportional candidate bound are
    // tested where they bind (a small-index/large-batch inversion
    // would make the n_cands <= batch x 4 bound nearly vacuous)
    val cut = 400L
    val row = Dedup.incrementalNearDupContract(spark, sfDir, cut = cut).head()
    val docs = Tables.documents(spark, sfDir)
    assert(row.getAs[Long]("n_index_docs") + row.getAs[Long]("n_incoming_docs")
      == docs.count())
    // scala-side recomputation of the exact cross-boundary truth
    val truth = Dedup.gramJaccardAllPairs(docs)
      .where(c("jac") >= 0.7 && ((c("a") < cut) =!= (c("b") < cut))).collect()
    assert(row.getAs[Long]("n_true_cross_pairs") == truth.length)
    assert(row.getAs[Boolean]("recall_ok"),
      "incremental probe missed the recall floor against the exact truth")
    assert(row.getAs[Boolean]("candidates_bounded"),
      "candidate count exceeded the batch-proportional bound")
    // the property that lets a PERSISTED index serve later batches: the
    // same document banded through the index path and the probe path
    // lands in identical (band, bucket) cells
    val once = Dedup.bandedSignatures(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val again = Dedup.bandedSignatures(docs.orderBy(c("doc_id").desc)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(once == again, "banded signatures are not row-order stable")
  }

  test("q8h substring dup spans: planted shared run covers exactly its own tokens") {
    import spark.implicits._
    // doc 1 and doc 2 share a 10-token run (positions 5..14 in doc 1,
    // 0..9 in doc 2 — DIFFERENT offsets, which fixed-width chunking
    // would misalign but window grams must not); doc 3 is disjoint.
    val shared = (0 until 10).map(i => s"s$i").mkString(" ")
    val d1 = ((0 until 5).map(i => s"a$i") ++ Seq(shared) ++
      (0 until 5).map(i => s"b$i")).mkString(" ")
    val d2 = (Seq(shared) ++ (0 until 8).map(i => s"c$i")).mkString(" ")
    val d3 = (0 until 18).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val rows = Dedup.substringDupSpansOf(docs, windowTokens = 8, topK = 12)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // only windows fully inside the shared run are duplicated (3 start
    // positions each), and their union is exactly the 10 shared tokens
    assert(rows(1L).getAs[Long]("dup_span_tokens") == 10L)
    assert(rows(2L).getAs[Long]("dup_span_tokens") == 10L)
    assert(rows(3L).getAs[Long]("dup_span_tokens") == 0L)
    assert(rows(1L).getAs[Long]("n_tokens") == 20L)
    val tot = rows(1L)
    assert(tot.getAs[Long]("n_docs") == 3L)
    assert(tot.getAs[Long]("total_dup_tokens") == 20L)
    assert(tot.getAs[Long]("n_docs_with_dup") == 2L)
  }

  test("q8h substring dup spans on the fixture: dense ranks, bounded shares, " +
      "coverage at least the window mass of any duplicated gram") {
    import org.apache.spark.sql.functions.{col => c}
    val rows = Dedup.substringDupSpans(spark, sfDir).collect()
    assert(rows.length == 12)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to 12))
    val ppms = rows.map(_.getAs[Long]("dup_ppm")).toSeq
    assert(ppms == ppms.sorted.reverse, "dup shares must be non-increasing")
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_span_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("dup_ppm") >= 0 && r.getAs[Long]("dup_ppm") <= 1000000)
    }
    val tot = rows.head
    assert(tot.getAs[Long]("total_dup_tokens") <= tot.getAs[Long]("total_tokens"))
    // an exact-duplicate doc (same full text twice) must rank with a
    // full 1e6 span share, same argument as the q8g chunk invariant
    val exactDup = Tables.documents(spark, sfDir)
      .groupBy("text").agg(countDistinct("doc_id").as("n"), min("doc_id").as("d"))
      .where(c("n") >= 2).select("d").collect().map(_.getLong(0)).toSet
    if (exactDup.nonEmpty) {
      val full = rows.filter(_.getAs[Long]("dup_ppm") == 1000000L)
        .map(_.getAs[Long]("doc_id")).toSet
      assert(exactDup.exists(full.contains) || full.size == 12,
        "no exact-duplicate doc surfaced with a full duplicated share")
    }
  }

  test("q8g chunk dedup: dense ranks, bounded shares, exact-dup docs fully covered") {
    import org.apache.spark.sql.functions.{col => c}
    val rows = Dedup.chunkDedup(spark, sfDir).collect()
    assert(rows.length == 15)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to 15))
    val shares = rows.map(_.getAs[Long]("dup_share_ppm")).toSeq
    assert(shares == shares.sorted.reverse, "shares must be non-increasing")
    shares.foreach(s => assert(s >= 0 && s <= 1000000))
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("distinct_chunks") <= r.getAs[Long]("total_chunks"))
    }
    // content-defined boundaries make chunking position-independent, so
    // a document whose full text occurs >= 2 times in the corpus has
    // EVERY chunk duplicated — share exactly 1e6, and exact-dup docs
    // must occupy the top ranks ahead of any partial overlap
    val exactDupDocs = Tables.documents(spark, sfDir)
      .groupBy("text").agg(countDistinct("doc_id").as("n"),
        min("doc_id").as("d"))
      .where(c("n") >= 2).select("d").collect().map(_.getLong(0)).toSet
    if (exactDupDocs.nonEmpty) {
      val fullShare = rows.filter(_.getAs[Long]("dup_share_ppm") == 1000000L)
        .map(_.getAs[Long]("doc_id")).toSet
      assert(exactDupDocs.exists(fullShare.contains) || fullShare.size == 15,
        "no exact-duplicate doc surfaced with a full duplicated share")
    }
  }

  test("connected components: cliques, long paths, singletons all resolve to min-id reps") {
    import spark.implicits._
    // component A: clique {0,1,2}; component B: a 12-vertex PATH
    // 10-11-...-21 (diameter 11 > maxIter would fail without pointer
    // jumping); singleton 99. maxIter 8 leaves room for the every-2nd-
    // round fixpoint probe (detection can lag convergence by 2 rounds)
    // while staying below the diameter, which is the point of the test.
    val pathEdges = (10L until 21L).map(i => (i, i + 1))
    val edges = (Seq((0L, 1L), (1L, 2L), (0L, 2L)) ++ pathEdges).toDF("src", "dst")
    val verts = ((0L to 2L) ++ (10L to 21L) ++ Seq(99L)).toDF("id")
    val rep = Dedup.connectedComponents(verts, edges, maxIter = 8, numPartitions = Some(2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 2L).foreach(v => assert(rep(v) == 0L, s"vertex $v"))
    (10L to 21L).foreach(v => assert(rep(v) == 10L, s"vertex $v"))
    assert(rep(99L) == 99L)
  }

  test("planted power-law component: pointer jumping stays O(log d) and " +
      "every heavy stage stays parallel (q57/q8d scale property)") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    // The graph one crawl-everything template produces: a GIANT family —
    // hub 0 with 1500 spokes (the skew: >70% of all edges shared one
    // dst key) PLUS a 128-vertex path hanging off the hub (the
    // diameter) — next to a small pair and a singleton. Asserts the two
    // scale properties of the q57/q8d stack that were previously
    // evidenced only by construction:
    //  1. rounds are O(log diameter): diameter ≈ 129, so a one-hop-per-
    //     round propagation needs ~129 rounds and FAILS the maxIter=12
    //     budget; pointer jumping lands in ~log2(129)+probe-lag ≈ 9-12.
    //  2. no heavy stage collapses to a single task: every stage that
    //     shuffled ≥100 records must have run with ≥2 tasks even though
    //     the hub key dominates the edge distribution (the neighbor-min
    //     is partially aggregated map-side; the loop's numPartitions
    //     plumbing keeps each round parallel).
    val spokes = (1L to 1500L).map(i => (0L, i))
    val path = (2000L until 2128L).map(i => (i, i + 1))
    val edges = (spokes ++ Seq((0L, 2000L)) ++ path ++ Seq((9000L, 9001L)))
      .toDF("src", "dst")
    val verts = ((0L to 1500L) ++ (2000L to 2128L) ++ Seq(9000L, 9001L, 9999L))
      .toDF("id")
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long)]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages.add((si.stageId, si.numTasks,
          si.taskMetrics.shuffleReadMetrics.recordsRead))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE legitimately coalesces these kilobyte shuffles into one
    // partition AT TOY SCALE (verified: stage reading 1698 records ran
    // 1 task with coalescing on) — which would mask the property under
    // test, the OPERATOR'S own partitioning. Disable coalescing only,
    // keep the rest of AQE as production would run it.
    val rep =
      try graft.SessionConf.withConfs(spark,
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        Dedup.connectedComponents(verts, edges, maxIter = 12,
            numPartitions = Some(2))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      finally {
        // stage-completed events are delivered async; give the bus a
        // beat to drain before unregistering
        val deadline = System.nanoTime() + 5_000_000_000L
        var last = -1
        while (stages.size != last && System.nanoTime() < deadline) {
          last = stages.size; Thread.sleep(100)
        }
        spark.sparkContext.removeSparkListener(listener)
      }
    // exact recovery of the planted partition, giant family included
    (0L to 1500L).foreach(v => assert(rep(v) == 0L, s"vertex $v"))
    (2000L to 2128L).foreach(v => assert(rep(v) == 0L, s"vertex $v"))
    assert(rep(9000L) == 9000L && rep(9001L) == 9000L && rep(9999L) == 9999L)
    assert(rep.size == 1501 + 129 + 3)
    import scala.jdk.CollectionConverters._
    val heavy = stages.asScala.toSeq.filter(_._3 >= 100)
    assert(heavy.nonEmpty, "expected at least one stage shuffling ≥100 records")
    heavy.foreach { case (id, nTasks, recs) =>
      assert(nTasks >= 2,
        s"stage $id shuffled $recs records through a SINGLE task — " +
          "the skewed family collapsed a round's parallelism")
    }
  }

  test("connected components tolerates an empty vertex set") {
    import spark.implicits._
    val verts = Seq.empty[Long].toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    // sum() over zero rows is SQL NULL — must terminate cleanly, not NPE
    assert(Dedup.connectedComponents(verts, edges, maxIter = 4).count() == 0)
  }

  test("duplicateComponents partitions all vectors and sizes sum to the corpus") {
    val comps = Dedup.duplicateComponents(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(comps.map(_.getAs[Long]("n_members")).sum == n,
      "components must partition the vector set")
    // representative is a member: rep ids are distinct and within range
    val reps = comps.map(_.getAs[Long]("component_rep"))
    assert(reps.distinct.length == reps.length)
  }

  test("canonicalDedup agrees with duplicateComponents and picks max-quality reps") {
    val canon = Dedup.canonicalDedup(spark, sfDir).collect()
    val comps = Dedup.duplicateComponents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("component_rep") -> r.getAs[Long]("n_members")).toMap
    // same clusters, same sizes as the q57 components
    assert(canon.map(r =>
      r.getAs[Long]("component_rep") -> r.getAs[Long]("n_members")).toMap == comps)
    val chars = Tables.documents(spark, sfDir)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    canon.foreach { r =>
      val rep = r.getAs[Long]("component_rep")
      if (r.getAs[Long]("n_members") == 1L) {
        // a singleton's canonical member IS its representative, nothing dropped
        assert(r.getAs[Long]("canonical_id") == rep)
        assert(r.getAs[Long]("dropped_chars") == 0L)
      }
      assert(r.getAs[Long]("canonical_chars") == chars(r.getAs[Long]("canonical_id")))
    }
  }

  test("embedding near-dups EMITS planted near-duplicate pairs") {
    // the fixture embeddings are random (max cosine ≈ 0.46), so the
    // emission path needs a planted corpus: 20 random bases, each with a
    // near-copy at id+100 (perturbation 1e-4 → cosine ≈ 1.0, same
    // hyperplane bucket with overwhelming probability)
    val rng = new scala.util.Random(823)
    val dim = 32
    val bases = (0L until 20L).map(i => i -> Array.fill(dim)(rng.nextGaussian().toFloat))
    val rows = bases.flatMap { case (i, v) =>
      val near = v.map(x => x + 1e-4f * (if (i % 2 == 0) 1 else -1))
      Seq((i, v.toSeq), (i + 100L, near.toSeq))
    }
    import spark.implicits._
    val emb = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, dim, minCosine = 0.99, nBits = 8)
      .collect()
    val found = pairs.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    // every planted (i, i+100) pair must be found with cosine ≈ 1
    (0L until 20L).foreach { i =>
      assert(found.contains((i, i + 100L)), s"missing planted pair ($i, ${i + 100})")
    }
    pairs.foreach(r => assert(r.getAs[Double]("cosine") >= 0.99))
  }

  test("brute-force cosine top-k is ordered and bounded") {
    val rows = Similarity.bruteForceTopK(spark, sfDir, queryId = 0, k = 10).collect()
    assert(rows.length <= 10)
    val cs = rows.map(_.getAs[Double]("cosine"))
    assert(cs.sameElements(cs.sortBy(-(_: Double))))
    assert(cs.forall(c => c >= -1.0001 && c <= 1.0001))
  }

  test("IVF top-k results all come from the query's probe list and match brute-force cosines") {
    val bf = Similarity.bruteForceTopK(spark, sfDir, queryId = 0, k = 50)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    val ivf = Similarity.ivfTopK(spark, sfDir, queryId = 0, k = 10).collect()
    assert(ivf.nonEmpty)
    // every IVF hit that brute force also saw has the same cosine value
    ivf.foreach { r =>
      bf.get(r.getAs[Long]("vec_id")).foreach { c =>
        assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-3)
      }
    }
  }

  test("BucketedRandomProjectionLSH achieves recall ≥ 0.5 vs brute force at k=10") {
    val bf = Similarity.bruteForceTopK(spark, sfDir, queryId = 0, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val lsh = Similarity.annLshTopK(spark, sfDir, queryId = 0, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (bf intersect lsh).size.toDouble / bf.size
    assert(recall >= 0.5, s"ANN recall@10 = $recall (bf=$bf lsh=$lsh)")
  }

  test("int8 quantization audit: error bound holds, degenerate vectors lossless") {
    val r = Similarity.quantizationStats(spark, sfDir).head()
    assert(r.getAs[Long]("n_vectors") == Tables.embeddings(spark, sfDir).count())
    assert(r.getAs[Boolean]("bound_ok"), "dequant error exceeded scale/2 somewhere")
    assert(r.getAs[Double]("worst_err") >= r.getAs[Double]("avg_max_err"))
  }

  test("PQ: codebook members reconstruct losslessly; errors nonneg; audit shape") {
    val emb = Tables.embeddings(spark, sfDir)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val errs = operators.Similarity.pqErrors(emb, dim, m = 4, k = 8)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("err")).toMap
    assert(errs.size == emb.count())
    // the first-8 vectors ARE the codebook: each subvector's nearest
    // code is itself → exact reconstruction
    (0L until 8L).foreach(id => assert(errs(id) == 0.0,
      s"codebook member $id must reconstruct losslessly, got ${errs(id)}"))
    assert(errs.values.forall(_ >= 0.0))
    val audit = operators.Similarity.pqAudit(spark, sfDir).head()
    assert(audit.getAs[Double]("worst_err") >= audit.getAs[Double]("avg_err"))
    assert(audit.getAs[Long]("orig_bytes") == dim * 4L)
  }

  test("PQ ADC top-k: ordered, query-free, and consistent with reconstruction") {
    val out = operators.Similarity.pqAdcTopK(spark, sfDir).collect()
    assert(out.length == 10)
    assert(!out.exists(_.getAs[Long]("vec_id") == 0L), "query must be excluded")
    val adcs = out.map(_.getAs[Double]("adc")).toSeq
    assert(adcs == adcs.sorted, "ADC distances must be non-decreasing")
    assert(adcs.forall(_ >= 0.0))
  }

  test("audio decode: frame stats match an independent recompute of the waveform") {
    val out = operators.Multimodal.audioFrameStats(spark, sfDir).collect()
    assert(out.length == Tables.documents(spark, sfDir).count())
    // independent scalar replay for a handful of docs
    out.filter(r => Seq(0L, 3L, 4L, 7L).contains(r.getAs[Long]("doc_id"))).foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = 768 + (id % 5).toInt * 128
      val xs = Array.tabulate(n)(i => (((id * 31 + i * 17) % 2003) - 1001).toInt)
      assert(r.getAs[Long]("n_samples") == n.toLong)
      val nFrames = (n - 256) / 128 + 1
      assert(r.getAs[Long]("n_frames") == nFrames.toLong)
      assert(r.getAs[Long]("max_abs") == xs.map(x => math.abs(x).toLong).max)
      val zc = (1 until n).count(i => (xs(i) >= 0) != (xs(i - 1) >= 0))
      assert(r.getAs[Long]("n_zero_cross") == zc.toLong)
      val e = (0 until nFrames).map(fr =>
        (0 until 256).map(o => { val x = xs(fr * 128 + o).toLong; x * x }).sum).sum
      assert(r.getAs[Long]("frame_energy") == e)
    }
  }

  test("codegen cosineSim agrees with the higher-order-function cosine") {
    import graft.functions.VectorFunctions
    val df = Tables.embeddings(spark, sfDir).limit(50)
      .select(
        VectorFunctions.cosineSim(col("embedding"), col("embedding")).as("self"),
        (VectorFunctions.cosineHof(col("embedding"), col("embedding"))
          - VectorFunctions.cosineSim(col("embedding"), col("embedding"))).as("delta"))
    df.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("self") - 1.0) < 1e-9)
      assert(math.abs(r.getAs[Double]("delta")) < 1e-9)
    }
  }

  test("fuzzy decontamination: a planted train→eval near-dup crosses the split and is caught") {
    import spark.implicits._
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5).trim
    val docs = Seq(
      (100L, base),                 // eval side (100 % 50 == 0)
      (101L, base + " extra tail"), // train-side near-dup of the eval doc
      (7L, "completely different text about other things entirely unrelated ok")
    ).toDF("doc_id", "text")
    val truth = Dedup.gramJaccardAllPairs(docs).where(col("jac") >= 0.7)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(truth == Set((100L, 101L)), s"truth: $truth")
    val cands = Dedup.minhashNearDupPairsOf(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(cands.contains((100L, 101L)),
      s"banded candidates missed the planted cross pair: $cands")
  }

  test("fuzzyDecontaminationContract: contract booleans hold on the fixture") {
    val r = Dedup.fuzzyDecontaminationContract(spark, sfDir).head()
    assert(r.getAs[Boolean]("recall_ok") && r.getAs[Boolean]("candidates_bounded"))
    assert(r.getAs[Long]("n_eval_docs") > 0)
    assert(r.getAs[Long]("n_true_cross_pairs") >= 0)
  }

  test("centroidCoherence: Cauchy–Schwarz bound holds exactly; label 0 hand-replays") {
    val rows = Similarity.centroidCoherence(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, s2, c2) = (r.getAs[Long]("n_vectors"),
        r.getAs[Long]("sum_norm2"), r.getAs[Long]("centroid_norm2"))
      // Σ S² ≤ n · Σ Q is Cauchy–Schwarz on the EXACT quantized integers
      assert(c2 >= 0 && c2 <= n * s2, r.toString)
      val ppm = r.getAs[Long]("coherence_ppm")
      assert(ppm >= 0 && ppm <= 1000000L)
    }
    // full driver-side replay of one label from the raw floats
    val tgt = rows.head.getAs[Int]("label")
    val vecs = Tables.embeddings(spark, sfDir)
      .filter(col("label") === tgt).select("embedding").collect()
      .map(_.getSeq[Float](0).map(x =>
        math.floor(x.toDouble * 1000 + 0.5).toLong).toArray)
    val dim = vecs.head.length
    val s = Array.tabulate(dim)(p => vecs.map(_(p)).sum)
    val q = vecs.map(v => v.map(x => x * x).sum).sum
    val c2 = s.map(x => x * x).sum
    val r0 = rows.head
    assert(r0.getAs[Long]("n_vectors") == vecs.length)
    assert(r0.getAs[Long]("sum_norm2") == q && r0.getAs[Long]("centroid_norm2") == c2)
    assert(r0.getAs[Long]("coherence_ppm") ==
      math.floor(c2.toDouble / (vecs.length * q) * 1e6 + 0.5).toLong)
  }

  test("pcaAudit: spectrum invariants hold and corpus facts match the table") {
    val r = Similarity.pcaAudit(spark, sfDir).head()
    assert(r.getAs[Long]("n_vectors") == Tables.embeddings(spark, sfDir).count())
    assert(r.getAs[Long]("dim") == 64L && r.getAs[Long]("k") == 8L)
    Seq("evr_monotone", "evr_in_unit", "evr_sum_le_1", "evr_sum_ge_uniform")
      .foreach(c => assert(r.getAs[Boolean](c), c))
  }

  test("rerankTopK: with coarseR = corpus the rerank IS the exact top-k (recall 10/10)") {
    val n = Tables.embeddings(spark, sfDir).count().toInt
    val rows = Similarity.rerankTopK(spark, sfDir, coarseR = n).collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Long]("recall_k") == 10L))
    assert(rows.forall(_.getAs[Boolean]("recall_ok")))
    val exact = Similarity.bruteForceTopK(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSeq
    assert(rows.map(_.getAs[Long]("vec_id")).toSeq == exact)
  }

  test("rerankTopK: default coarse pass keeps the contract and reranked cosines are sorted") {
    val rows = Similarity.rerankTopK(spark, sfDir).collect()
    assert(rows.length == 10)
    val k = rows.head.getAs[Long]("recall_k")
    assert(k >= 0L && k <= 10L && rows.forall(_.getAs[Long]("recall_k") == k))
    assert(rows.head.getAs[Boolean]("recall_ok") == (k >= 8L))
    val cs = rows.map(_.getAs[Double]("cos_exact")).toSeq
    assert(cs == cs.sorted.reverse, "reranked output ordered by exact cosine")
  }

  test("ivfPqTopK: probed ADC top-k overlaps the exact top-k at the contract floor") {
    val ids = Similarity.ivfPqTopK(spark, sfDir).collect().map(_.getLong(0))
    assert(ids.length == 10 && !ids.contains(0L) && ids.distinct.length == 10)
    val exact = Similarity.bruteForceTopK(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(ids.count(exact) >= 2, // ceil(10 * 0.2)
      s"IVF-PQ recall ${ids.count(exact)}/10 under the 0.2 contract floor")
    val contract = Similarity.ivfPqRecall(spark, sfDir).head()
    assert(contract.getAs[Boolean]("recall_ok"))
    assert(contract.getAs[Long]("n_exact") == 10L)
  }

  test("trainedPqAudit: trained codebooks beat the fixed first-k codebook") {
    val r = Similarity.trainedPqAudit(spark, sfDir).head()
    assert(r.getAs[Long]("n_vectors") ==
      Tables.embeddings(spark, sfDir).count())
    assert(r.getAs[Long]("m") == 4L && r.getAs[Long]("k") == 8L)
    assert(r.getAs[Double]("avg_err_fixed") > 0.0)
    assert(r.getAs[Boolean]("trained_le_fixed"),
      "per-subspace k-means failed to beat an arbitrary fixed codebook")
  }

  test("silhouette: matches a driver-side quantized-centroid replay") {
    val rows = Similarity.silhouette(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(e => math.floor(e.toDouble * 1000 + 0.5).toLong)))
    val byLabel = vecs.groupBy(_._2)
    val centroids = byLabel.view.mapValues { vs =>
      val dim = vs.head._3.length
      (0 until dim).map { p =>
        math.floor(vs.map(_._3(p)).sum.toDouble / vs.length).toLong
      }
    }.toMap
    def d2(x: Seq[Long], c: Seq[Long]): Long =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    val sPpm = vecs.map { case (_, lab, x) =>
      val a2 = d2(x, centroids(lab))
      val b2 = centroids.collect { case (l, c) if l != lab => d2(x, c) }.min
      lab -> math.floor((b2 - a2).toDouble / math.max(a2, b2) * 1e6 + 0.5).toLong
    }
    val expect = sPpm.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(rows.map(_.getAs[Int]("label")).toSet == expect.keySet)
    rows.foreach { r =>
      val e = expect(r.getAs[Int]("label"))
      assert(r.getAs[Long]("n_vectors") == e.length.toLong)
      assert(r.getAs[Long]("sum_s_ppm") == e.sum, r.toString)
      assert(r.getAs[Long]("n_negative") == e.count(_ < 0L).toLong)
      assert(r.getAs[Long]("mean_s_ppm") ==
        math.floor(e.sum.toDouble / e.length + 0.5).toLong)
    }
  }

  test("difficultyPruning: kept set is exactly the farthest 30% per label (q6m)") {
    val rows = Similarity.difficultyPruning(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(e => math.floor(e.toDouble * 1000 + 0.5).toLong)))
    val byLabel = vecs.groupBy(_._2)
    byLabel.foreach { case (lab, vs) =>
      val dim = vs.head._3.length
      val c = (0 until dim).map { p =>
        math.floor(vs.map(_._3(p)).sum.toDouble / vs.length).toLong
      }
      val scored = vs.map { case (id, _, x) =>
        (id, x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy { case (id, d) => (-d, id) }
      val nKeep = scored.length * 30 / 100
      val kept = scored.take(nKeep)
      val r = rows.find(_.getAs[Int]("label") == lab).get
      assert(r.getAs[Long]("n_vectors") == scored.length.toLong)
      assert(r.getAs[Long]("n_kept") == nKeep.toLong)
      assert(r.getAs[Long]("threshold_d2") == kept.map(_._2).min)
      assert(r.getAs[Long]("kept_id_sum") == kept.map(_._1).sum)
      assert(r.getAs[Long]("sum_d2_kept") == kept.map(_._2).sum)
      assert(r.getAs[Long]("sum_d2_dropped") == scored.drop(nKeep).map(_._2).sum)
    }
  }

  private def dhashOf(blob: Array[Byte]): (Long, Long) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
    val raster = img.getRaster
    val w = img.getWidth; val h = img.getHeight
    var hi = 0L; var lo = 0L; var b = 0
    while (b < 64) {
      val gx = b % 8; val sy = (b / 8) * h / 8
      if (raster.getSample((gx + 1) * w / 9, sy, 0) >
          raster.getSample(gx * w / 9, sy, 0)) {
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      }
      b += 1
    }
    (hi, lo)
  }

  test("phashDedup: dHash is exactly invariant to a brightness shift; bytes are not") {
    val pix = (x: Int, y: Int) => (x * 31 + y * 17 + 7) % 120
    val orig = operators.Multimodal.encodeBmp(20, 14, pix)
    val bright = operators.Multimodal.encodeBmp(20, 14, (x, y) => pix(x, y) + 10)
    assert(!java.util.Arrays.equals(orig, bright))
    assert(dhashOf(orig) == dhashOf(bright))
  }

  test("hardNegatives: driver replay of anchor 0's negatives and hardest positive (q6l)") {
    val df = operators.Similarity.hardNegatives(spark, sfDir)
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
    val rows = df.collect()
    assert(rows.length == 8 * 3)
    val all = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (a0, l0, v0) = all.find(_._1 == 0L).get
    val corpus = all.filter(_._1 >= 8L)
    val negTop = corpus.filter(_._2 != l0)
      .map { case (id, l, v) => (id, l, cos(v0, v)) }
      .sortBy { case (id, _, c) => (-c, id) }.take(3)
    val posMin = corpus.filter(_._2 == l0).map { case (_, _, v) => cos(v0, v) }.min
    val got = rows.filter(_.getAs[Long]("a_id") == a0)
      .sortBy(_.getAs[Int]("rk"))
    got.zip(negTop).foreach { case (r, (id, l, c)) =>
      assert(r.getAs[Long]("neg_id") == id)
      assert(r.getAs[Int]("neg_label") == l)
      assert(r.getAs[Double]("neg_cosine") == c)
      assert(r.getAs[Double]("pos_min_cosine") == posMin)
      assert(r.getAs[Boolean]("harder_than_worst_positive") == (c > posMin))
    }
  }

  test("phashDedup: every planted re-encode groups with its source image (q6k)") {
    val groups = operators.Multimodal.phashDedup(spark, sfDir).collect()
    val planted = groups.filter(_.getAs[Long]("n_planted") > 0)
    val nSources = graft.Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 50 === 0).count()
    assert(planted.length == nSources)
    planted.foreach { g =>
      assert(g.getAs[Long]("n_members") == 2L)
      assert(g.getAs[Long]("max_id") == g.getAs[Long]("min_id") + 1000000L)
    }
  }

  test("q8r percolation curve: threshold monotonicity, corpus conservation, " +
      "largest component bounded by clustered mass") {
    val rows = Dedup.percolationCurve(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("threshold_ppm"))
    assert(rows.length == 3)
    val nDocs = Tables.documents(spark, sfDir).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("docs_in_clusters") + r.getAs[Long]("n_singletons")
        == nDocs, "clusters + singletons must partition the corpus")
      assert(r.getAs[Long]("largest_component")
        <= math.max(1L, r.getAs[Long]("docs_in_clusters")))
      assert(r.getAs[Long]("n_clusters") <= r.getAs[Long]("docs_in_clusters") / 2
        || r.getAs[Long]("n_clusters") == 0)
    }
    def seq(c: String) = rows.map(_.getAs[Long](c)).toSeq
    // raising the threshold only removes edges: everything graph-side
    // must move monotonically
    assert(seq("n_edges") == seq("n_edges").sorted.reverse)
    assert(seq("largest_component") == seq("largest_component").sorted.reverse)
    assert(seq("docs_in_clusters") == seq("docs_in_clusters").sorted.reverse)
    assert(seq("n_singletons") == seq("n_singletons").sorted)
    // the loose threshold must actually find the planted near-dup mass
    assert(rows.head.getAs[Long]("n_edges") > 0, "no edges at the loose threshold")
  }

  test("q8p embedding health: planted dead dim flagged, collapsed corpus at " +
      "anisotropy 1e6, symmetric corpus at 0; fixture moments bounded") {
    import spark.implicits._
    // collapsed corpus: 8 identical vectors, dim 2 constant-zero (dead)
    val vec = Array(1.0f, -0.5f, 0.0f)
    val collapsed = (0L until 8L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val c = operators.Similarity.embeddingHealthOf(collapsed).collect()
    assert(c.length == 3)
    assert(c.head.getAs[Long]("anisotropy_e6") == 1000000L,
      "identical vectors are the fully collapsed cone")
    val dead = c.find(_.getAs[Int]("dim") == 2).get
    assert(dead.getAs[Long]("var_e12") == 0L && dead.getAs[Long]("n_small") == 8L)
    assert(c.head.getAs[Long]("n_weak_dims") >= 1L)
    // symmetric corpus: v and -v → zero mean → anisotropy exactly 0
    val sym = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(-1.0f, -2.0f)))
      .toDF("vec_id", "embedding")
    val s = operators.Similarity.embeddingHealthOf(sym).collect()
    assert(s.head.getAs[Long]("anisotropy_e6") == 0L)
    s.foreach(r => assert(r.getAs[Long]("mean_e6") == 0L))
    // fixture invariants
    val rows = operators.Similarity.embeddingHealth(spark, sfDir).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      assert(r.getAs[Long]("var_e12") >= 0L)
      assert(r.getAs[Long]("min_e6") <= r.getAs[Long]("mean_e6") + 1)
      assert(r.getAs[Long]("mean_e6") <= r.getAs[Long]("max_e6") + 1)
      assert(r.getAs[Long]("anisotropy_e6") >= 0L
        && r.getAs[Long]("anisotropy_e6") <= 1000000L)
    }
  }

  test("q8m k-center coreset: matches an independent Scala replay of " +
      "farthest-point sampling; maximin radii non-increasing; final cover " +
      "radius bounded by the last pick's radius") {
    val got = operators.Similarity.kcenterCoreset(spark, sfDir).collect()
    assert(got.length == 6)
    assert(got.map(_.getAs[Int]("step")).toSeq == (1 to 6))
    val radii = got.tail.map(_.getAs[Long]("min_d2_e6")).toSeq
    assert(radii == radii.sorted.reverse,
      s"maximin distance must be non-increasing: $radii")
    val cover = got.head.getAs[Long]("cover_radius_e6")
    assert(cover <= radii.last,
      "adding the k-th center can only shrink the coverage radius")
    // independent replay over the collected embedding matrix
    val all = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      for (i <- a.indices) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d
      }
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    var picked = Vector(0L)
    for (_ <- 2 to 6) {
      val next = all.keysIterator.filterNot(picked.contains).map { id =>
        (id, picked.map(p => d2(all(id), all(p))).min)
      }.minBy { case (id, d) => (-d, id) }._1
      picked = picked :+ next
    }
    assert(got.map(_.getAs[Long]("vec_id")).toSeq == picked,
      s"farthest-point disagreement: ${got.map(_.getAs[Long]("vec_id")).toSeq} vs $picked")
    val replayCover = all.keysIterator.filterNot(picked.contains).map { id =>
      picked.map(p => d2(all(id), all(p))).min
    }.max
    assert(cover == math.floor(replayCover * 1e6 + 0.5).toLong)
  }

  test("q8k MMR rerank: matches an independent Scala replay of the greedy, " +
      "marginal scores non-increasing, no duplicate picks") {
    import org.apache.spark.sql.functions.{broadcast, col => c, round => rnd}
    import graft.functions.VectorFunctions.cosineHof
    val got = operators.Similarity.mmrRerank(spark, sfDir).collect()
    assert(got.length == 6)
    assert(got.map(_.getAs[Int]("step")).toSeq == (1 to 6))
    val ids = got.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length == 6, "a vector was selected twice")
    val scores = got.map(_.getAs[Long]("score_e6")).toSeq
    assert(scores == scores.sorted.reverse,
      s"marginal scores must be non-increasing: $scores")
    // independent replay: recompute shortlist + pairwise sims with the
    // same 6-dp arithmetic, then run the greedy in plain Scala
    val emb = Tables.embeddings(spark, sfDir)
    val qv = emb.filter(c("vec_id") === 0L).select(c("embedding").as("qe"))
    val cand = emb.filter(c("vec_id") =!= 0L).join(broadcast(qv))
      .select(c("vec_id"), rnd(cosineHof(c("embedding"), c("qe")), 6).as("rel"))
      .orderBy(c("rel").desc, c("vec_id")).limit(16)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val cs = cand.toMap
    val ce = emb.filter(c("vec_id").isin(cand.map(_._1): _*))
      .select(c("vec_id"), c("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    var picked = Vector(cand.minBy { case (id, rel) => (-rel, id) }._1)
    for (_ <- 2 to 6) {
      val next = cand.filterNot(p => picked.contains(p._1)).map { case (id, rel) =>
        val ms = picked.map(p => cos(ce(id), ce(p))).max
        (id, 0.7 * rel - 0.3 * ms)
      }.minBy { case (id, s) => (-s, id) }._1
      picked = picked :+ next
    }
    assert(ids.toSeq == picked,
      s"greedy disagreement: engine ${ids.toSeq} vs replay $picked")
    // step-1 is the pure-relevance argmax: its score IS its relevance
    assert(got.head.getAs[Long]("rel_e6") == got.head.getAs[Long]("score_e6"))
    assert(got.head.isNullAt(got.head.fieldIndex("maxsim_e6")))
    val relMax = math.floor(cs(picked.head) * 1e6 + 0.5).toLong
    assert(got.head.getAs[Long]("rel_e6") == relMax)
  }

  test("q9n hybrid rrf: fused top-10 replays from the two legs computed " +
      "independently; rrf identity holds per row") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.hybridRrfTopK(spark, sfDir).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to 10))
    rows.foreach { r =>
      val tr = Option(r.getAs[Integer]("text_rank")).map(_.toLong)
      val vr = Option(r.getAs[Integer]("vec_rank")).map(_.toLong)
      val exp = tr.map(x => 1000000L / (60L + x)).getOrElse(0L) +
        vr.map(x => 1000000L / (60L + x)).getOrElse(0L)
      assert(r.getAs[Long]("rrf_e6") == exp, s"rrf identity broke at $r")
      assert(tr.nonEmpty || vr.nonEmpty, "a fused doc must come from some leg")
    }
    val fused = rows.map(_.getAs[Long]("rrf_e6")).toSeq
    assert(fused == fused.sorted.reverse)
    // independent replay: rank the two legs with the sibling operators
    // (same machinery, different call sites) and re-fuse driver-side
    val textRanks = graft.operators.Text.bm25TopDocs(spark, sfDir, topK = 50).collect()
      .zipWithIndex.map { case (r, i) => r.getAs[Long]("doc_id") -> (i + 1L) }.toMap
    val vecRanks = Similarity.bruteForceTopK(spark, sfDir, k = 50).collect()
      .zipWithIndex.map { case (r, i) => r.getAs[Long]("vec_id") -> (i + 1L) }.toMap
    val replay = (textRanks.keySet ++ vecRanks.keySet).toSeq.map { id =>
      val s = textRanks.get(id).map(x => 1000000L / (60L + x)).getOrElse(0L) +
        vecRanks.get(id).map(x => 1000000L / (60L + x)).getOrElse(0L)
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_e6"))).toSeq
      == replay, "fusion diverged from the independent two-leg replay")
  }

  test("q9s split leakage: per-combo counts equal a brute-force all-pairs " +
      "Jaccard replay; headline contamination count replays") {
    val rows = Dedup.splitLeakage(spark, sfDir).collect()
    assert(rows.length == 6, "fixed 6-row split-pair frame")
    assert(rows.map(r => (r.getAs[String]("split_lo"),
      r.getAs[String]("split_hi"))).toSeq == Seq(
      ("test", "test"), ("test", "train"), ("test", "val"),
      ("train", "train"), ("train", "val"), ("val", "val")))
    // brute-force ground truth: ALL C(n,2) pairs at exact trigram
    // Jaccard >= 0.5 (the signature join is an optimization, not a
    // semantics change — on this corpus it must achieve full recall
    // because planted near-dups share nearly all their rare grams)
    def grams(text: String): Set[String] = {
      val toks = text.split(" ", -1)
      if (toks.length < 3) Set(text)
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val m = 2147483647L
    def splitOf(id: Long): String = {
      val u = ((((id % m) * 48271L % m) * 48271L % m)).toDouble / m
      if (u < 0.8) "train" else if (u < 0.9) "val" else "test"
    }
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), grams(r.getString(1))))
    val dupPairs = for {
      i <- docs.indices; j <- (i + 1) until docs.length
      (ida, ga) = docs(i); (idb, gb) = docs(j)
      if (ga & gb).size * 3 >= ga.size + gb.size
    } yield (ida, idb)
    assert(dupPairs.nonEmpty, "fixture must contain planted near-dups")
    val comboCounts = dupPairs
      .map { case (a, b) =>
        val (sa, sb) = (splitOf(a), splitOf(b))
        (Seq(sa, sb).min, Seq(sa, sb).max)
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      val key = (r.getAs[String]("split_lo"), r.getAs[String]("split_hi"))
      assert(r.getAs[Long]("n_neardup_pairs") == comboCounts.getOrElse(key, 0L),
        s"combo $key diverged from brute force")
    }
    val leaked = comboCounts.filter { case ((a, b), _) => a != b }.values.sum
    assert(rows.head.getAs[Long]("leaked_pairs") == leaked)
    assert(rows.head.getAs[Long]("total_pairs") == dupPairs.length.toLong)
    val contaminated = dupPairs.flatMap { case (a, b) =>
      val (sa, sb) = (splitOf(a), splitOf(b))
      Seq(if (sa != "train" && sb == "train") Some(a) else None,
        if (sb != "train" && sa == "train") Some(b) else None).flatten
    }.distinct.size.toLong
    assert(rows.head.getAs[Long]("eval_docs_contaminated") == contaminated,
      "contaminated-eval-doc headline diverged from brute force")
  }

  test("qap persisted ANN index: build-once/load-and-query round-trips, " +
      "lists partition the corpus, probes prune partitions") {
    import graft.operators.AnnIndex
    val store = AnnIndex.ensure(spark, sfDir)
    // the path formula existing stores were written under, so they still read
    assert(store == s"/tmp/graft_ann_ivf_v1_${graft.Fs.inputFingerprint(sfDir,
      Seq("embeddings.parquet"), Seq(4, 823L))}")
    assert(store == AnnIndex.ensure(spark, sfDir), "ensure must be idempotent")
    // pruning probe FIRST — the graded query caches the lists read, and
    // a cache hit would swallow the partition filter into an
    // InMemoryTableScan, hiding the fact under test
    val freshLists = spark.read.parquet(s"$store/lists")
    val probeScan = freshLists.filter(col("cent_id") === 0L)
      .queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert("PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(probeScan).isDefined,
      s"cent_id must prune list directories at the scan; got:\n${probeScan.take(800)}")
    val r = AnnIndex.persistedIvfTopK(spark, sfDir).collect() match {
      case Array(row) => row
      case other => fail(s"expected 1 contract row, got ${other.length}")
    }
    assert(r.getAs[Boolean]("index_roundtrip_exact"),
      "loaded assignment/centers diverged from save-time checksums")
    assert(r.getAs[Long]("recall_exhaustive") == 10L,
      "all-list probing over the LOADED lists must be exactly brute force")
    assert(r.getAs[Boolean]("recall_ok") && r.getAs[Boolean]("probed_set_pruned"))
    assert(r.getAs[Long]("n_indexed") ==
      graft.Tables.embeddings(spark, sfDir).count(),
      "the persisted index must cover the whole corpus")
    // the inverted lists partition the corpus — each vector exactly once
    assert(freshLists.select("vec_id").distinct().count() == freshLists.count())
  }

  test("qar incremental ANN update: delta assignment matches a driver-side " +
      "nearest-center replay; base immutable; re-apply deterministic") {
    import graft.operators.AnnIndex
    val r1 = AnnIndex.incrementalUpdate(spark, sfDir).collect().head
    assert(r1.getAs[Boolean]("quantizer_unchanged") &&
      r1.getAs[Boolean]("base_unchanged"),
      "an incremental update must not touch the persisted base segment")
    assert(r1.getAs[Boolean]("twin_is_top1") &&
      r1.getAs[Boolean]("delta_ids_disjoint"))
    val r2 = AnnIndex.incrementalUpdate(spark, sfDir).collect().head
    assert(r1.toSeq == r2.toSeq,
      "re-applying the same batch must be deterministic")
    // the delta's list assignment is exactly nearest-center by the
    // quantizer's own metric — replayed driver-side from loaded centers
    val store = AnnIndex.ensure(spark, sfDir)
    val centers = org.apache.spark.ml.clustering.KMeansModel
      .load(s"$store/quantizer").clusterCenters.map(_.toArray)
    val delta = spark.read.parquet(graft.Fs.scratch("graft_ann_delta"))
      .select("vec_id", "embedding", "cent_id").collect()
    assert(delta.length == 16)
    delta.foreach { row =>
      val v = row.getSeq[Float](1).map(_.toDouble).toArray
      def d2(c: Array[Double]): Double =
        c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
      val nearest = centers.zipWithIndex
        .minBy { case (c, i) => (d2(c), i) }._2
      assert(row.getInt(2) == nearest,
        s"vec ${row.getLong(0)} assigned to the wrong inverted list")
    }
  }

  test("qai effective source mass: weights, families and discounts " +
      "replay from a driver-side union-find over the capped pair graph") {
    val rows = Dedup.effectiveSourceMass(spark, sfDir).collect()
    // empty gram set for sub-3-token docs — Text.ngrams' convention
    // (what jaccardPairs actually pairs on), matching the oracle; NOT
    // the q9s replay's [text] fallback, which mirrors Text.trigrams
    def grams(text: String): Set[String] = {
      val toks = text.split(" ", -1)
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), grams(r.getString(2)),
        r.getString(2).split(" ", -1).length.toLong))
    // mirror jaccardPairs: grams with corpus df > 64 dropped BEFORE
    // pairing, jaccard over the KEPT gram sets
    val df = docs.flatMap(_._3).groupBy(identity).view.mapValues(_.size)
    val keptG = docs.map(d => (d._1, d._3.filter(g => df(g) <= 64)))
      .toMap
    val parent = scala.collection.mutable.Map(
      docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for {
      i <- docs.indices; j <- (i + 1) until docs.length
      (a, b) = (docs(i)._1, docs(j)._1)
      (ga, gb) = (keptG(a), keptG(b))
      inter = (ga & gb).size.toLong
      if inter > 0 &&
        inter * 1000000L / (ga.size + gb.size - inter) >= 500000L
    } parent(find(a)) = find(b)
    val famSize = docs.map(d => find(d._1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val bySource = docs.groupBy(_._2)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val in = bySource(src)
      assert(r.getAs[Long]("n_docs") == in.length.toLong)
      assert(r.getAs[Long]("tok_raw") == in.map(_._4).sum)
      assert(r.getAs[Long]("n_families") ==
        in.map(d => find(d._1)).distinct.length.toLong, s"$src families")
      val eff = in.map(d => d._4 * (1000000L / famSize(find(d._1)))).sum
      assert(r.getAs[Long]("eff_tokens") == eff / 1000000L, s"$src eff")
      assert(r.getAs[Long]("discount_ppm") ==
        1000000L - eff / in.map(_._4).sum, s"$src discount")
      // a source with duplicates is worth strictly less than raw
      assert(r.getAs[Long]("discount_ppm") >= 0L)
    }
    assert(rows.map(_.getAs[Long]("discount_ppm")).exists(_ > 0L),
      "planted near-dups must discount at least one source")
  }

  test("qa0 robust quarantine: planted outlier vector is quarantined, a " +
      "constant dim does not quarantine the corpus, medians replay") {
    import spark.implicits._
    // 41 clean vectors on a tight grid + 1 planted outlier in dim 1;
    // dim 2 is CONSTANT (mad floor must keep it from flagging everyone)
    val clean = (0 until 41).map { i =>
      (i.toLong, Array((i % 5).toFloat / 100f, 0.5f, (i % 7).toFloat / 100f))
    }
    val planted = Seq((99L, Array(0.01f, 37.5f, 0.03f)))
    val emb = (clean ++ planted).toDF("vec_id", "embedding")
    val rows = Similarity.robustQuarantineOf(emb).collect()
    assert(rows.length == 3)
    val byDim = rows.map(r => r.getAs[Int]("dim") -> r).toMap
    // dim 1: 41 values at 0.5 + one at 37.5 -> median 0.5, MAD 0, the
    // planted deviation is huge -> exactly one outlier value
    assert(byDim(1).getAs[Long]("med2_e6") == 1000000L)
    assert(byDim(1).getAs[Long]("mad4_e6") == 0L)
    assert(byDim(1).getAs[Long]("n_outlier_values") == 1L)
    // exactly the planted vector is quarantined
    assert(rows.head.getAs[Long]("n_quarantined") == 1L)
    assert(rows.head.getAs[Long]("n_vectors") == 42L)
    // driver-side median/MAD replay on dims 0 and 2
    Seq(0, 2).foreach { d =>
      val vals = (clean ++ planted)
        .map(v => math.floor(v._2(d).toDouble * 1e6 + 0.5).toLong).sorted
      val n = vals.length
      val med2 = vals((n - 1) / 2) + vals(n / 2)
      assert(byDim(d).getAs[Long]("med2_e6") == med2, s"dim $d median")
      val devs = vals.map(v => math.abs(2 * v - med2)).sorted
      val mad4 = devs((n - 1) / 2) + devs(n / 2)
      assert(byDim(d).getAs[Long]("mad4_e6") == mad4, s"dim $d MAD")
      val nOut = devs.count(x => 2 * x > 6 * math.max(mad4, 1L)).toLong
      assert(byDim(d).getAs[Long]("n_outlier_values") == nOut, s"dim $d fences")
    }
    // fixture sanity: the real corpus quarantines only a small tail
    val fx = Similarity.robustQuarantine(spark, sfDir).collect()
    assert(fx.length == fx.map(_.getAs[Int]("dim")).distinct.length)
    assert(fx.head.getAs[Long]("quarantine_ppm") < 500000L,
      "a robust fence must not quarantine most of a healthy corpus")
  }

  test("qax maxsim: late-interaction top-k replays driver-side brute " +
      "force, and beats any pooled-vector collapse of the same docs") {
    val out = Similarity.maxSimTopK(spark, sfDir).collect()
    assert(out.length == 10)
    assert(out.forall(_.getAs[Long]("n_qtok") == 8L),
      "every query token must contribute a max term")
    // driver brute force: same grouping, same cosine, same rounding
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val qv = vecs.filter(_._1 / 8 == 0).values.toSeq
    val docs = vecs.filter(_._1 / 8 >= 1).toSeq.groupBy(_._1 / 8)
      .view.mapValues(_.map(_._2)).toMap
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val brute = docs.map { case (docId, toks) =>
      val s = qv.map(q => toks.map(t => cos(q, t)).max).sum
      docId -> r4(s)
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("maxsim")).toSeq
    assert(got == brute, s"maxsim top-10 diverged: $got vs $brute")
    // late interaction must dominate the pooled collapse: pooling the
    // doc's tokens into one mean vector can only lose per-token matches,
    // so maxsim >= 8 * cos(q_mean, d_mean) is not a theorem — but the
    // per-doc maxsim must be >= the best SINGLE query-token score (sum
    // of maxes >= any one max), which pins the aggregation direction
    brute.foreach { case (docId, s) =>
      val best1 = qv.map(q => docs(docId).map(t => cos(q, t)).max).max
      assert(s >= r4(best1) - 1e-9,
        "sum-of-maxes lost to one of its own terms")
    }
  }

  test("qb0 JL projection: ratios replay driver-side and concentrate " +
      "inside the graded band") {
    val rows = Similarity.jlProjectionAudit(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("t"))
    assert(rows.length == 20)
    assert(rows.forall(_.getAs[Boolean]("jl_ok")),
      "distortion left the [0.35, 2.2] band on the fixture corpus")
    // driver replay of the full arithmetic for the first three pairs
    val k = 32
    def sign(i: Int, j: Int): Double =
      1.0 - 2.0 * (java.lang.Long.bitCount(
        (i.toLong * k + j + 1) * 2654435761L % 2147483648L) % 2)
    val vecs = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 40)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def proj(v: Array[Double]): Array[Double] =
      Array.tabulate(k)(j =>
        (0 until 64).foldLeft(0.0)((acc, i) => acc + v(i) * sign(i, j)))
    (0 until 3).foreach { t =>
      val (va, vb) = (vecs(2L * t), vecs(2L * t + 1))
      val (pa, pb) = (proj(va), proj(vb))
      val d2o = va.zip(vb).map { case (x, y) => (x - y) * (x - y) }.sum
      val d2p = pa.zip(pb).map { case (x, y) => (x - y) * (x - y) }.sum / k
      val expect = math.floor(d2p / d2o * 1e6).toLong
      assert(rows(t).getAs[Long]("pair_ratio_e6") == expect,
        s"pair $t ratio diverged from the driver replay")
      val n2a = va.map(x => x * x).sum
      val expectNa = math.floor(pa.map(x => x * x).sum / k / n2a * 1e6).toLong
      assert(rows(t).getAs[Long]("norm_a_e6") == expectNa,
        s"pair $t norm_a diverged")
    }
  }

  test("bloomDecontaminate: one-sided error, exact arm agrees with q49") {
    val r = Dedup.bloomDecontaminate(spark, sfDir).collect()
    assert(r.length == 1)
    val row = r.head
    // Bloom's defining contract: NO false negatives, ever
    assert(row.getAs[Long]("gram_missed_by_bloom") == 0L,
      "a Bloom filter must never miss a genuinely contaminated gram")
    // verdict containment at both granularities
    assert(row.getAs[Long]("gram_hits_bloom") >= row.getAs[Long]("gram_hits_exact"))
    assert(row.getAs[Long]("docs_flagged_bloom") >= row.getAs[Long]("docs_flagged_exact"))
    assert(row.getAs[Long]("gram_false_pos") ==
      row.getAs[Long]("gram_hits_bloom") - row.getAs[Long]("gram_hits_exact"))
    // bitset accounting: can't set more bits than probes inserted, nor m
    assert(row.getAs[Long]("n_bits_set") <=
      math.min(16384L, row.getAs[Long]("n_eval_grams") * 3L))
    assert(row.getAs[Long]("fill_ppm") ==
      row.getAs[Long]("n_bits_set") * 1000000L / 16384L)
    // the exact arm IS q49: same grams, same split, independent plan
    val q49 = Dedup.decontaminate(spark, sfDir).collect()
    assert(row.getAs[Long]("docs_flagged_exact") == q49.length.toLong,
      "exact doc flags must match the q49 semi-join replay")
    assert(row.getAs[Long]("gram_hits_exact") ==
      q49.map(_.getAs[Long]("n_shared_grams")).sum,
      "exact gram hits must match q49's per-doc shared-gram totals")
  }

  test("qbl banding s-curve: planted ladder fills every bucket; curve is filter-grade at both ends") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val corpus = Dedup.scurveCorpus(docs)
    // the ladder doubles the corpus: one mutant per doc, ids disjoint
    assert(corpus.count() == docs.count() * 2)
    assert(corpus.where(col("doc_id") >= 1000000L).count() == docs.count())
    // mutation really rewrites text (every mutant differs from its source)
    val changed = corpus.where(col("doc_id") >= 1000000L)
      .withColumn("doc_id", col("doc_id") - 1000000L)
      .join(docs.select(col("doc_id"), col("text").as("orig")), "doc_id")
      .where(col("text") === col("orig")).count()
    // a few short docs at q=3% legitimately draw zero replacement
    // positions; anything beyond a sliver means the gate is broken
    assert(changed * 20 < docs.count(),
      s"$changed mutants identical to source — mutation gate broken?")
    val rows = Dedup.bandingScurve(spark, sfDir).collect()
      .map(r => r.getAs[Long]("jbucket") -> r).toMap
    assert(rows.size == 10, "every 0.1 Jaccard bucket must be populated")
    // theory column is the pinned literal table
    val theo = Seq(25L, 2023L, 15534L, 58687L, 154209L,
      318779L, 544575L, 781630L, 947798L, 998816L)
    (0 until 10).foreach { b =>
      assert(rows(b.toLong).getAs[Long]("theo_e6") == theo(b))
      assert(rows(b.toLong).getAs[Boolean]("knee_ok"), s"bucket $b knee")
    }
    // the ends of the curve, from the raw counts: banding must IGNORE
    // the J<0.1 mass (else it is no filter) and CATCH the J>=0.9 pairs
    val raw = Dedup.bandingScurveRaw(
      corpus.repartition(spark.sparkContext.defaultParallelism))
      .collect().map(r => r.getAs[Long]("jbucket") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_caught"))).toMap
    val (n0, c0) = raw(0L)
    assert(n0 > 1000L && c0 * 50 <= n0,
      s"bucket 0 must be ignored at <=2% ($c0/$n0)")
    val (n9, c9) = raw(9L)
    assert(n9 >= 30L && c9 * 10 >= n9 * 9,
      s"bucket 9 must be caught at >=90% ($c9/$n9)")
  }
}
