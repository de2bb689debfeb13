package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over DataFrames — the join-iteration form (no GraphX
  * dependency; GraphX is RDD-based and in maintenance mode, and the
  * DataFrame form keeps Catalyst + AQE in the loop).
  *
  * Scale design: one PageRank iteration is one shuffle join
  * (ranks ⋈ edges on src) plus one aggregate on dst — the standard
  * distributed formulation. The edge table is cached WITH its out-degree
  * already attached (computed once); every iteration reuses it, and at
  * 100 TB both sides would be pre-bucketed on the join key so the
  * per-iteration shuffle moves only the rank vector, never the edges.
  * Iteration count is fixed and small here (the graded query unrolls 3,
  * which the oracle replays as 3 CTE stages); a convergence-driven run
  * would add the [[Dedup.duplicateComponents]] loop machinery
  * (localCheckpoint lineage truncation + fixpoint probe).
  */
object Graph {

  /** Generic damped PageRank, `iterations` rounds from a uniform start.
    * `nodes` must have column `id`, `edges` columns `src`/`dst`, and
    * every node needs ≥1 out-edge (the fixture graph guarantees it;
    * dangling-mass redistribution is a one-extra-aggregate variant).
    * The driver-side `count()` is a bounded scalar probe (the rank
    * floor needs |V|). */
  def pageRank(nodes: DataFrame, edges: DataFrame,
      iterations: Int = 3, damping: Double = 0.85,
      knownN: Option[Long] = None): DataFrame = {
    val n = knownN.getOrElse(nodes.count())
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("out_deg"))
    // cached once with out-degree attached: consumed by every iteration
    val e = edges.join(outDeg, "src").cache()
    val ids = nodes.select(col("id"))
    var ranks = ids.select(col("id"), lit(1.0 / n).as("pr"))
    for (_ <- 1 to iterations) {
      val contribs = e.join(ranks, col("src") === col("id"))
        .select(col("dst"), (col("pr") / col("out_deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("in_mass"))
      // (1 − d) computed HERE, not pre-folded: both engines then derive
      // the rank floor by the same IEEE ops (1 − 0.85 ≠ literal 0.15 in
      // binary, and the oracle replays the subtraction)
      ranks = ids
        .join(contribs, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit((1.0 - damping)) / n + lit(damping) * coalesce(col("in_mass"), lit(0.0)))
            .as("pr"))
    }
    ranks
  }

  /** The deterministic 3-out-edge affine link graph shared by
    * q5b/q5f/q5g — ONE definition so the three operators and their
    * arithmetic-replaying oracles can never drift apart. `srcDocs` is
    * the (possibly filtered — q5f drops every 10th node to plant
    * dangling mass) source side; `n` the FULL node count. */
  private def affineLinkEdges(srcDocs: DataFrame, n: Long): DataFrame =
    srcDocs.select(col("doc_id").as("src"),
      explode(array(
        pmod(col("doc_id") * 31 + 7, lit(n)),
        pmod(col("doc_id") * 17 + 3, lit(n)),
        pmod(col("doc_id") * 13 + 11, lit(n)))).as("dst"))

  /** q5b: PageRank on the graded surface. The link graph is synthesized
    * arithmetically from doc ids (3 out-edges per document via affine
    * maps mod |V| — multipliers coprime to the fixture sizes, so
    * in-degree is uniform too), which keeps the operator real — the
    * joins, degree normalization, and damping are exactly a web-graph
    * run — while letting the DuckDB oracle rebuild the same graph and
    * replay all 3 unrolled iterations to the same doubles. */
  def linkPageRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    pageRank(docs.select(col("doc_id").as("id")), affineLinkEdges(docs, n),
        knownN = Some(n))
      .select(col("id").as("doc_id"), round(col("pr"), 8).as("pr"))
      .orderBy("doc_id")
  }

  /** Damped PageRank with DANGLING-MASS redistribution and
    * convergence-driven termination — the production form of
    * [[pageRank]] (which requires every node to have an out-edge and
    * runs a fixed unrolled iteration count). Each round: (1) one bounded
    * scalar probe sums the rank mass sitting on dangling nodes (no
    * out-edges — the web-graph norm, where a crawl frontier's leaves
    * dominate); that mass is redistributed uniformly, so total rank is
    * conserved at exactly 1 every round instead of leaking; (2) the
    * standard contribution join + aggregate; (3) an L1-delta probe
    * drives termination, with the CC loop's machinery — an eager
    * localCheckpoint every TWO rounds (two unrolled steps per
    * materialization) truncates the lineage that would
    * otherwise grow 2^rounds, and `require(converged)` fails loudly
    * rather than returning a half-converged ranking. Per-round cost is
    * the same one shuffle join + aggregate as [[pageRank]] plus two
    * 1-row probes; the edge table with degrees is built once and
    * cached. */
  def pageRankConverged(nodes: DataFrame, edges: DataFrame,
      damping: Double = 0.85, tol: Double = 1e-4,
      maxIter: Int = 100, knownN: Option[Long] = None): DataFrame = {
    val spark = nodes.sparkSession
    val n = knownN.getOrElse(nodes.count())
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("out_deg"))
    // loop partitioning is SCALE-ADAPTIVE (guide §2): sized to the rank
    // table (~25 B/row; target ~32 MB per loop partition), clamped to
    // the session's parallelism — a fixed constant is wrong at both
    // ends (8 partitions of kilobyte frames pay 8 task launches per
    // stage × ~4 stages × ~57 rounds of pure overhead; at 10^9+ nodes
    // the same constant would put gigabytes in one task). The iterated
    // frames stay tiny at fixture scale, so this resolves to 1 there.
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, n / 1300000L)).toInt
    // Same measured-regime switch as Dedup.connectedComponents: a small
    // rank table's power iteration is scheduled-job-overhead-bound, and
    // AQE materializes every per-round exchange as its own job while
    // having nothing to coalesce at `parts` partitions; a big rank table
    // keeps AQE (skew splits on hub-heavy contribution joins). 20M rows
    // ≈ 0.5 GB of rank state — below AQE's useful range here.
    val loopConfs = (("spark.sql.shuffle.partitions" -> parts.toString) +:
      (if (n < 20000000L) Seq("spark.sql.adaptive.enabled" -> "false")
       else Seq.empty))
    graft.SessionConf.withConfs(spark, loopConfs: _*) {
      val e = edges.join(outDeg, "src")
        .repartition(parts, col("src")).cache()
      e.count()
      // ranks carry a dangling flag so the per-round dangling mass is a
      // 1-row aggregate INSIDE the dataflow (broadcast back), not a
      // driver probe — rounds run with zero driver actions beyond the
      // localCheckpoint materialization and the every-4th-round
      // convergence probe
      val ids = nodes.select(col("id"))
        .join(outDeg.select(col("src").as("id"), lit(false).as("dang")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("dang"), lit(true)).as("dang"))
        .repartition(parts, col("id")).cache()
      ids.count()
      var ranks = ids.select(col("id"), col("dang"), lit(1.0 / n).as("pr"))
        .localCheckpoint(true)
      // one power-iteration step as a FRAME TRANSFORM (no action): the
      // r14 loop materializes TWO steps per localCheckpoint, halving
      // the per-iteration driver cost (job scheduling + plan analysis
      // dominated the loop: ~4 jobs × ~60 ms per round over ~57 rounds
      // at tol=1e-4, while the per-round data is kilobytes). The rank
      // SEQUENCE is unchanged — only how often it is materialized.
      def step(r: DataFrame): DataFrame = {
        val dm = r.where(col("dang")).groupBy()
          .agg(coalesce(sum("pr"), lit(0.0)).as("dmass"))
        val contribs = e.join(r.select(col("id").as("rid"), col("pr")),
            col("src") === col("rid"))
          .select(col("dst"), (col("pr") / col("out_deg")).as("c"))
          .groupBy("dst").agg(sum("c").as("in_mass"))
        ids.join(contribs, col("id") === col("dst"), "left")
          .crossJoin(broadcast(dm))
          .select(col("id"), col("dang"),
            (lit(1.0 - damping) / n +
              lit(damping) * (coalesce(col("in_mass"), lit(0.0)) + col("dmass") / n))
              .as("pr"))
      }
      // r15 (ADVICE): `it + 2 <= maxIter` so the 2-step unroll honors the
      // iteration bound exactly — under the old `it < maxIter` an odd
      // maxIter ran maxIter+1 steps and the require message understated
      // the rounds actually run. All call sites use the even default.
      var it = 0; var done = false
      while (!done && it + 2 <= maxIter) {
        val next = step(step(ranks)).localCheckpoint(true)
        it += 2
        // power iteration contracts the error by ~damping per round, so
        // probing every 4th round costs at most 3 redundant (cheap)
        // rounds while cutting the per-round action count. The probe
        // delta spans the 2 unrolled steps (an upper bound on the
        // single-step delta at the same point — stopping is only ever
        // LATER, never on a less-converged iterate).
        if (it % 4 == 0 || it >= maxIter) {
          val delta = next.join(ranks.select(col("id"), col("pr").as("prev")), "id")
            .agg(sum(abs(col("pr") - col("prev")))).head().getDouble(0)
          done = delta < tol
        }
        ranks = next
      }
      e.unpersist(); ids.unpersist()
      require(done, s"PageRank did not converge in $maxIter rounds (tol=$tol)")
      ranks.select(col("id"), col("pr"))
    }
  }

  /** q5f: converged dangling-mass PageRank on the graded surface. The
    * link graph is the q5b synthesis with PLANTED SINKS — every doc with
    * id ≡ 7 (mod 10) emits no links — so the dangling path runs for
    * real. Rank values at a data-dependent convergence point are not
    * replayable by a non-iterating oracle, so the graded row is the
    * contract fold (q52's pattern): replayable graph facts (node/sink
    * counts) plus `mass_ok` — total rank within 1e-9 of exactly 1, the
    * invariant dangling redistribution exists to preserve — and
    * `converged`, which [[pageRankConverged]] enforces with `require`.
    * DedupSimilaritySpec-style rank assertions live in QualitySpec. */
  def linkPageRankConverged(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val edges = affineLinkEdges(docs.where(col("doc_id") % 10 =!= 7), n)
    val ranks = pageRankConverged(docs.select(col("doc_id").as("id")), edges,
      knownN = Some(n))
    ranks.groupBy()
      .agg(
        count(lit(1)).as("n_nodes"),
        sum("pr").as("total_pr"))
      .crossJoin(broadcast(
        docs.where(col("doc_id") % 10 === 7)
          .groupBy().agg(count(lit(1)).as("n_sinks"))))
      .select(
        col("n_nodes"), col("n_sinks"),
        (abs(col("total_pr") - 1.0) < 1e-9).as("mass_ok"),
        lit(true).as("converged"))
  }

  /** q5l: PERSONALIZED PageRank — the candidate-generation form every
    * graph recommender runs (Pixie/SALSA lineage): teleport mass goes
    * ONLY to a seed set, so rank localizes around the seeds and the
    * scores read as "proximity to what this user already likes"
    * instead of global importance. Same unrolled 3-iteration dataflow
    * as q5b (one contribution join + one aggregate per round over the
    * shared [[affineLinkEdges]] graph); the only change is the teleport
    * term — seed ? (1−d)/|S| : 0 — which is the entire difference
    * between global and personalized PR. Nodes unreachable from the
    * seeds in 3 hops hold rank exactly 0 (the locality the operator
    * exists to produce, visible in the graded rows). Seeds are the
    * doc_id ≡ 0 (mod 50) documents so the oracle rebuilds the set
    * arithmetically. */
  def linkPersonalizedPageRank(spark: SparkSession, dir: String,
      iterations: Int = 3, damping: Double = 0.85): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val s = docs.filter(col("doc_id") % 50 === 0).count()
    val edges = affineLinkEdges(docs, n)
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val e = edges.join(outDeg, "src").cache()
    val ids = docs.select(col("doc_id").as("id"),
      (col("doc_id") % 50 === 0).as("seed"))
    var ranks = ids.select(col("id"), col("seed"),
      when(col("seed"), lit(1.0 / s)).otherwise(lit(0.0)).as("pr"))
    for (_ <- 1 to iterations) {
      val contribs = e.join(ranks.select(col("id"), col("pr")),
          col("src") === col("id"))
        .select(col("dst"), (col("pr") / col("out_deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("in_mass"))
      ranks = ids.join(contribs, col("id") === col("dst"), "left")
        .select(col("id"), col("seed"),
          (when(col("seed"), lit(1.0 - damping) / s).otherwise(lit(0.0))
            + lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("pr"))
    }
    ranks.select(col("id").as("doc_id"), col("seed").as("is_seed"),
        round(col("pr"), 8).as("ppr"))
      .orderBy("doc_id")
  }

  val linkPersonalizedPageRankOracle: String = """
    WITH d AS (SELECT doc_id FROM documents),
    nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
    ss AS (SELECT CAST(count(1) AS BIGINT) AS s FROM d WHERE doc_id % 50 = 0),
    e0 AS (
      SELECT doc_id AS src,
             unnest([(doc_id * 31 + 7) % n,
                     (doc_id * 17 + 3) % n,
                     (doc_id * 13 + 11) % n]) AS dst
      FROM d CROSS JOIN nn),
    deg AS (SELECT src, CAST(count(1) AS BIGINT) AS out_deg
            FROM e0 GROUP BY src),
    e AS (SELECT e0.src, e0.dst, deg.out_deg FROM e0 JOIN deg USING (src)),
    r0 AS (SELECT d.doc_id AS id,
                  CASE WHEN d.doc_id % 50 = 0 THEN 1.0 / ss.s
                       ELSE 0.0 END AS pr
           FROM d CROSS JOIN ss),
    c1 AS (SELECT e.dst, sum(r.pr / e.out_deg) AS m
           FROM e JOIN r0 r ON e.src = r.id GROUP BY e.dst),
    r1 AS (SELECT d.doc_id AS id,
                  CASE WHEN d.doc_id % 50 = 0
                       THEN (1 - CAST(0.85 AS DOUBLE)) / ss.s ELSE 0.0 END
                    + CAST(0.85 AS DOUBLE) * coalesce(c1.m, 0.0) AS pr
           FROM d CROSS JOIN ss LEFT JOIN c1 ON d.doc_id = c1.dst),
    c2 AS (SELECT e.dst, sum(r.pr / e.out_deg) AS m
           FROM e JOIN r1 r ON e.src = r.id GROUP BY e.dst),
    r2 AS (SELECT d.doc_id AS id,
                  CASE WHEN d.doc_id % 50 = 0
                       THEN (1 - CAST(0.85 AS DOUBLE)) / ss.s ELSE 0.0 END
                    + CAST(0.85 AS DOUBLE) * coalesce(c2.m, 0.0) AS pr
           FROM d CROSS JOIN ss LEFT JOIN c2 ON d.doc_id = c2.dst),
    c3 AS (SELECT e.dst, sum(r.pr / e.out_deg) AS m
           FROM e JOIN r2 r ON e.src = r.id GROUP BY e.dst),
    r3 AS (SELECT d.doc_id AS id,
                  CASE WHEN d.doc_id % 50 = 0
                       THEN (1 - CAST(0.85 AS DOUBLE)) / ss.s ELSE 0.0 END
                    + CAST(0.85 AS DOUBLE) * coalesce(c3.m, 0.0) AS pr
           FROM d CROSS JOIN ss LEFT JOIN c3 ON d.doc_id = c3.dst)
    SELECT id AS doc_id, (id % 50 = 0) AS is_seed, round(pr, 8) AS ppr
    FROM r3 ORDER BY doc_id"""

  /** Single-source BFS shortest hop counts, `rounds` relaxation
    * iterations — the frontier-expansion class of graph algorithm
    * (vs PageRank's fixed-iteration mass flow and the components
    * fixpoint loop). One round = one join (reached ⋈ edges) + one
    * min-aggregate — the textbook distributed Bellman-Ford relaxation
    * restricted to unit weights. `dist` stays (id, hop) narrow; at
    * 100 TB the frontier join is the only growing cost and is bounded
    * by the reached set, which is why BFS rounds (not Floyd-Warshall
    * style all-pairs) is the only formulation that scales. */
  def bfsHops(nodes: DataFrame, edges: DataFrame, sourceId: Long,
      rounds: Int): DataFrame = {
    val ids = nodes.select(col("id"))
    var dist = ids.select(col("id"),
      when(col("id") === sourceId, 0L).as("hop")) // null = unreached
    for (_ <- 1 to rounds) {
      val relaxed = edges.join(dist.where(col("hop").isNotNull),
          col("src") === col("id"))
        .select(col("dst").as("id"), (col("hop") + 1L).as("hop"))
      dist = dist.unionByName(relaxed)
        .groupBy("id").agg(min("hop").as("hop"))
    }
    dist
  }

  /** q5e: BFS hop distances from doc 0 over the same undirected
    * near-neighbor graph as q5d, 3 relaxation rounds, summarized as a
    * hop histogram (hop → node count) with unreached nodes as hop −1.
    * The oracle unrolls the same 3 rounds as CTE stages. */
  def linkBfsHops(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val fwd = docs.select(col("doc_id").as("src"),
      explode(array(
        pmod(col("doc_id") + 1, lit(n)),
        pmod(col("doc_id") + 2, lit(n)),
        pmod(col("doc_id") + 3, lit(n)),
        pmod(col("doc_id") * 17 + 3, lit(n)))).as("dst"))
      .where(col("src") =!= col("dst"))
    // undirected: traverse both directions
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    bfsHops(docs.select(col("doc_id").as("id")), edges, sourceId = 0L, rounds = 3)
      .select(coalesce(col("hop"), lit(-1L)).as("hop"))
      .groupBy("hop").agg(count(lit(1)).as("n_nodes"))
      .orderBy("hop")
  }

  /** Triangle count over an undirected edge list (`a < b` canonical
    * form, already deduplicated). The standard distributed formulation:
    * orient every edge, then count length-2 paths that close — two
    * self-joins, each triangle generated exactly once because the
    * orientation is a total order.
    *
    * Orientation is by (degree, id) — the Suri–Vassilvitskii skew
    * guard, not plain id order: every edge points at its higher-degree
    * endpoint, so a degree-d hub emits NO wedges of its own (its
    * neighbors, almost all lower-degree, point INTO it) and per-vertex
    * wedge fan-out is bounded by the graph's arboricity (~√m) instead
    * of d². Under id orientation one celebrity vertex with 10⁸
    * followers would alone generate ~10¹⁶ wedges at 100 TB; under
    * degree orientation the same hub contributes none. Costs one extra
    * degree aggregate + broadcast-size join before the wedge join —
    * constant work per edge. Output triples are id-sorted, so the
    * result is orientation-invariant. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).where(col("a") < col("b"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("degb")), "b")
    // endpoints as (d, v) structs: struct ordering IS the (degree, id)
    // total order, and the closing-edge join keys on the struct directly
    val sa = struct(col("dega").as("d"), col("a").as("v"))
    val sb = struct(col("degb").as("d"), col("b").as("v"))
    val o = withDeg.select(
      when(sa < sb, sa).otherwise(sb).as("u"),
      when(sa < sb, sb).otherwise(sa).as("w"))
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.u").as("p"), col("e1.w").as("q"), col("e2.w").as("r"))
    wedges.join(o.as("e3"),
        col("q") === col("e3.u") && col("r") === col("e3.w"))
      .select(array_sort(array(col("p.v"), col("q.v"), col("r.v"))).as("t"))
      .select(col("t")(0).as("x"), col("t")(1).as("y"), col("t")(2).as("z"))
  }

  /** q5d: per-vertex triangle counts + global total on a deterministic
    * near-neighbor link graph (doc i links to i+1, i+2, i+3 mod n — a
    * ring-lattice with 3n/1-per-wedge closure structure — plus one
    * affine long-range edge per node for irregular degrees, the
    * small-world shape). The DuckDB oracle rebuilds the same graph and
    * counts via the same low→high 3-way join. */
  def linkTriangles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val raw = docs.select(col("doc_id").as("src"),
      explode(array(
        pmod(col("doc_id") + 1, lit(n)),
        pmod(col("doc_id") + 2, lit(n)),
        pmod(col("doc_id") + 3, lit(n)),
        pmod(col("doc_id") * 17 + 3, lit(n)))).as("dst"))
    val und = raw.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    // consumed twice (per-vertex + total); session-scoped cache by the
    // repo's accepted pattern — both consumers sit in the ONE returned
    // plan, so unpersisting any earlier would re-run the wedge joins
    val tris = triangleCount(und).cache()
    // per-vertex count = triangles touching the vertex in any corner
    val perVertex = tris.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
    // global total as a 1-ROW aggregate broadcast back (bounded
    // BroadcastNestedLoopJoin), not an unpartitioned window — a window
    // over all |V| rows funnels the whole output through one task at
    // scale; the 1-row cross join costs nothing at any |V|
    val total = tris.agg(count(lit(1)).as("total_triangles"))
    perVertex.crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_triangles"), col("total_triangles"))
      .orderBy("doc_id")
  }

  /** q5n: CLUSTERING COEFFICIENT — local cc per vertex plus the global
    * transitivity ratio, the "how cliquish is each neighborhood" number
    * that separates a small-world graph from a random one (Watts &
    * Strogatz). local cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)); global
    * transitivity = 3·triangles / wedges with wedges = Σ_v C(deg v, 2)
    * — NOT the average of local ccs (the two disagree on skewed
    * graphs; transitivity is the one a hub can't distort).
    *
    * Cost shape: [[triangleCount]]'s degree-oriented wedge join (the
    * q5d skew guard) + ONE degree aggregate reused for both the local
    * denominator and the wedge total. Every emitted number is exact
    * integer arithmetic — the half-up rational rounding
    * floor(a/b + 1/2) is computed as (2a + b) div (2b) in BOTH
    * engines, so no double ever forms and the ppm columns replay
    * bit-for-bit. Degree-1 vertices (no possible wedge) report cc 0
    * by the CASE guard rather than dividing by zero. */
  def linkClusteringCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val raw = docs.select(col("doc_id").as("src"),
      explode(array(
        pmod(col("doc_id") + 1, lit(n)),
        pmod(col("doc_id") + 2, lit(n)),
        pmod(col("doc_id") + 3, lit(n)),
        pmod(col("doc_id") * 17 + 3, lit(n)))).as("dst"))
    val und = raw.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    // both consumers (per-vertex + total) sit in the one returned plan
    val tris = triangleCount(und).cache()
    val perVertex = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
    // exact rational half-up, floor(p/q + 1/2) = (2p + q) div (2q) —
    // SQL `div` keeps it in integer arithmetic end-to-end; a double
    // division could land an ulp under an exact-integer quotient and
    // floor one lower than DuckDB's `//`
    val local = deg.join(perVertex, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc_ppm",
        when(col("deg") < 2, lit(0L)).otherwise(expr(
          "(n_triangles * 4000000 + deg * (deg - 1)) div (deg * (deg - 1) * 2)")))
    // global transitivity as a 1-row broadcast back (q5d pattern: no
    // unpartitioned window over |V| rows)
    val wedges = deg.agg(expr("sum(deg * (deg - 1)) div 2 AS wedges"))
    val total = tris.agg(count(lit(1)).as("total_triangles"))
    local.crossJoin(broadcast(total)).crossJoin(broadcast(wedges))
      .select(col("doc_id"), col("deg"), col("n_triangles"), col("cc_ppm"),
        col("total_triangles"), col("wedges"),
        expr("(total_triangles * 6000000 + wedges) div (wedges * 2)")
          .as("transitivity_ppm"))
      .orderBy("doc_id")
  }

  /** Same graph rebuild + triangle join as the q5d oracle, extended
    * with degrees and the identical (2p + q) // (2q) integer rounding. */
  def linkClusteringCoefficientOracle: String = """
    WITH d AS (SELECT doc_id FROM documents),
    nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
    raw AS (
      SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM d CROSS JOIN nn
      UNION ALL
      SELECT doc_id, (doc_id + 2) % n FROM d CROSS JOIN nn
      UNION ALL
      SELECT doc_id, (doc_id + 3) % n FROM d CROSS JOIN nn
      UNION ALL
      SELECT doc_id, (doc_id * 17 + 3) % n FROM d CROSS JOIN nn),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst),
    deg AS (
      SELECT v AS doc_id, CAST(count(1) AS BIGINT) AS deg
      FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
      GROUP BY v),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e1.b = e2.a
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    pv AS (
      SELECT v AS doc_id, CAST(count(1) AS BIGINT) AS n_triangles
      FROM (SELECT x AS v FROM tri UNION ALL
            SELECT y FROM tri UNION ALL
            SELECT z FROM tri)
      GROUP BY v),
    tot AS (
      SELECT CAST(count(1) AS BIGINT) AS total_triangles FROM tri),
    wg AS (
      SELECT CAST(sum(deg * (deg - 1)) // 2 AS BIGINT) AS wedges FROM deg)
    SELECT deg.doc_id, deg.deg,
           CAST(coalesce(pv.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN deg.deg < 2 THEN 0
                ELSE (coalesce(pv.n_triangles, 0) * 2 * 1000000 * 2
                      + deg.deg * (deg.deg - 1))
                     // (deg.deg * (deg.deg - 1) * 2) END AS BIGINT) AS cc_ppm,
           tot.total_triangles, wg.wedges,
           CAST((tot.total_triangles * 3 * 1000000 * 2 + wg.wedges)
                // (wg.wedges * 2) AS BIGINT) AS transitivity_ppm
    FROM deg LEFT JOIN pv ON deg.doc_id = pv.doc_id
    CROSS JOIN tot CROSS JOIN wg
    ORDER BY deg.doc_id"""

  /** q5o: DEGREE ASSORTATIVITY — the Newman mixing coefficient: Pearson
    * correlation of (deg(u), deg(v)) over every directed edge-endpoint
    * pair of the symmetrized q5d lattice. Positive = hubs link to hubs
    * (social-graph shape), negative = hubs link to leaves (star/web
    * shape) — the one-number summary that predicts whether q5d's degree
    * orientation or q27's salting will matter on a real graph.
    *
    * The q1q doctrine at graph scale: every moment (Σx, Σx², Σxy over
    * the 2|E| ordered endpoint pairs) is an exact integer sum —
    * order-independent under any shuffle — and the single closed-form
    * double forms at the very end from identical integer operands in
    * both engines, emitted ×1e6. Cost: one degree aggregate + two
    * broadcast-size joins + one scan of the edge list. */
  def linkAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val raw = docs.select(col("doc_id").as("src"),
      explode(array(
        pmod(col("doc_id") + 1, lit(n)),
        pmod(col("doc_id") + 2, lit(n)),
        pmod(col("doc_id") + 3, lit(n)),
        pmod(col("doc_id") * 17 + 3, lit(n)))).as("dst"))
    val und = raw.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // both orientations: each edge contributes (deg u, deg v) AND
    // (deg v, deg u), which is what makes Σx = Σy and the coefficient
    // symmetric — the standard undirected-assortativity convention
    val pairs = und
      .join(deg.select(col("v").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("degb")), "b")
      .select(col("dega").as("x"), col("degb").as("y"))
    val both = pairs.unionByName(
      pairs.select(col("y").as("x"), col("x").as("y")))
    val m = both.agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    m.select(col("n_pairs"), col("sx"), col("sxx"), col("sxy"),
      floor((col("n_pairs") * col("sxy") - col("sx") * col("sx")).cast("double")
        / (col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double")
        * 1e6 + 0.5).cast("long").as("assortativity_e6"))
  }

  def linkAssortativityOracle: String = """
    WITH d AS (SELECT doc_id FROM documents),
    nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
    raw AS (
      SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM d CROSS JOIN nn
      UNION ALL
      SELECT doc_id, (doc_id + 2) % n FROM d CROSS JOIN nn
      UNION ALL
      SELECT doc_id, (doc_id + 3) % n FROM d CROSS JOIN nn
      UNION ALL
      SELECT doc_id, (doc_id * 17 + 3) % n FROM d CROSS JOIN nn),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst),
    deg AS (
      SELECT v, CAST(count(1) AS BIGINT) AS deg
      FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
      GROUP BY v),
    pairs AS (
      SELECT da.deg AS x, db.deg AS y
      FROM und JOIN deg da ON und.a = da.v JOIN deg db ON und.b = db.v),
    bidir AS (
      SELECT x, y FROM pairs UNION ALL SELECT y, x FROM pairs),
    m AS (
      SELECT CAST(count(1) AS BIGINT) AS n_pairs,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM bidir)
    SELECT n_pairs, sx, sxx, sxy,
           CAST(floor(CAST(n_pairs * sxy - sx * sx AS DOUBLE)
             / CAST(n_pairs * sxx - sx * sx AS DOUBLE) * 1e6 + 0.5)
             AS BIGINT) AS assortativity_e6
    FROM m"""

  /** q5p: HITS (hubs & authorities) — Kleinberg's fixed-point pair on
    * the DIRECTED affine link graph, 3 unrolled rounds from h₀ = 1:
    * aᵣ(v) = Σ_{u→v} hᵣ₋₁(u), hᵣ(u) = Σ_{u→v} aᵣ(v). The
    * normalization step is deliberately OMITTED — it only rescales (the
    * ranking is invariant), and skipping it keeps every score an exact
    * INTEGER bounded by maxdeg^(2r) (~4⁶ here), so the whole fixed
    * point replays bit-for-bit as oracle CTE stages with zero FP
    * anywhere — the q5b/q5e unrolled-iteration contract, minus even
    * the rounding. Per round: one join + one aggregate over the edge
    * table (cached once) — the PageRank cost shape. */
  def linkHits(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val edges = docs.select(col("doc_id").as("src"),
      explode(array(
        pmod(col("doc_id") + 1, lit(n)),
        pmod(col("doc_id") + 2, lit(n)),
        pmod(col("doc_id") * 17 + 3, lit(n)))).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .cache()
    var hub = docs.select(col("doc_id").as("id"), lit(1L).as("h"))
    var auth = docs.select(col("doc_id").as("id"), lit(0L).as("a"))
    for (_ <- 1 to rounds) {
      auth = edges.join(hub, col("src") === col("id"))
        .groupBy(col("dst").as("id2")).agg(sum(col("h")).as("a"))
        .select(col("id2").as("id"), col("a"))
      auth = docs.select(col("doc_id").as("id"))
        .join(auth, Seq("id"), "left")
        .select(col("id"), coalesce(col("a"), lit(0L)).as("a"))
      hub = edges.join(auth, col("dst") === col("id"))
        .groupBy(col("src").as("id2")).agg(sum(col("a")).as("h"))
        .select(col("id2").as("id"), col("h"))
      hub = docs.select(col("doc_id").as("id"))
        .join(hub, Seq("id"), "left")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("h"))
    }
    hub.join(auth, "id")
      .select(col("id").as("doc_id"), col("h").as("hub_score"),
        col("a").as("auth_score"))
      .orderBy("doc_id")
  }

  def linkHitsOracle: String = """
    WITH d AS (SELECT doc_id FROM documents),
    nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
    e AS (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM d CROSS JOIN nn
        UNION ALL
        SELECT doc_id, (doc_id + 2) % n FROM d CROSS JOIN nn
        UNION ALL
        SELECT doc_id, (doc_id * 17 + 3) % n FROM d CROSS JOIN nn)
      WHERE src <> dst),
    h0 AS (SELECT doc_id AS id, CAST(1 AS BIGINT) AS h FROM d),
    a1 AS (SELECT d.doc_id AS id, CAST(coalesce(s.a, 0) AS BIGINT) AS a
           FROM d LEFT JOIN (
             SELECT e.dst AS id, sum(h0.h) AS a
             FROM e JOIN h0 ON e.src = h0.id GROUP BY e.dst) s
           ON d.doc_id = s.id),
    h1 AS (SELECT d.doc_id AS id, CAST(coalesce(s.h, 0) AS BIGINT) AS h
           FROM d LEFT JOIN (
             SELECT e.src AS id, sum(a1.a) AS h
             FROM e JOIN a1 ON e.dst = a1.id GROUP BY e.src) s
           ON d.doc_id = s.id),
    a2 AS (SELECT d.doc_id AS id, CAST(coalesce(s.a, 0) AS BIGINT) AS a
           FROM d LEFT JOIN (
             SELECT e.dst AS id, sum(h1.h) AS a
             FROM e JOIN h1 ON e.src = h1.id GROUP BY e.dst) s
           ON d.doc_id = s.id),
    h2 AS (SELECT d.doc_id AS id, CAST(coalesce(s.h, 0) AS BIGINT) AS h
           FROM d LEFT JOIN (
             SELECT e.src AS id, sum(a2.a) AS h
             FROM e JOIN a2 ON e.dst = a2.id GROUP BY e.src) s
           ON d.doc_id = s.id),
    a3 AS (SELECT d.doc_id AS id, CAST(coalesce(s.a, 0) AS BIGINT) AS a
           FROM d LEFT JOIN (
             SELECT e.dst AS id, sum(h2.h) AS a
             FROM e JOIN h2 ON e.src = h2.id GROUP BY e.dst) s
           ON d.doc_id = s.id),
    h3 AS (SELECT d.doc_id AS id, CAST(coalesce(s.h, 0) AS BIGINT) AS h
           FROM d LEFT JOIN (
             SELECT e.src AS id, sum(a3.a) AS h
             FROM e JOIN a3 ON e.dst = a3.id GROUP BY e.src) s
           ON d.doc_id = s.id)
    SELECT h3.id AS doc_id, h3.h AS hub_score, a3.a AS auth_score
    FROM h3 JOIN a3 ON h3.id = a3.id
    ORDER BY doc_id"""

  /** Generic SYNCHRONOUS MIN-LABEL PROPAGATION — the community/
    * partition detector between per-round-cheap PageRank and
    * run-to-fixpoint connected components: every vertex starts
    * labelled with its own id, and each round adopts the minimum label
    * in its closed neighborhood (symmetrized edges). A fixed small
    * round count is the deliberate contract (the q5b/q5e pattern: the
    * oracle replays every round as a CTE stage); run to graph diameter
    * it converges to [[Dedup.duplicateComponents]]' answer, and a
    * convergence-driven run would reuse that loop's localCheckpoint +
    * fixpoint-probe machinery. Per round: one shuffle join
    * (labels ⋈ undirected edges) + one min-aggregate — the PageRank
    * cost shape, on a symmetrized edge table cached once. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
      rounds: Int = 3): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    var labels = nodes.select(col("id"), col("id").as("lab"))
    for (_ <- 1 to rounds) {
      val nbrMin = und.join(labels, und("dst") === labels("id"))
        .groupBy("src").agg(min("lab").as("nbr_lab"))
      labels = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"),
          least(col("lab"), coalesce(col("nbr_lab"), col("lab"))).as("lab"))
    }
    labels
  }

  /** q5g: 3-round label propagation over the deterministic affine link
    * graph (q5b's edges, symmetrized) — emits the community-size
    * histogram with the community count replicated per row. */
  def linkLabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    labelPropagation(docs.select(col("doc_id").as("id")), affineLinkEdges(docs, n))
      .groupBy("lab").agg(count(lit(1)).as("n_members"))
      .withColumn("n_communities", count(lit(1)).over(Window.partitionBy()))
      .select(col("lab").as("community"), col("n_members"), col("n_communities"))
      .orderBy("community")
  }

  /** q5m: MODULARITY of the q5g communities — the score that says
    * whether a partition is COMMUNITIES or noise (Newman–Girvan Q:
    * intra-community edge fraction minus its degree-preserving random
    * expectation; Q ≈ 0 ⇒ the partition explains nothing). Everything
    * is exact integers until one final division: per community,
    * directed-intra-pair counts e2_c and degree sums D_c; globally
    * Q = (2m·Σe2_c − ΣD_c²)/(2m)², emitted as floor(·1e6 + 0.5) from
    * identical integer operands in both engines. Self-loops are
    * excluded from the edge set (they inflate both terms without
    * carrying community signal). Plan: the labels table joins the
    * symmetrized edges twice (src and dst side — both shuffles on the
    * node key), per-community rollups are |communities|-sized, and the
    * global sums are windows over those few rows — no extra scan. */
  def linkModularity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val e = affineLinkEdges(docs, n)
    val und = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .where(col("src") =!= col("dst"))
      .cache()
    // r14 (guide §5): the labeling feeds FOUR consumers below (members,
    // the degree rollup, and both sides of the intra-edge join);
    // unmaterialized, each consumer re-executed the full 3-round
    // propagation (4× its joins and shuffles — the dominant cost of the
    // query at any scale). One eager materialization, four cheap reads.
    val lab = labelPropagation(docs.select(col("doc_id").as("id")), e)
      .localCheckpoint(true)
    val members = lab.groupBy("lab").agg(count(lit(1)).as("n_members"))
    val deg = und.groupBy("src").agg(count(lit(1)).as("degree"))
    val degC = deg.join(lab, deg("src") === lab("id"))
      .groupBy("lab").agg(sum("degree").as("degree_sum"))
    val lu = lab.select(col("id").as("u"), col("lab").as("cu"))
    val lv = lab.select(col("id").as("v"), col("lab").as("cv"))
    val intra = und
      .join(lu, col("src") === col("u"))
      .join(lv, col("dst") === col("v"))
      .where(col("cu") === col("cv"))
      .groupBy(col("cu").as("lab")).agg(count(lit(1)).as("intra_pairs"))
    val per = members
      .join(degC, Seq("lab"), "left")
      .join(intra, Seq("lab"), "left")
      .select(col("lab").as("community"), col("n_members"),
        coalesce(col("intra_pairs"), lit(0L)).as("intra_pairs"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"))
    val tot = Window.partitionBy()
    per
      .withColumn("m2", sum("degree_sum").over(tot))
      .withColumn("q_e6", floor(
        (col("m2") * sum("intra_pairs").over(tot)
          - sum(col("degree_sum") * col("degree_sum")).over(tot))
          .cast("double") * 1e6
          / (col("m2").cast("double") * col("m2")) + 0.5))
      .orderBy("community")
  }

  // edges via UNION ALL, not unnest: DuckDB's binder raises an INTERNAL
  // error on an unnest alias referenced through a DISTINCT+WHERE CTE
  // (the same workaround q5d's oracle documents)
  def linkModularityOracle: String = """
    WITH d AS (SELECT doc_id FROM documents),
    nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
    e0 AS (
      SELECT doc_id AS src, (doc_id * 31 + 7) % n AS dst FROM d CROSS JOIN nn
      UNION ALL
      SELECT doc_id, (doc_id * 17 + 3) % n FROM d CROSS JOIN nn
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 11) % n FROM d CROSS JOIN nn),
    und AS (SELECT DISTINCT src, dst FROM
      (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)),
    l0 AS (SELECT doc_id AS id, doc_id AS lab FROM d),
    m1 AS (SELECT und.src AS id, min(l.lab) AS nbr
           FROM und JOIN l0 l ON und.dst = l.id GROUP BY und.src),
    l1 AS (SELECT l0.id, least(l0.lab, coalesce(m1.nbr, l0.lab)) AS lab
           FROM l0 LEFT JOIN m1 ON l0.id = m1.id),
    m2s AS (SELECT und.src AS id, min(l.lab) AS nbr
           FROM und JOIN l1 l ON und.dst = l.id GROUP BY und.src),
    l2 AS (SELECT l1.id, least(l1.lab, coalesce(m2s.nbr, l1.lab)) AS lab
           FROM l1 LEFT JOIN m2s ON l1.id = m2s.id),
    m3 AS (SELECT und.src AS id, min(l.lab) AS nbr
           FROM und JOIN l2 l ON und.dst = l.id GROUP BY und.src),
    l3 AS (SELECT l2.id, least(l2.lab, coalesce(m3.nbr, l2.lab)) AS lab
           FROM l2 LEFT JOIN m3 ON l2.id = m3.id),
    und2 AS (SELECT src, dst FROM und WHERE src <> dst),
    deg AS (SELECT src, CAST(count(1) AS BIGINT) AS degree
            FROM und2 GROUP BY src),
    members AS (SELECT lab, CAST(count(1) AS BIGINT) AS n_members
                FROM l3 GROUP BY lab),
    degc AS (SELECT l.lab, CAST(sum(d2.degree) AS BIGINT) AS degree_sum
             FROM deg d2 JOIN l3 l ON d2.src = l.id GROUP BY l.lab),
    intra AS (SELECT lu.lab, CAST(count(1) AS BIGINT) AS intra_pairs
              FROM und2 e JOIN l3 lu ON e.src = lu.id
              JOIN l3 lv ON e.dst = lv.id
              WHERE lu.lab = lv.lab GROUP BY lu.lab),
    per AS (SELECT m.lab AS community, m.n_members,
                   CAST(coalesce(i.intra_pairs, 0) AS BIGINT) AS intra_pairs,
                   CAST(coalesce(dc.degree_sum, 0) AS BIGINT) AS degree_sum
            FROM members m
            LEFT JOIN degc dc ON m.lab = dc.lab
            LEFT JOIN intra i ON m.lab = i.lab),
    tot AS (SELECT CAST(sum(degree_sum) AS BIGINT) AS m2,
                   CAST(sum(intra_pairs) AS BIGINT) AS si,
                   CAST(sum(degree_sum * degree_sum) AS BIGINT) AS sd2
            FROM per)
    SELECT per.community, per.n_members, per.intra_pairs, per.degree_sum,
           tot.m2,
           CAST(floor(CAST(tot.m2 * tot.si - tot.sd2 AS DOUBLE) * 1e6
             / (CAST(tot.m2 AS DOUBLE) * tot.m2) + 0.5) AS BIGINT) AS q_e6
    FROM per CROSS JOIN tot ORDER BY per.community"""

  /** q5h: DEGREE DISTRIBUTION of the symmetrized link graph — the
    * first profile run on any new graph (is it skewed? is there a hub
    * that will dominate the q5d orientation or demand q27 salting?):
    * per-degree node counts with ppm shares and max degree replicated.
    * One symmetrize + two tiny aggregates; the histogram windows run
    * over ≤|distinct degrees| rows. */
  def linkDegreeHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val e = affineLinkEdges(docs, n)
    val und = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = und.groupBy("src").agg(count(lit(1)).as("degree"))
    val tot = Window.partitionBy()
    deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .withColumn("share_ppm",
        floor(col("n_nodes").cast("double") / sum(col("n_nodes")).over(tot) * 1e6 + 0.5))
      .withColumn("max_degree", max(col("degree")).over(tot))
      .orderBy("degree")
  }

  def linkDegreeHistogramOracle: String = """
    WITH d AS (SELECT doc_id FROM documents),
    nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
    e0 AS (
      SELECT doc_id AS src,
             unnest([(doc_id * 31 + 7) % n,
                     (doc_id * 17 + 3) % n,
                     (doc_id * 13 + 11) % n]) AS dst
      FROM d CROSS JOIN nn),
    und AS (SELECT DISTINCT src, dst FROM
      (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)),
    deg AS (SELECT src, count(1) AS degree FROM und GROUP BY src),
    h AS (SELECT degree, count(1) AS n_nodes FROM deg GROUP BY degree)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(floor(CAST(n_nodes AS DOUBLE) / sum(n_nodes) OVER ()
             * 1e6 + 0.5) AS BIGINT) AS share_ppm,
           CAST(max(degree) OVER () AS BIGINT) AS max_degree
    FROM h ORDER BY degree"""

  /** q5k: K-CORE PEELING — the degeneracy decomposition's workhorse
    * (community cores, spam-farm detection, the pre-filter before
    * expensive clique mining): repeatedly delete nodes of degree < k
    * until the survivors all have degree ≥ k within the survivor set.
    * Each peel round is one edge⋈survivors⋈survivors restriction plus
    * one degree aggregate — the same join-iteration shape as PageRank/
    * CC, shuffling on the node key; rounds are FIXED (unrolled in the
    * oracle as chained CTEs) and a `converged` column records whether
    * round R removed nothing — when true, the round-R survivor set IS
    * the exact k-core by definition, so the fixpoint claim itself is
    * hash-graded rather than trusted. Driver-side work is one bounded
    * node-count probe per round (the convergence comparison). Output is
    * the one-row core audit: survivor count, in-core directed edge
    * count, the minimum in-core degree (≥ k iff converged), and the
    * convergence verdict. */
  def linkKCore(spark: SparkSession, dir: String,
      k: Int = 6, rounds: Int = 6): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val e = affineLinkEdges(docs, n)
    val und = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    var core = docs.select(col("doc_id").as("id"))
    var sizes = List(n)
    for (_ <- 1 to rounds) {
      val sub = und
        .join(core.select(col("id").as("src")), "src")
        .join(core.select(col("id").as("dst")), "dst")
      core = sub.groupBy("src").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("src").as("id"))
        .localCheckpoint(true) // truncate the per-round join lineage
      sizes = core.count() :: sizes // bounded scalar probe per round
    }
    val converged = sizes.head == sizes.tail.head
    val finalSub = und
      .join(core.select(col("id").as("src")), "src")
      .join(core.select(col("id").as("dst")), "dst")
    finalSub.groupBy("src").agg(count(lit(1)).as("dg"))
      .agg(
        lit(k.toLong).as("k"),
        lit(rounds.toLong).as("rounds"),
        count(lit(1)).as("n_core_nodes"),
        sum("dg").as("core_edges_directed"),
        min("dg").as("min_core_degree"))
      .withColumn("converged", lit(converged))
  }

  def linkKCoreOracle: String = """
    WITH d AS (SELECT doc_id FROM documents),
    nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
    e0 AS (
      SELECT doc_id AS src,
             unnest([(doc_id * 31 + 7) % n,
                     (doc_id * 17 + 3) % n,
                     (doc_id * 13 + 11) % n]) AS dst
      FROM d CROSS JOIN nn),
    und AS (SELECT DISTINCT src, dst FROM
      (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)),
    c1 AS (SELECT src AS id FROM und GROUP BY src HAVING count(1) >= 6),
    c2 AS (SELECT src AS id FROM und
           WHERE src IN (SELECT id FROM c1) AND dst IN (SELECT id FROM c1)
           GROUP BY src HAVING count(1) >= 6),
    c3 AS (SELECT src AS id FROM und
           WHERE src IN (SELECT id FROM c2) AND dst IN (SELECT id FROM c2)
           GROUP BY src HAVING count(1) >= 6),
    c4 AS (SELECT src AS id FROM und
           WHERE src IN (SELECT id FROM c3) AND dst IN (SELECT id FROM c3)
           GROUP BY src HAVING count(1) >= 6),
    c5 AS (SELECT src AS id FROM und
           WHERE src IN (SELECT id FROM c4) AND dst IN (SELECT id FROM c4)
           GROUP BY src HAVING count(1) >= 6),
    c6 AS (SELECT src AS id FROM und
           WHERE src IN (SELECT id FROM c5) AND dst IN (SELECT id FROM c5)
           GROUP BY src HAVING count(1) >= 6),
    fin AS (SELECT src, count(1) AS dg FROM und
            WHERE src IN (SELECT id FROM c6) AND dst IN (SELECT id FROM c6)
            GROUP BY src)
    SELECT CAST(6 AS BIGINT) AS k,
           CAST(6 AS BIGINT) AS rounds,
           CAST(count(1) AS BIGINT) AS n_core_nodes,
           CAST(sum(dg) AS BIGINT) AS core_edges_directed,
           CAST(min(dg) AS BIGINT) AS min_core_degree,
           (SELECT count(1) FROM c6) = (SELECT count(1) FROM c5) AS converged
    FROM fin"""

  /** q5j: BOUNDED WEIGHTED SHORTEST PATH — single-source Bellman-Ford
    * relaxation over the shared affine link graph with deterministic
    * integer edge weights (w = 1 + (7·src + 5·dst) mod 10), cut at a
    * fixed hop budget (the "distance within L hops" semantics used for
    * bounded reachability and influence radii; exact Dijkstra is
    * inherently sequential and has no distributed form). Each round is
    * one equi join (frontier ⋈ edges on src) + one min-aggregate —
    * exactly the PageRank shuffle shape, and the distance table stays
    * SPARSE (only reached nodes carry rows), so early rounds move a
    * frontier, not the graph. Rounds are unrolled (L=4) and the oracle
    * replays them as chained CTEs; distances are exact integer sums of
    * integer weights — no float anywhere. Monotone property folded in:
    * round L distances are a fixpoint-or-shrinking refinement of round
    * L−1, asserted in the spec; the graded row set is every reached
    * node's (doc_id, dist). */
  def shortestPath(spark: SparkSession, dir: String,
      rounds: Int = 4, seed: Long = 0L): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count() // bounded scalar probe (|V| pins the mod)
    val edges = affineLinkEdges(docs, n)
      .select(col("src"), col("dst"),
        (pmod(col("src") * 7 + col("dst") * 5, lit(10L)) + lit(1L)).as("w"))
      .cache()
    var dist = docs.filter(col("doc_id") === seed)
      .select(col("doc_id").as("id"), lit(0L).as("dist"))
    for (_ <- 1 to rounds) {
      val relaxed = edges.join(dist, edges("src") === dist("id"))
        .select(edges("dst").as("id"), (dist("dist") + edges("w")).as("dist"))
      dist = dist.union(relaxed).groupBy("id").agg(min("dist").as("dist"))
    }
    dist.select(col("id").as("doc_id"), col("dist")).orderBy("doc_id")
  }

  def shortestPathOracle: String = """
    WITH d AS (SELECT doc_id FROM documents),
    nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
    e AS (
      SELECT src, dst, 1 + (src * 7 + dst * 5) % 10 AS w FROM (
        SELECT doc_id AS src,
               unnest([(doc_id * 31 + 7) % n,
                       (doc_id * 17 + 3) % n,
                       (doc_id * 13 + 11) % n]) AS dst
        FROM d CROSS JOIN nn)),
    d0 AS (SELECT doc_id AS id, 0 AS dist FROM d WHERE doc_id = 0),
    d1 AS (SELECT id, min(dist) AS dist FROM (
      SELECT id, dist FROM d0
      UNION ALL
      SELECT e.dst AS id, p.dist + e.w FROM d0 p JOIN e ON e.src = p.id)
      GROUP BY id),
    d2 AS (SELECT id, min(dist) AS dist FROM (
      SELECT id, dist FROM d1
      UNION ALL
      SELECT e.dst AS id, p.dist + e.w FROM d1 p JOIN e ON e.src = p.id)
      GROUP BY id),
    d3 AS (SELECT id, min(dist) AS dist FROM (
      SELECT id, dist FROM d2
      UNION ALL
      SELECT e.dst AS id, p.dist + e.w FROM d2 p JOIN e ON e.src = p.id)
      GROUP BY id),
    d4 AS (SELECT id, min(dist) AS dist FROM (
      SELECT id, dist FROM d3
      UNION ALL
      SELECT e.dst AS id, p.dist + e.w FROM d3 p JOIN e ON e.src = p.id)
      GROUP BY id)
    SELECT CAST(id AS BIGINT) AS doc_id, CAST(dist AS BIGINT) AS dist
    FROM d4 ORDER BY doc_id"""

  def linkLabelPropagationOracle: String = """
    WITH d AS (SELECT doc_id FROM documents),
    nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
    e0 AS (
      SELECT doc_id AS src,
             unnest([(doc_id * 31 + 7) % n,
                     (doc_id * 17 + 3) % n,
                     (doc_id * 13 + 11) % n]) AS dst
      FROM d CROSS JOIN nn),
    und AS (SELECT DISTINCT src, dst FROM
      (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)),
    l0 AS (SELECT doc_id AS id, doc_id AS lab FROM d),
    m1 AS (SELECT und.src AS id, min(l.lab) AS nbr
           FROM und JOIN l0 l ON und.dst = l.id GROUP BY und.src),
    l1 AS (SELECT l0.id, least(l0.lab, coalesce(m1.nbr, l0.lab)) AS lab
           FROM l0 LEFT JOIN m1 ON l0.id = m1.id),
    m2 AS (SELECT und.src AS id, min(l.lab) AS nbr
           FROM und JOIN l1 l ON und.dst = l.id GROUP BY und.src),
    l2 AS (SELECT l1.id, least(l1.lab, coalesce(m2.nbr, l1.lab)) AS lab
           FROM l1 LEFT JOIN m2 ON l1.id = m2.id),
    m3 AS (SELECT und.src AS id, min(l.lab) AS nbr
           FROM und JOIN l2 l ON und.dst = l.id GROUP BY und.src),
    l3 AS (SELECT l2.id, least(l2.lab, coalesce(m3.nbr, l2.lab)) AS lab
           FROM l2 LEFT JOIN m3 ON l2.id = m3.id),
    g AS (SELECT lab, count(1) AS n_members FROM l3 GROUP BY lab)
    SELECT lab AS community, CAST(n_members AS BIGINT) AS n_members,
           count(1) OVER () AS n_communities
    FROM g ORDER BY community"""

  /** q5i: LINK PREDICTION by common-neighbor/Jaccard scoring — the
    * classic "which edges are missing?" primitive (recommendation
    * candidate generation, knowledge-graph completion): for every
    * non-adjacent pair within two hops, the number of shared
    * neighbors, the neighborhood Jaccard (ppm — floor of a rational of
    * exact integers), and the preferential-attachment product, top-k
    * by score with full-column tie-break.
    *
    * The pair generator is the WEDGE join (neighbors-of-w × neighbors-
    * of-w through each center w) — the same shape as q5d's triangle
    * wedges, and the same hub hazard: a degree-d center emits d²/2
    * candidate pairs, so one 10⁶-degree hub at crawl scale is a
    * quadratic bomb. Guarded the q4k way: centers above `degreeCap`
    * are EXCLUDED from wedge generation (their pairs are unrecoverable
    * by design — a hub's neighborhood is near-everything, so "shares
    * the hub" carries no signal; the capped-center count is folded
    * onto every graded row as `capped_centers` so the drop is visible
    * in the output, not silent). Existing edges are removed by an
    * ANTI join; final top-k is TakeOrdered (no global sort). */
  def linkPrediction(spark: SparkSession, dir: String,
      degreeCap: Long = 64L, topK: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    linkPredictionOn(affineLinkEdges(docs, n), degreeCap, topK)
  }

  /** Core scorer over any directed edge list (symmetrized inside);
    * separated from the fixture wiring so specs can plant graphs. */
  def linkPredictionOn(e: DataFrame,
      degreeCap: Long, topK: Int): DataFrame = {
    val und = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
    val deg = und.groupBy("src").agg(count(lit(1)).as("degree"))
    val capped = deg.where(col("degree") > degreeCap)
      .agg(coalesce(count(lit(1)), lit(0L)).as("capped_centers"))
    val keptCenters = deg.where(col("degree") <= degreeCap)
      .select(col("src").as("w"))
    val nbr = und.join(keptCenters, und("src") === keptCenters("w"))
      .select(col("w"), col("dst").as("v"))
    val wedges = nbr.as("x").join(nbr.as("y"),
        col("x.w") === col("y.w") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("b"))
    val cn = wedges.groupBy("a", "b").agg(count(lit(1)).as("common_nbrs"))
    val existing = und.where(col("src") < col("dst"))
      .select(col("src").as("ea"), col("dst").as("eb"))
    val nonEdges = cn.join(existing,
      col("a") === col("ea") && col("b") === col("eb"), "left_anti")
    val degA = deg.select(col("src").as("a"), col("degree").as("deg_a"))
    val degB = deg.select(col("src").as("b"), col("degree").as("deg_b"))
    nonEdges.join(degA, "a").join(degB, "b")
      .withColumn("jaccard_ppm",
        floor(col("common_nbrs").cast("double")
          / (col("deg_a") + col("deg_b") - col("common_nbrs")) * 1e6 + 0.5))
      .withColumn("pa_score", col("deg_a") * col("deg_b"))
      .crossJoin(broadcast(capped))
      .select(col("a"), col("b"), col("common_nbrs"), col("deg_a"),
        col("deg_b"), col("jaccard_ppm"), col("pa_score"),
        col("capped_centers"))
      .orderBy(col("jaccard_ppm").desc, col("common_nbrs").desc,
        col("a").asc, col("b").asc)
      .limit(topK)
  }

  /** e0 avoids `unnest` (three UNION ALL branches instead): DuckDB
    * 's binder throws an INTERNAL error when the later `src <> dst`
    * filter is pushed through DISTINCT into an unnest-bearing union. */
  def linkPredictionOracle: String = """
    WITH d AS (SELECT doc_id FROM documents),
    nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
    e0 AS (
      SELECT doc_id AS src, (doc_id * 31 + 7) % n AS dst FROM d CROSS JOIN nn
      UNION ALL
      SELECT doc_id AS src, (doc_id * 17 + 3) % n AS dst FROM d CROSS JOIN nn
      UNION ALL
      SELECT doc_id AS src, (doc_id * 13 + 11) % n AS dst FROM d CROSS JOIN nn),
    und AS (SELECT DISTINCT u.src, u.dst FROM
      (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0) u
      WHERE u.src <> u.dst),
    deg AS (SELECT src, count(1) AS degree FROM und GROUP BY src),
    capped AS (SELECT count(1) AS capped_centers FROM deg WHERE degree > 64),
    nbr AS (SELECT und.src AS w, und.dst AS v FROM und
            JOIN deg ON und.src = deg.src WHERE deg.degree <= 64),
    wedges AS (SELECT x.v AS a, y.v AS b FROM nbr x JOIN nbr y
               ON x.w = y.w AND x.v < y.v),
    cn AS (SELECT a, b, count(1) AS common_nbrs FROM wedges GROUP BY a, b),
    ne AS (SELECT cn.* FROM cn LEFT JOIN und
           ON cn.a = und.src AND cn.b = und.dst AND und.src < und.dst
           WHERE und.src IS NULL),
    scored AS (
      SELECT ne.a, ne.b, ne.common_nbrs,
             da.degree AS deg_a, db.degree AS deg_b,
             CAST(floor(CAST(ne.common_nbrs AS DOUBLE)
               / (da.degree + db.degree - ne.common_nbrs) * 1e6 + 0.5)
               AS BIGINT) AS jaccard_ppm,
             da.degree * db.degree AS pa_score
      FROM ne JOIN deg da ON ne.a = da.src JOIN deg db ON ne.b = db.src)
    SELECT a, b, CAST(common_nbrs AS BIGINT) AS common_nbrs,
           CAST(deg_a AS BIGINT) AS deg_a, CAST(deg_b AS BIGINT) AS deg_b,
           jaccard_ppm, CAST(pa_score AS BIGINT) AS pa_score,
           CAST(capped.capped_centers AS BIGINT) AS capped_centers
    FROM scored CROSS JOIN capped
    ORDER BY jaccard_ppm DESC, common_nbrs DESC, a ASC, b ASC
    LIMIT 20"""
}
