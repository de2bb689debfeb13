package graft

import graft.sources.TxnTable
import org.apache.spark.sql.functions._

/** The snapshot-log table format: atomic put-if-absent commits,
  * optimistic rebase under a planted race, immutable time travel, and
  * manifest-stat pruning soundness. */
class TxnTableSpec extends SparkSpec {

  private def root(name: String) = graft.Fs.scratch(s"graft_txnspec_$name")

  private def mkTable(name: String, n: Int = 1000, shards: Int = 8) = {
    val r = root(name)
    val df = spark.range(n).select(
      col("id").as("k"), (col("id") * 3 % 101).as("v"))
    TxnTable.create(spark, r, df, "k", shards)
    (r, df)
  }

  test("create + readVersion round-trips the frame exactly (no __shard leak)") {
    val (r, df) = mkTable("roundtrip")
    val back = TxnTable.readVersion(spark, r, 0)
    assert(back.columns.toSeq == Seq("k", "v"),
      s"partition-dir key leaked into the logical table: ${back.columns.mkString(",")}")
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
  }

  test("commit is put-if-absent: second writer of the same version loses") {
    val (r, _) = mkTable("putifabsent")
    val m = TxnTable.readManifest(r, 0)
    assert(!TxnTable.commit(r, 0, m), "version 0 must already be taken")
    assert(TxnTable.commit(r, 1, m.copy(version = 1)))
    assert(!TxnTable.commit(r, 1, m.copy(version = 1)))
    assert(TxnTable.latestVersion(r) == 1)
  }

  test("manifest JSON round-trips schema DDL with commas and NOT NULL") {
    val (r, _) = mkTable("manifest")
    val m = TxnTable.readManifest(r, 0)
    assert(m.version == 0 && m.keyCol == "k" && m.shards == 8)
    assert(m.schemaDdl.contains("k") && m.schemaDdl.contains("v") &&
      m.schemaDdl.contains(","), m.schemaDdl)
    assert(m.files.nonEmpty && m.files.forall(f => f.nRows > 0 && f.minK <= f.maxK))
    // files must carry DISJOINT contiguous key ranges under the pinned layout
    val sorted = m.files.sortBy(_.minK)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxK < b.minK, s"overlap: $a vs $b")
      case _ => ()
    }
    assert(sorted.map(_.nRows).sum == 1000)
  }

  test("transact rebases after a planted conflict and lands the serial result") {
    val (r, _) = mkTable("rebase")
    // sneak a competing commit in via the beforeCommit seam: the first
    // attempt must then lose its link race and retry against v1
    var sneaked = false
    val (v, conflicts) = TxnTable.transact(spark, r, "bump",
      snap => snap.withColumn("v", col("v") + 1),
      beforeCommit = () => if (!sneaked) {
        sneaked = true
        TxnTable.transact(spark, r, "sneak",
          snap => snap.withColumn("v", col("v") * 2))
      })
    assert(conflicts == 1, s"expected exactly one conflict, got $conflicts")
    assert(v == 2 && TxnTable.latestVersion(r) == 2)
    // serial result: sneak (×2) first, then bump (+1) rebased on top
    val got = TxnTable.readVersion(spark, r, 2)
      .agg(sum(col("v"))).head().getLong(0)
    val want = spark.range(1000)
      .select((col("id") * 3 % 101 * 2 + 1).as("v"))
      .agg(sum("v")).head().getLong(0)
    assert(got == want, s"lost update: $got != $want")
    // the loser's orphan attempt dir must be gone: data/ holds exactly
    // one attempt dir per committed version
    val dataDirs = new java.io.File(s"$r/data").listFiles().filter(_.isDirectory)
    assert(dataDirs.length == 3, dataDirs.map(_.getName).mkString(","))
  }

  test("time travel: historical versions read back unchanged after later commits") {
    val (r, df) = mkTable("timetravel")
    TxnTable.transact(spark, r, "del", snap => snap.where(col("k") % 2 === 0))
    TxnTable.transact(spark, r, "bump", snap => snap.withColumn("v", col("v") + 7))
    assert(TxnTable.readVersion(spark, r, 0).count() == 1000)
    assert(TxnTable.readVersion(spark, r, 0).exceptAll(df).count() == 0)
    assert(TxnTable.readVersion(spark, r, 1).count() == 500)
    val v2 = TxnTable.readVersion(spark, r, 2)
    assert(v2.count() == 500 &&
      v2.agg(min(col("v"))).head().getLong(0) >= 7L)
  }

  test("prunedRead opens a strict file subset and loses no matching row") {
    val (r, df) = mkTable("pruned", n = 4000, shards = 16)
    val (lo, hi) = (1000L, 1240L)
    val (pruned, nRead, nTotal) = TxnTable.prunedRead(spark, r, 0, lo, hi)
    assert(nRead < nTotal, s"no pruning: $nRead of $nTotal")
    val got = pruned.where(col("k").between(lo, hi))
      .agg(count(lit(1)), sum("k")).head()
    val want = df.where(col("k").between(lo, hi))
      .agg(count(lit(1)), sum("k")).head()
    assert(got == want, s"pruning dropped matches: $got vs $want")
    // completeness at the edges: a probe exactly on a file boundary
    val m = TxnTable.readManifest(r, 0)
    val edge = m.files.sortBy(_.minK).apply(1).minK
    val (pe, _, _) = TxnTable.prunedRead(spark, r, 0, edge, edge)
    assert(pe.where(col("k") === edge).count() == 1)
  }

  test("optimize compacts files under the log; data and history unchanged") {
    val (r, df) = mkTable("optimize", n = 4000, shards = 32)
    val (v, conflicts) = TxnTable.optimize(spark, r, 4)
    assert(v == 1 && conflicts == 0)
    assert(TxnTable.readManifest(r, 0).files.size == 32)
    assert(TxnTable.readManifest(r, 1).files.size == 4)
    val v1 = TxnTable.readVersion(spark, r, 1)
    assert(v1.exceptAll(df).count() == 0 && df.exceptAll(v1).count() == 0)
    // v0 still reads from its own immutable files after the rewrite
    assert(TxnTable.readVersion(spark, r, 0).exceptAll(df).count() == 0)
  }

  test("vacuum removes only unreferenced attempt dirs, and is idempotent") {
    val (r, _) = mkTable("vacuum")
    TxnTable.transact(spark, r, "bump", snap => snap.withColumn("v", col("v") + 1))
    // crash a writer between data write and commit (the real code path)
    intercept[RuntimeException] {
      TxnTable.transact(spark, r, "crash",
        snap => snap.withColumn("v", col("v") * 2),
        beforeCommit = () => throw new RuntimeException("died"))
    }
    val dataDirs = () =>
      new java.io.File(s"$r/data").listFiles().filter(_.isDirectory)
    assert(dataDirs().length == 3, "orphan attempt dir must exist pre-vacuum")
    // a too-young orphan is protected by the age gate (live-writer guard)
    assert(TxnTable.vacuum(r) == 0)
    val referenced = (0 to TxnTable.latestVersion(r)).flatMap(v =>
      TxnTable.readManifest(r, v).files.map(_.path.split('/')(1))).toSet
    dataDirs().filter(d => !referenced.contains(d.getName))
      .foreach(_.setLastModified(System.currentTimeMillis() - 7200000L))
    assert(TxnTable.vacuum(r) == 1)
    assert(TxnTable.vacuum(r) == 0, "second vacuum must find nothing")
    assert(dataDirs().length == 2)
    // committed versions untouched
    assert(TxnTable.readVersion(spark, r, 0).count() == 1000)
    assert(TxnTable.readVersion(spark, r, 1).count() == 1000)
  }

  test("changes classifies insert/delete/update/unchanged exactly") {
    val (r, _) = mkTable("changes", n = 100)
    TxnTable.transact(spark, r, "mix", { snap =>
      val kept = snap.where(col("k") =!= 0) // delete k=0
      val updated = kept.withColumn("v",
        when(col("k") === 1, col("v") + 100).otherwise(col("v"))) // update k=1
      updated.unionByName( // insert k=-1
        spark.range(1).select(lit(-1L).as("k"), lit(7L).as("v")))
    })
    val byType = TxnTable.changes(spark, r, 0, 1, "v")
      .groupBy("change_type").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byType == Map(
      "insert" -> 1L, "delete" -> 1L, "update" -> 1L, "unchanged" -> 98L),
      byType.toString)
  }

  test("schema evolution: each version reads back with its own pinned schema") {
    val (r, _) = mkTable("evolve")
    TxnTable.transact(spark, r, "widen",
      snap => snap.withColumn("w", col("k") % 2))
    assert(TxnTable.readVersion(spark, r, 0).columns.toSeq == Seq("k", "v"),
      "time travel to v0 must NOT surface the later column")
    assert(TxnTable.readVersion(spark, r, 1).columns.toSeq == Seq("k", "v", "w"))
    // a later commit composes on the evolved schema
    TxnTable.transact(spark, r, "use_w",
      snap => snap.withColumn("v", col("v") + col("w")))
    assert(TxnTable.readVersion(spark, r, 2).columns.toSeq == Seq("k", "v", "w"))
  }

  test("append commits O(batch) delta manifests with periodic full checkpoints") {
    val r = root("append")
    TxnTable.createEmpty(spark, r, "k BIGINT,v BIGINT", "k", 8, 1000L)
    (0 until 6).foreach { i =>
      val batch = spark.range(i * 100L, i * 100L + 100L)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      val (ver, conflicts) = TxnTable.append(spark, r, batch, s"b$i")
      assert(ver == i + 1 && conflicts == 0)
    }
    // raw shape: v0 full (create), v4 full (checkpoint), rest delta
    (0 to 6).foreach { v =>
      val raw = TxnTable.readManifestRaw(r, v)
      if (v == 0 || v == 4) assert(raw.deltaOf == -1, s"v$v must be full")
      else assert(raw.deltaOf == v - 1, s"v$v must be a delta of ${v - 1}")
    }
    // a delta's on-disk files are ONLY its adds; resolution accumulates
    assert(TxnTable.readManifestRaw(r, 6).files.map(_.nRows).sum == 100)
    assert(TxnTable.readManifest(r, 6).files.map(_.nRows).sum == 600)
    // resolve depth bounded by the checkpoint: v6 -> v5 -> v4(full)
    assert(TxnTable.resolveDepth(r, 6) == 3)
    assert(TxnTable.resolveDepth(r, 4) == 1)
    // reads are exact through the chain, mid-chain and at the head
    assert(TxnTable.readVersion(spark, r, 3).count() == 300)
    val head = TxnTable.readVersion(spark, r, 6)
    assert(head.count() == 600)
    assert(head.agg(sum("v")).head().getLong(0) == (0L until 600L).map(_ * 2).sum)
    // the committedOp ledger sees every append's txn id, and only those
    assert((0 until 6).forall(i => TxnTable.committedOp(r, s"b$i")))
    assert(!TxnTable.committedOp(r, "b6"))
  }

  test("pruned read through a delta chain uses the appended files' stats") {
    val r = root("appendprune")
    TxnTable.createEmpty(spark, r, "k BIGINT,v BIGINT", "k", 8, 800L)
    (0 until 4).foreach { i =>
      val batch = spark.range(i * 200L, i * 200L + 200L)
        .select(col("id").as("k"), lit(1L).as("v"))
      TxnTable.append(spark, r, batch, s"b$i")
    }
    val (pruned, nRead, nTotal) = TxnTable.prunedRead(spark, r, 4, 450L, 480L)
    assert(nRead < nTotal, s"no pruning: $nRead of $nTotal")
    assert(pruned.where(col("k").between(450, 480)).count() == 31)
  }

  test("deleteRange rewrites only stat-overlapping files and carries the rest by path") {
    val (r, df) = mkTable("surgical", n = 1600, shards = 8)
    val v0Paths = TxnTable.readManifest(r, 0).files.map(_.path).toSet
    assert(v0Paths.size == 8)
    // [450, 520] lies inside the 400-599 shard: exactly 1 file touched
    val (v, nRw, nCar) = TxnTable.deleteRange(spark, r, 450L, 520L)
    assert(v == 1 && nRw == 1 && nCar == 7, s"got ($v, $nRw, $nCar)")
    val m1 = TxnTable.readManifest(r, 1)
    assert(m1.files.map(_.path).count(v0Paths.contains) == 7,
      "carried files must be the v0 paths, not rewrites")
    val back = TxnTable.readVersion(spark, r, 1)
    assert(back.count() == 1600 - 71)
    // boundary rows of the rewritten files survive exactly
    assert(back.where(col("k").isin(449L, 521L)).count() == 2)
    assert(back.where(col("k").between(450, 520)).count() == 0)
    // v0 reads back intact
    assert(TxnTable.readVersion(spark, r, 0).count() == 1600)
    // a range no file's stats overlap is a stats-proven no-op: no commit
    val (v2, nRw2, nCar2) = TxnTable.deleteRange(spark, r, 5000L, 6000L)
    assert(v2 == 1 && nRw2 == 0 && nCar2 == m1.files.size)
    assert(TxnTable.latestVersion(r) == 1)
  }

  test("mergeRange upserts a clustered band, rewriting only its files") {
    // sparse even keys so the band has real holes to insert into
    val r = root("merge")
    val df = spark.range(800).select(
      (col("id") * 2).as("k"), (col("id") % 101).as("v"))
    TxnTable.create(spark, r, df, "k", 8)
    val v0Paths = TxnTable.readManifest(r, 0).files.map(_.path).toSet
    // band [400, 499] sits inside one ~200-key shard: updates on the
    // 50 existing evens, inserts at the 50 odd holes
    val source = spark.range(400L, 500L, 2)
      .select(col("id").as("k"), lit(-5L).as("v"))
      .unionByName(spark.range(401L, 500L, 2)
        .select(col("id").as("k"), lit(-9L).as("v")))
    val (v, nRw, nCar) = TxnTable.mergeRange(spark, r, source)
    assert(v == 1 && nRw == 1 && nCar == 7, s"got ($v, $nRw, $nCar)")
    assert(TxnTable.readManifest(r, 1).files.map(_.path)
      .count(v0Paths.contains) == 7)
    val back = TxnTable.readVersion(spark, r, 1)
    assert(back.count() == 850)
    assert(back.where(col("v") === -5L).count() == 50, "matched updates")
    assert(back.where(col("v") === -9L).count() == 50, "unmatched inserts")
    // a key outside the band keeps its original value
    assert(back.where(col("k") === 600L).head().getLong(1) == 300L % 101)
    // v0 intact
    assert(TxnTable.readVersion(spark, r, 0).where(col("v") < 0).count() == 0)
  }

  test("expireVersions checkpoints the boundary and ends time travel at it") {
    val (r, _) = mkTable("retention")
    TxnTable.transact(spark, r, "bump", s => s.withColumn("v", col("v") + 1))
    // make v2 a DELTA so expiry must checkpoint the boundary to survive
    TxnTable.append(spark, r,
      spark.range(1000L, 1100L).select(col("id").as("k"), lit(0L).as("v")),
      "tail", checkpointEvery = 100)
    assert(TxnTable.readManifestRaw(r, 2).deltaOf == 1)
    assert(TxnTable.expireVersions(r, 2) == 2)
    assert(TxnTable.versions(r) == Seq(2))
    // boundary manifest is now self-contained full
    assert(TxnTable.readManifestRaw(r, 2).deltaOf == -1)
    val back = TxnTable.readVersion(spark, r, 2)
    assert(back.count() == 1100)
    assert(back.agg(sum("v")).head().getLong(0) ==
      (0L until 1000L).map(_ * 3 % 101 + 1).sum)
    intercept[java.nio.file.NoSuchFileException] {
      TxnTable.readManifest(r, 0)
    }
    // vacuum (backdated) reclaims exactly the two expired attempt dirs
    val dataDir = new java.io.File(s"$r/data")
    val referenced = TxnTable.readManifest(r, 2).files
      .map(_.path.split('/')(1)).toSet
    dataDir.listFiles().filter(d => !referenced.contains(d.getName))
      .foreach(_.setLastModified(System.currentTimeMillis() - 7200000L))
    assert(TxnTable.vacuum(r) == 1, "v0's dir is unreferenced (v1 bump rewrote all; v2 carries v1+tail)")
  }

  test("z-order layout prunes a 2D box on both dimensions, losing no row") {
    val r = root("zorder")
    // two independent uniform dims: a 2D box is unselective for any 1D
    // range layout but tight for a z-order layout
    val df = spark.range(4096).select(
      (col("id") % 64).as("x"), expr("id div 64").as("y"))
    TxnTable.createZordered(spark, r, df, "x", "y", bits = 6, shards = 16)
    val m = TxnTable.readManifest(r, 0)
    assert(m.keyCol2 == "y")
    assert(m.files.forall(f => f.minK2 >= 0 && f.maxK2 <= 63))
    val (pruned, nRead, nTotal) =
      TxnTable.prunedRead2D(spark, r, 0, 10, 20, 10, 20)
    assert(nRead < nTotal, s"no 2D pruning: $nRead of $nTotal")
    val got = pruned
      .where(col("x").between(10, 20) && col("y").between(10, 20)).count()
    assert(got == 121, s"2D pruning dropped matches: $got != 121")
    // on a 1D layout the same call prunes only dimension 1 (sentinels)
    val r1 = root("zorder1d")
    TxnTable.create(spark, r1, df, "x", 16)
    val (p1, n1, _) = TxnTable.prunedRead2D(spark, r1, 0, 10, 20, 10, 20)
    assert(p1.where(col("x").between(10, 20) && col("y").between(10, 20))
      .count() == 121)
    assert(nRead <= n1, s"z-order must not read more than 1D: $nRead vs $n1")
  }

  test("append null-fills nullable columns a lagging batch lacks; unknown/NOT NULL fail loudly") {
    val (r, _) = mkTable("lagging")
    TxnTable.transact(spark, r, "widen",
      snap => snap.withColumn("w", when(col("k") % 2 === 0, lit("even"))))
    // old-shape batch: w null-fills
    TxnTable.append(spark, r,
      spark.range(1000L, 1100L).select(col("id").as("k"), lit(7L).as("v")), "old")
    val back = TxnTable.readVersion(spark, r, 2)
    assert(back.where(col("k") >= 1000 && col("w").isNull).count() == 100)
    assert(back.where(col("w") === "even").count() == 500)
    // a column the table lacks is rejected
    val e1 = intercept[IllegalArgumentException] {
      TxnTable.append(spark, r, spark.range(1)
        .select(col("id").as("k"), lit(0L).as("v"), lit(1L).as("zz")), "bad")
    }
    assert(e1.getMessage.contains("zz"), e1.getMessage)
    // the key column is structural and can never be null-filled
    val e2 = intercept[IllegalArgumentException] {
      TxnTable.append(spark, r, spark.range(1).select(col("id").as("v")), "bad2")
    }
    assert(e2.getMessage.contains("key column k"), e2.getMessage)
  }

  test("versionAsOf resolves wall-clock instants to the commits they follow") {
    val (r, _) = mkTable("tstravel")
    val t0 = System.currentTimeMillis(); Thread.sleep(5)
    TxnTable.transact(spark, r, "bump", s => s.withColumn("v", col("v") + 1))
    val t1 = System.currentTimeMillis(); Thread.sleep(5)
    TxnTable.transact(spark, r, "bump2", s => s.withColumn("v", col("v") + 1))
    val t2 = System.currentTimeMillis()
    assert(TxnTable.versionAsOf(r, t0) == 0)
    assert(TxnTable.versionAsOf(r, t1) == 1)
    assert(TxnTable.versionAsOf(r, t2) == 2)
    // before the table existed: loud error, not version -1
    intercept[IllegalArgumentException] { TxnTable.versionAsOf(r, t0 - 60000) }
  }

  test("a pruned read PLANS over exactly the kept files (not just fewer rows)") {
    val (r, _) = mkTable("planprune", n = 4000, shards = 16)
    val (pruned, nRead, nTotal) = TxnTable.prunedRead(spark, r, 0, 1000L, 1240L)
    assert(nRead < nTotal)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.isDefined, "pruned read must plan as a file scan")
    assert(scan.get.relation.location.inputFiles.length == nRead,
      s"scan lists ${scan.get.relation.location.inputFiles.length} files, " +
        s"manifest pruning kept $nRead — the file list must BE the pruned list")
  }

  test("stats-inline write matches the declarative read-back twin exactly (r15)") {
    val r = root("inlinestats")
    TxnTable.createEmpty(spark, r, "k BIGINT,t BIGINT,s STRING", "k", 4, 1000L,
      statsCols = Seq("t", "s"), statsTypes = Seq("long", "string"))
    TxnTable.setCheck(spark, r, "k >= 0")
    // a long lane with nulls, a string lane, keys spanning all shards
    TxnTable.append(spark, r, spark.range(1000).select(
      col("id").as("k"),
      when(col("id") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("id") * 13 % 997).as("t"),
      concat(lit("doc-"), col("id")).as("s")), "batch")
    val m = TxnTable.readManifest(r, TxnTable.latestVersion(r))
    val added = m.files
    assert(added.nonEmpty && added.forall(_.bloom.length == 2))
    // the DECLARATIVE twin: the read-back aggregate, replayed over the
    // very files the writer produced — every stat the manifest carries
    // must match it bit-for-bit
    TxnStatsTwin.assertMatches(spark, r, m, added)
    // CHECK enforcement: the violating batch is counted exactly,
    // rejected with the same message, and its attempt dir is cleaned
    val before = TxnTable.latestVersion(r)
    val e = intercept[IllegalArgumentException] {
      TxnTable.append(spark, r, spark.range(3)
        .select((-col("id") - 1).as("k"), lit(1L).as("t"),
          lit("x").as("s")), "bad")
    }
    assert(e.getMessage.contains("CHECK constraint (k >= 0) violated by 3 row(s)"),
      e.getMessage)
    assert(TxnTable.latestVersion(r) == before, "rejected commit must not land")
    // a per-file sum outside the Long range stores the unknown sentinel
    val r2 = root("inlinesum")
    TxnTable.createEmpty(spark, r2, "k BIGINT,t BIGINT", "k", 1, 10L,
      statsCols = Seq("t"))
    TxnTable.append(spark, r2, spark.range(4).select(col("id").as("k"),
      lit(Long.MaxValue / 2).as("t")), "big")
    val f2 = TxnTable.readManifest(r2, 1).files.head
    assert(f2.vcnt == Seq(-1L) && f2.vsum == Seq(0L),
      s"overflowed sum must decline, got $f2")
  }

  test("an all-null second-column batch gets sentinel stats, not a crash") {
    val r = root("nullk2")
    val df = spark.range(256).select(
      (col("id") % 16).as("x"), expr("id div 16").as("y"))
    TxnTable.createZordered(spark, r, df, "x", "y", bits = 4, shards = 4)
    TxnTable.append(spark, r, spark.range(20)
      .select((col("id") + 100L).as("x"), lit(null).cast("long").as("y")),
      "lagging_nulls")
    val added = TxnTable.readManifest(r, 1).files
      .filterNot(TxnTable.readManifest(r, 0).files.toSet)
    assert(added.nonEmpty)
    assert(added.forall(f =>
      f.minK2 == Long.MinValue && f.maxK2 == Long.MaxValue),
      "all-null k2 files must carry prune-nothing sentinels")
    // a 2D probe keeps the sentinel file: soundness over selectivity
    val (pruned, _, _) = TxnTable.prunedRead2D(spark, r, 1, 100, 119, 5, 6)
    assert(pruned.where(col("x").between(100, 119)).count() == 20)
  }

  test("CHECK constraint: set validates existing rows; writers reject violations") {
    val (r, _) = mkTable("check")
    // existing data violates a too-strict constraint: set refuses
    intercept[IllegalArgumentException] {
      TxnTable.setCheck(spark, r, "v > 1000")
    }
    assert(TxnTable.latestVersion(r) == 0, "refused set must mint nothing")
    TxnTable.setCheck(spark, r, "v >= 0")
    // conforming write passes; constraint rides the new head manifest
    TxnTable.transact(spark, r, "bump", s => s.withColumn("v", col("v") + 1))
    assert(TxnTable.readManifestRaw(r, 2).checkExpr == "v >= 0")
    // violating write rejected BEFORE any file lands; no version minted
    intercept[IllegalArgumentException] {
      TxnTable.transact(spark, r, "bad", s => s.withColumn("v", col("v") - 99999))
    }
    assert(TxnTable.latestVersion(r) == 2)
    // NULL passes (standard SQL CHECK semantics)
    TxnTable.append(spark, r, spark.range(1)
      .select(lit(2000L).as("k"), lit(null).cast("long").as("v")), "nullrow")
    assert(TxnTable.latestVersion(r) == 3)
  }

  test("addsBetween yields exactly the new rows, across checkpoint manifests") {
    val r = root("adds")
    TxnTable.createEmpty(spark, r, "k BIGINT,v BIGINT", "k", 8, 600L)
    (0 until 6).foreach { i =>
      TxnTable.append(spark, r, spark.range(i * 100L, i * 100L + 100L)
        .select(col("id").as("k"), lit(i.toLong).as("v")), s"b$i")
    }
    // v3 -> v6 crosses the v4 full checkpoint; diff is by path, so the
    // checkpoint must not re-deliver the older files
    val mid = TxnTable.addsBetween(spark, r, 3, 6)
    assert(mid.count() == 300)
    assert(mid.agg(min("k"), max("k")).head() ===
      org.apache.spark.sql.Row(300L, 599L))
    // from before the table's first append: everything
    assert(TxnTable.addsBetween(spark, r, -1, 6).count() == 600)
    // a same-version diff is empty (with schema, not a crash)
    assert(TxnTable.addsBetween(spark, r, 6, 6).columns.toSeq == Seq("k", "v"))
    assert(TxnTable.addsBetween(spark, r, 6, 6).count() == 0)
  }

  // ————— round 10: codec hardening, O(1) metadata, value stats —————

  test("manifest codec round-trips adversarial strings (quotes, backslashes, controls)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val nasty: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(5)), Gen.const("\""), Gen.const("\\"),
      Gen.const("\\\""), Gen.const("\n"), Gen.const("\t"),
      Gen.const("\"version\":9,"), Gen.const("},{\"path\":\"x\""),
      Gen.const("\"check\":\"v > 1\""), Gen.const("\u0001")))
      .map(_.mkString)
    (1 to 60).foreach { i =>
      val s = nasty.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val m = TxnTable.Manifest(3, s"op_$s", "k", s"k BIGINT,c_$s STRING", 8,
        100L, Seq(TxnTable.FileEntry(s"data/v3-ab/p.parquet", 10L, 1L, 9L,
          -2L, 7L, 4096L, Seq(1L, -5L), Seq(3L, 8L),
          dv = s"data/dv-v4-cd/__fid=0_$s", dvRows = 3L)),
        deltaOf = 2, keyCol2 = s, commitMs = 17L, checkExpr = s,
        statsCols = Seq("t", s), txns = Seq("app" -> 4L, s -> 9L),
        renames = Seq(s"p_$s" -> s"l_$s", "cents" -> "amount"),
        dropped = Seq("note", s),
        cdfKind = "files", cdfPath = s"data/v3-ab/_cdf_$s", cdfRows = 2L,
        features = Seq("deletion-vectors", s"feat_$s"),
        // the typed-stats field rides between stats_cols and renames —
        // exactly the span-insertion hazard class this test pins
        statsTypes = Seq("string", s"typ_$s"))
        .copy(files = Seq(TxnTable.FileEntry(s"data/v3-ab/p.parquet", 10L,
          1L, 9L, -2L, 7L, 4096L, Seq(1L, -5L), Seq(3L, 8L),
          dv = s"data/dv-v4-cd/__fid=0_$s", dvRows = 3L,
          bloom = Seq("AAECq/8=", ""))))
      val back = TxnTable.parse(TxnTable.toJson(m))
      assert(back == m, s"round-trip drift at seed $i:\n$back\nvs\n$m")
    }
  }

  // Frozen bytes of the manifest codec's output for a manifest with
  // every field set: quotes, backslashes and non-ASCII in strings, a
  // deletion vector, blooms, vcnt/vsum, mapping, typed stats, identity,
  // txns and an external file. Written before the codec moved to
  // Jackson; the writer must keep producing them byte for byte.
  private val goldenManifest = TxnTable.Manifest(7, "merge \"q\" \\ café", "k",
    "k BIGINT,v BIGINT,name STRING,ts TIMESTAMP", 4, 250L,
    Seq(
      TxnTable.FileEntry("data/v7-ab/__shard=0/part-0.parquet", 10L, -3L, 9L,
        -2L, 7L, 4096L, Seq(1L, -5L, 6L), Seq(3L, 8L, 99L),
        dv = "data/dv-v7-cd/__fid=0", dvRows = 2L,
        bloom = Seq("AAECq/8=", "", "QUJD"), vcnt = Seq(10L, 9L, 10L),
        vsum = Seq(40L, -1L, 500L)),
      TxnTable.FileEntry("/ext/naïve/part-1.parquet", 5L, 10L, 20L,
        bytes = 2048L)),
    deltaOf = 6, keyCol2 = "v", commitMs = 1760000000123L,
    checkExpr = "v >= 0 AND name <> '\"x\\\\y\"' AND name <> 'ü€'",
    statsCols = Seq("v", "name", "ts"), txns = Seq("app-1" -> 4L, "ström" -> 9L),
    renames = Seq("amount" -> "cents", "n\"q" -> "l\\b"),
    dropped = Seq("note", "old\\col"),
    cdfKind = "files", cdfPath = "data/v7-ab/_cdf", cdfRows = 3L,
    features = Seq("bloom-filters", "change-data-feed", "column-mapping",
      "deletion-vectors", "external-files", "identity-columns", "typed-stats"),
    nextId = 42L, statsTypes = Seq("long", "string", "timestamp"),
    identityCol = "id", identityStart = 100L)
  private val goldenJson =
    """{"version":7""" +
      ""","op":"merge \"q\" \\ café","key_col":"k","key""" +
      """_col2":"v","schema":"k BIGINT,v BIGINT,name STRING""" +
      """,ts TIMESTAMP","shards":4,"layout_div":250,"delta_of":6""" +
      ""","commit_ms":1760000000123""" +
      ""","check":"v >= 0 AND name <> '\"x\\\\y\"' AND name <>""" +
      """ 'ü€'","stats_cols":["v","name","ts"]""" +
      ""","stats_types":["long","string","timestamp"]""" +
      ""","renames":[{"p":"amount","l":"cents"},{"p":"n\"q","l":"l\\b"}]""" +
      ""","dropped":["note","old\\col"]""" +
      ""","features":["bloom-filters","change-data-feed","column""" +
      """-mapping","deletion-vectors","external-files","identity""" +
      """-columns","typed-stats"]""" +
      ""","cdf_kind":"files","cdf_path":"data/v7-ab/_cdf","cdf_rows":3""" +
      ""","next_id":42,"identity_col":"id","identity_start":100""" +
      ""","txns":[{"app":"app-1","v":4},{"app":"ström","v":9}]""" +
      ""","files":[{"path":"data/v7-ab/__shard=0/part-0.parquet","n""" +
      """_rows":10,"min_k":-3,"max_k":9,"min_k2":-2,"max_k2":7""" +
      ""","bytes":4096,"vmin":[1,-5,6],"vmax":[3,8,99]""" +
      ""","dv":"data/dv-v7-cd/__fid=0","dv_rows":2""" +
      ""","bloom":["AAECq/8=","","QUJD"],"vcnt":[10,9,10],"vsum":[40,-1""" +
      """,500]},{"path":"/ext/naïve/part-1.parquet","n_rows":5,"min_k":10""" +
      ""","max_k":20,"min_k2":-9223372036854775808""" +
      ""","max_k2":9223372036854775807,"bytes":2048,"vmin":[],"vmax":[]""" +
      ""","dv":"","dv_rows":0,"bloom":[],"vcnt":[],"vsum":[]}]}"""

  test("manifest codec writes the frozen golden bytes and parses them back") {
    assert(TxnTable.toJson(goldenManifest) == goldenJson)
    assert(TxnTable.parse(goldenJson) == goldenManifest)
  }

  test("manifest codec reads control characters in the six-character escape form") {
    // the pre-Jackson writer escaped every control character, tab and
    // newline included, as a backslash, `u` and four hex digits
    val old =
      "{\"version\":1,\"op\":\"op\\u0009with\\u0009tabs\"" +
        ",\"key_col\":\"k\",\"key_col2\":\"\",\"schema\":\"k BIGINT\"" +
        ",\"shards\":1,\"layout_div\":1,\"delta_of\":-1,\"commit_ms\":3" +
        ",\"check\":\"a\\u000ab\\u0009c\",\"stats_cols\":[]" +
        ",\"stats_types\":[],\"renames\":[],\"dropped\":[]" +
        ",\"features\":[],\"cdf_kind\":\"\",\"cdf_path\":\"\"" +
        ",\"cdf_rows\":0,\"next_id\":0,\"identity_col\":\"\"" +
        ",\"identity_start\":0,\"txns\":[],\"files\":[]}"
    assert(TxnTable.parse(old) == TxnTable.Manifest(1, "op\twith\ttabs", "k",
      "k BIGINT", 1, 1L, Nil, commitMs = 3L, checkExpr = "a\nb\tc"))
  }

  test("a torn or incomplete manifest is refused, never read short; unknown file fields are ignored") {
    val m = TxnTable.Manifest(1, "append", "k", "k BIGINT", 2, 10L,
      (0 until 3).map(i => TxnTable.FileEntry(s"data/v1-aa/p$i.parquet", 5L,
        i * 10L, i * 10L + 9L, bytes = 100L)))
    val json = TxnTable.toJson(m)
    (0 until json.length).foreach { n =>
      val torn = scala.util.Try(TxnTable.parse(json.take(n)))
      assert(torn.isFailure,
        s"a $n-char prefix parsed to ${torn.map(_.files.size)} files")
    }
    // so is one with bytes after its closing brace
    assert(scala.util.Try(TxnTable.parse(json + json)).isFailure)
    // and one missing a field of the first format revision
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    Seq("version", "op", "key_col", "key_col2", "schema", "shards",
      "layout_div", "delta_of", "commit_ms", "check", "stats_cols", "txns",
      "files").foreach { k =>
      val t = mapper.readTree(json)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      t.remove(k)
      assert(scala.util.Try(TxnTable.parse(mapper.writeValueAsString(t))).isFailure,
        s"parsed without $k")
    }
    // a file entry carrying a field this reader does not know keeps
    // its file
    val extended = json.replace("\"vsum\":[]},{\"path\":\"data/v1-aa/p2",
      "\"vsum\":[],\"tag\":\"x\"},{\"path\":\"data/v1-aa/p2")
    assert(extended != json)
    assert(TxnTable.parse(extended) == m)
  }

  test("string stat encode: order-preserving under truncation, SQL twin agrees") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // strings engineered around the 8-byte boundary: shared long
    // prefixes, multi-byte UTF-8, empties — the cases where a naive
    // encode breaks monotonicity or drifts from the SQL expression
    val g: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)),
      Gen.alphaNumStr.map(s => "prefix__" + s.take(6)), // 8-byte shared prefix
      Gen.alphaNumStr.map(s => "präfix€" + s.take(4)),  // multi-byte
      Gen.const(""), Gen.const("\u00ff\u00fe"), Gen.const("zzzzzzzzz"))
    val samples = (1 to 120).map(i =>
      g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    // monotone w.r.t. Spark's string order (unsigned UTF-8 byte-wise)
    def byteLt(a: String, b: String): Boolean = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    for (a <- samples; b <- samples if byteLt(a, b))
      assert(TxnTable.encodeStringStat(a) <= TxnTable.encodeStringStat(b),
        s"encode not monotone: '$a' < '$b' but enc flips")
    // the SQL expression the writer folds must agree bit-for-bit with
    // the driver-side probe encode
    import spark.implicits._
    val got = samples.toDF("s")
      .select(TxnTable.statSourceExpr("s", "string").as("e"))
      .collect().map(_.getLong(0))
    val want = samples.map(TxnTable.encodeStringStat)
    assert(got.toSeq == want.toSeq, "SQL encode drifted from the Scala probe")
  }

  test("restore re-points the head at an old snapshot without data movement") {
    val (r, df) = mkTable("restore")
    // 0..399: shard 3 (375..499) keeps survivors, so the rewrite
    // lands a real file (an all-deleted rewrite leaves an empty
    // attempt dir that vacuum correctly reclaims as debris)
    TxnTable.deleteRange(spark, r, 0L, 399L) // v1: the mistake
    TxnTable.transact(spark, r, "bump", _.withColumn("v", col("v") + 1L)) // v2
    val (v3, _) = TxnTable.restore(spark, r, 0)
    assert(v3 == 3)
    assert(TxnTable.readManifest(r, 3).files.map(_.path) ==
      TxnTable.readManifest(r, 0).files.map(_.path), "restore must be metadata-only")
    val head = TxnTable.readVersion(spark, r, 3)
    assert(head.exceptAll(df).count() == 0 && df.exceptAll(head).count() == 0)
    // the mistake history stays readable
    assert(TxnTable.readVersion(spark, r, 1).count() == 600)
    // a restore TO a merge-on-read snapshot restores its vectors
    TxnTable.deleteMor(spark, r, "k < 100") // v4
    TxnTable.purgeDeletes(spark, r)         // v5: clean again
    val (v6, _) = TxnTable.restore(spark, r, 4)
    assert(TxnTable.readManifest(r, v6).files.exists(_.dvRows > 0))
    assert(TxnTable.readVersion(spark, r, v6).count() == 900)
    // vacuum keeps everything the restored head references
    assert(TxnTable.vacuum(r, minAgeMs = 0L) == 0)
    assert(TxnTable.readVersion(spark, r, v6).count() == 900)
  }

  test("shallow clone shares files zero-copy and diverges copy-on-write") {
    val (src, df) = mkTable("clonesrc")
    TxnTable.deleteMor(spark, src, "k % 10 = 9") // clone carries vectors too
    val dst = root("clonedst")
    TxnTable.shallowClone(src, dst)
    assert(!new java.io.File(s"$dst/data").exists(), "clone must copy nothing")
    val cloneHead = TxnTable.readVersion(spark, dst, 0)
    assert(cloneHead.count() == 900, "the clone reads the source's vectors")
    // clone DML never touches the source
    TxnTable.deleteRange(spark, dst, 0L, 99L)
    TxnTable.append(spark, dst,
      df.where(col("k") < 10).select((col("k") + 5000L).as("k"), col("v")),
      "clone_batch")
    assert(TxnTable.readVersion(spark, src,
      TxnTable.latestVersion(src)).count() == 900)
    assert(TxnTable.readVersion(spark, dst,
      TxnTable.latestVersion(dst)).count() == 820)
    // the clone's own vacuum sees only local dirs; shared refs survive
    assert(TxnTable.vacuum(dst, minAgeMs = 0L) == 0)
    assert(TxnTable.readVersion(spark, dst,
      TxnTable.latestVersion(dst)).count() == 820)
    // pruning works through absolute references
    val (pruned, kept, total) = TxnTable.prunedRead(spark, dst,
      TxnTable.latestVersion(dst), 200L, 299L)
    assert(kept < total && pruned.where(col("k").between(200, 299))
      .count() == 90)
  }

  test("a lost append race reuses its staged files; a schema race restages") {
    val (r, df) = mkTable("appendreuse", n = 500)
    // plant a competing append inside the contender's pre-commit gap
    var planted = false
    TxnTable.append(spark, r,
      df.where(col("k") < 10).select((col("k") + 1000L).as("k"), col("v")),
      "contender",
      beforeCommit = () => if (!planted) {
        planted = true
        TxnTable.append(spark, r,
          df.where(col("k") < 5).select((col("k") + 2000L).as("k"), col("v")),
          "sneak")
      })
    assert(TxnTable.latestVersion(r) == 2)
    // one data dir per actual write: create + sneak + contender = 3
    val dirs = Option(new java.io.File(s"$r/data").listFiles())
      .getOrElse(Array.empty).count(_.isDirectory)
    assert(dirs == 3, s"the losing append must not rewrite its batch ($dirs dirs)")
    assert(TxnTable.readVersion(spark, r, 2).count() == 515)
    assert(TxnTable.vacuum(r, minAgeMs = 0L) == 0)
    // a concurrent SCHEMA change invalidates the staged attempt: the
    // retry must restage under the widened schema, not reuse
    var planted2 = false
    TxnTable.append(spark, r,
      df.where(col("k") < 3).select((col("k") + 3000L).as("k"), col("v")),
      "contender2",
      beforeCommit = () => if (!planted2) {
        planted2 = true
        TxnTable.addColumn(spark, r, "w", "BIGINT")
      })
    val head = TxnTable.readVersion(spark, r, TxnTable.latestVersion(r))
    assert(head.columns.toSeq == Seq("k", "v", "w"))
    assert(head.where(col("k") >= 3000L).count() == 3)
    // the abandoned narrow staging was cleaned EAGERLY by the restage
    assert(TxnTable.vacuum(r, minAgeMs = 0L) == 0)
  }

  test("feature gate: manifests self-describe; unknown features refuse") {
    val (r, _) = mkTable("featgate")
    assert(TxnTable.readManifestRaw(r, 0).features.isEmpty)
    TxnTable.deleteMor(spark, r, "k = 1")
    assert(TxnTable.readManifestRaw(r, 1).features ==
      Seq("change-data-feed", "deletion-vectors"))
    TxnTable.purgeDeletes(spark, r)
    assert(TxnTable.readManifestRaw(r, 2).features.isEmpty,
      "a purged snapshot uses no gated feature")
    val dst = root("featgate_clone")
    TxnTable.shallowClone(r, dst)
    assert(TxnTable.readManifestRaw(dst, 0).features ==
      Seq("external-files"))
  }

  test("identity watermark survives rewrites and never rolls back") {
    val r = root("identity")
    TxnTable.createEmpty(spark, r, "id BIGINT,v BIGINT", "id", 4, 10000L)
    import spark.implicits._
    val (_, _, f1, n1) = TxnTable.appendWithIdentity(spark, r,
      Seq(10L, 20L, 30L).toDF("v"), "id", "a")
    assert(f1 == 0L && n1 == 3L)
    // a plain append and an optimize both carry the watermark
    TxnTable.append(spark, r, Seq((100L, 1L)).toDF("id", "v"), "plain")
    TxnTable.optimize(spark, r, 4)
    val (_, _, f2, n2) = TxnTable.appendWithIdentity(spark, r,
      Seq(40L, 50L).toDF("v"), "id", "b")
    assert(f2 == 3L && n2 == 2L, s"watermark lost: next batch began at $f2")
    // restore never rolls the watermark back
    TxnTable.restore(spark, r, 0)
    val (_, _, f3, _) = TxnTable.appendWithIdentity(spark, r,
      Seq(60L).toDF("v"), "id", "c")
    assert(f3 == 5L, s"restore must not re-burn ids (got $f3)")
    val ids = TxnTable.readVersion(spark, r, TxnTable.latestVersion(r))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids sameElements Array(5L), "restored table holds only the new row")
  }

  test("compactSmall rewrites only sub-threshold files; no-op mints nothing") {
    val r = root("compact")
    val big = spark.range(1000).select(col("id").as("k"), col("id").as("v"))
    TxnTable.create(spark, r, big, "k", 4) // v0: 4 files of ~250 rows
    // three micro-appends: 4 shards × 3 batches of tiny files
    (1 to 3).foreach { i =>
      TxnTable.append(spark, r,
        spark.range(1000 + i * 10, 1000 + i * 10 + 8)
          .select(col("id").as("k"), col("id").as("v")),
        s"micro_$i", checkpointEvery = 100)
    }
    val before = TxnTable.readManifest(r, 3)
    val bigPaths = before.files.filter(_.nRows > 50).map(_.path).toSet
    val (v, compacted, carried) = TxnTable.compactSmall(spark, r, 50L)
    assert(v == 4 && carried == bigPaths.size)
    assert(compacted == before.files.size - bigPaths.size && compacted >= 3)
    val after = TxnTable.readManifest(r, 4)
    assert(bigPaths.subsetOf(after.files.map(_.path).toSet),
      "big files must carry by path, untouched")
    assert(after.files.size < before.files.size)
    // content invariant
    assert(TxnTable.readVersion(spark, r, 4).agg(sum("k")).head().getLong(0)
      == TxnTable.readVersion(spark, r, 3).agg(sum("k")).head().getLong(0))
    // nothing qualifies twice over: a re-compact at an impossible
    // threshold mints no version
    assert(TxnTable.compactSmall(spark, r, 0L)._1 == 4)
  }

  test("a probe that prunes every file yields the schema'd empty frame") {
    val (r, _) = mkTable("emptyprobe", n = 1000, shards = 8)
    val (pruned, nRead, nTotal) = TxnTable.prunedRead(spark, r, 0, 5000L, 6000L)
    assert(nRead == 0 && nTotal == 8)
    assert(pruned.columns.toSeq == Seq("k", "v"))
    assert(pruned.count() == 0)
  }

  test("shard layout survives keys near Long.MaxValue (no overflow collapse)") {
    val r = root("hugekeys")
    val top = Long.MaxValue - 10
    val df = spark.range(1000).select(
      (lit(top) - col("id") * (top / 1000)).as("k"), col("id").as("v"))
    TxnTable.create(spark, r, df, "k", 8)
    val m = TxnTable.readManifest(r, 0)
    assert(m.files.size > 1,
      s"huge keys collapsed into ${m.files.size} file(s) — multiply overflowed")
    // pruning at the top of the key domain opens a strict subset
    val (pruned, nRead, nTotal) =
      TxnTable.prunedRead(spark, r, 0, top - top / 100, top)
    assert(nRead < nTotal, s"no pruning at the top: $nRead of $nTotal")
    val want = df.where(col("k") >= top - top / 100).count()
    assert(pruned.where(col("k") >= top - top / 100).count() == want)
  }

  test("CHECK is validated against the rows as WRITTEN; rejected attempt leaves no debris") {
    val (r, _) = mkTable("checkwritten")
    TxnTable.setCheck(spark, r, "v >= 0")
    val dirsBefore =
      new java.io.File(s"$r/data").listFiles().count(_.isDirectory)
    val e = intercept[IllegalArgumentException] {
      TxnTable.append(spark, r, spark.range(5)
        .select((col("id") + 2000L).as("k"), lit(-1L).as("v")), "bad")
    }
    assert(e.getMessage.contains("CHECK constraint"), e.getMessage)
    assert(new java.io.File(s"$r/data").listFiles().count(_.isDirectory)
      == dirsBefore, "rejected batch must clean its own attempt dir")
    assert(TxnTable.latestVersion(r) == 1)
  }

  test("appendTxn ledger: one head read dedups; distinct appIds coexist; ledger rides rewrites") {
    val r = root("ledger")
    TxnTable.createEmpty(spark, r, "k BIGINT,v BIGINT", "k", 4, 1000L)
    def batch(lo: Long) = spark.range(lo, lo + 50)
      .select(col("id").as("k"), lit(1L).as("v"))
    val (v1, _, a1) = TxnTable.appendTxn(spark, r, batch(0), "ingest", 0L)
    assert(v1 == 1 && a1)
    val (v2, _, a2) = TxnTable.appendTxn(spark, r, batch(50), "backfill", 10L)
    assert(v2 == 2 && a2)
    // re-delivery of either writer's txn: skipped, no version minted
    assert(!TxnTable.appendTxn(spark, r, batch(0), "ingest", 0L)._3)
    assert(!TxnTable.appendTxn(spark, r, batch(50), "backfill", 9L)._3)
    assert(TxnTable.latestVersion(r) == 2)
    assert(TxnTable.lastTxnVersion(r, "ingest").contains(0L))
    assert(TxnTable.lastTxnVersion(r, "backfill").contains(10L))
    assert(TxnTable.lastTxnVersion(r, "nobody").isEmpty)
    // the ledger survives a full-rewrite commit (optimize) and a
    // surgical one — every writer carries it forward
    TxnTable.optimize(spark, r, 2)
    assert(TxnTable.lastTxnVersion(r, "ingest").contains(0L))
    TxnTable.deleteRange(spark, r, 0L, 5L)
    assert(TxnTable.lastTxnVersion(r, "backfill").contains(10L))
    assert(!TxnTable.appendTxn(spark, r, batch(0), "ingest", 0L)._3)
    // a NEWER txnVersion from the same appId still applies
    val (v5, _, a5) = TxnTable.appendTxn(spark, r, batch(100), "ingest", 1L)
    assert(a5 && v5 == TxnTable.latestVersion(r))
  }

  test("value-column stats prune a non-key probe; sentinel and pre-stats files stay") {
    val r = root("valstats")
    TxnTable.createEmpty(spark, r, "k BIGINT,t BIGINT,v BIGINT", "k", 4, 400L,
      statsCols = Seq("t"))
    // three ingest-time bands over the full key range
    (0 until 3).foreach { i =>
      TxnTable.append(spark, r, spark.range(400)
        .select(col("id").as("k"), (lit(i * 100L) + col("id") % 100).as("t"),
          lit(i.toLong).as("v")), s"band$i")
    }
    val (pruned, nRead, nTotal) =
      TxnTable.prunedReadBy(spark, r, 3, "t", 100L, 199L)
    assert(nRead < nTotal, s"no value pruning: $nRead of $nTotal")
    assert(pruned.where(col("t").between(100, 199)).count() == 400)
    assert(pruned.where(col("v") =!= 1L).count() == 0,
      "t-band [100,199] is exactly batch 1")
    // an all-null stats column batch gets sentinels and is never skipped
    TxnTable.append(spark, r, spark.range(10)
      .select((col("id") + 1000L).as("k"), lit(null).cast("long").as("t"),
        lit(9L).as("v")), "nulls")
    val m = TxnTable.readManifest(r, 4)
    val nullFiles = m.files.filter(_.vmin.exists(_ == Long.MinValue))
    assert(nullFiles.nonEmpty, "all-null t files must carry sentinels")
    val (p2, _, _) = TxnTable.prunedReadBy(spark, r, 4, "t", 100L, 199L)
    assert(p2.where(col("v") === 9L).count() == 10,
      "sentinel files must survive every probe")
    // key and key2 probes route through the same seam
    val (p3, n3, t3) = TxnTable.prunedReadBy(spark, r, 3, "k", 0L, 50L)
    assert(n3 < t3 && p3.where(col("k") <= 50).count() == 153)
    // a column with no stats fails loudly, never silently scans all
    intercept[IllegalArgumentException] {
      TxnTable.prunedReadBy(spark, r, 3, "v", 0L, 1L)
    }
  }

  test("optimizeZorder re-clusters a committed 1D table; history intact; 2D pruning wins") {
    val r = root("optz")
    val df = spark.range(4096).select(
      (col("id") % 64).as("k"), expr("id div 64").as("c"))
    TxnTable.create(spark, r, df, "k", 64)
    val (_, n1d, _) = TxnTable.prunedRead2D(spark, r, 0, 10, 20, 10, 20)
    val (v, conflicts) = TxnTable.optimizeZorder(spark, r, "c", bits = 6, newShards = 64)
    assert(v == 1 && conflicts == 0)
    val m1 = TxnTable.readManifest(r, 1)
    assert(m1.keyCol2 == "c" && m1.files.forall(f => f.maxK2 <= 63))
    val (p2, n2d, _) = TxnTable.prunedRead2D(spark, r, 1, 10, 20, 10, 20)
    assert(n2d < n1d, s"re-layout must out-prune 1D: $n2d vs $n1d")
    assert(p2.where(col("k").between(10, 20) && col("c").between(10, 20))
      .count() == 121)
    // v0 immutable; v1 content identical to v0
    val v0 = TxnTable.readVersion(spark, r, 0)
    val v1 = TxnTable.readVersion(spark, r, 1)
    assert(v0.exceptAll(v1).count() == 0 && v1.exceptAll(v0).count() == 0)
    // later appends keep carrying both columns' stats
    TxnTable.append(spark, r, spark.range(10)
      .select((col("id") + 100L).as("k"), lit(5L).as("c")), "tail")
    val added = TxnTable.readManifest(r, 2).files
      .filterNot(m1.files.toSet)
    assert(added.nonEmpty && added.forall(f => f.minK2 == 5L && f.maxK2 == 5L))
  }

  test("retention/reader contract: pre-expiry file lists stay readable; boundary content unchanged") {
    val (r, _) = mkTable("readercontract")
    TxnTable.append(spark, r, spark.range(1000L, 1100L)
      .select(col("id").as("k"), lit(0L).as("v")), "d1", checkpointEvery = 100)
    TxnTable.append(spark, r, spark.range(1100L, 1200L)
      .select(col("id").as("k"), lit(0L).as("v")), "d2", checkpointEvery = 100)
    // a reader resolves the head BEFORE expiry (delta chain to v0)
    val preResolved = TxnTable.readManifest(r, 2)
    assert(TxnTable.readManifestRaw(r, 2).deltaOf == 1)
    assert(TxnTable.expireVersions(r, 2) == 2)
    // (a) its pre-expiry file list still reads — expiry deletes no data
    val viaOldList = spark.read.parquet(
      preResolved.files.map(f => s"$r/${f.path}"): _*)
    assert(viaOldList.count() == 1200)
    // (b) the checkpointed boundary resolves to the SAME content
    val post = TxnTable.readManifest(r, 2)
    assert(post.deltaOf == -1)
    assert(post.files.map(_.path).sorted == preResolved.files.map(_.path).sorted,
      "boundary rewrite must be semantically identical")
    // (c) an expired version fails loudly
    intercept[java.nio.file.NoSuchFileException] { TxnTable.readManifest(r, 0) }
    // an already-full boundary skips the in-place rewrite entirely
    val before = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$r/_log/v00000002.json"))
    assert(TxnTable.expireVersions(r, 2) == 0)
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$r/_log/v00000002.json")) == before,
      "full boundary must not be rewritten")
  }

  test("head pointer: O(1) latestVersion heals a trailing head and falls back without one") {
    val (r, _) = mkTable("headptr")
    TxnTable.transact(spark, r, "bump", s => s.withColumn("v", col("v") + 1))
    val head = java.nio.file.Paths.get(s"$r/_log/_head")
    assert(java.nio.file.Files.readString(head).trim == "1")
    // a trailing head (writer died between link and head update) heals
    java.nio.file.Files.writeString(head, "0")
    assert(TxnTable.latestVersion(r) == 1)
    // no head at all: full-listing fallback
    java.nio.file.Files.delete(head)
    assert(TxnTable.latestVersion(r) == 1)
    // corrupt head: fallback, not a crash
    java.nio.file.Files.writeString(head, "not-a-number")
    assert(TxnTable.latestVersion(r) == 1)
  }

  test("dedup-at-ingest: overlapping batches anti-join the live table; replay no-ops") {
    val r = graft.Fs.scratch("spec_txn_dedup")
    TxnTable.createEmpty(spark, r, "k BIGINT,v BIGINT", "k", 2, 100)
    def slice(lo: Int, hi: Int) =
      spark.range(lo, hi + 1).selectExpr("id AS k", "id * 2 AS v")
    def ingest(lo: Int, hi: Int, txn: Long) = {
      val live = TxnTable.readVersion(spark, r,
        TxnTable.latestVersion(r)).select("k")
      TxnTable.appendTxn(spark, r,
        slice(lo, hi).join(live, Seq("k"), "left_anti"), "ing", txn)
    }
    assert(ingest(0, 59, 0)._3)
    assert(ingest(40, 99, 1)._3) // 40..59 re-delivered, deduped
    val head = TxnTable.readVersion(spark, r, TxnTable.latestVersion(r))
    assert(head.count() == 100 &&
      head.agg(countDistinct("k")).head().getLong(0) == 100)
    // whole batch 1 re-delivered under the same txn id: nothing lands
    val (_, _, applied) = TxnTable.appendTxn(spark, r, slice(40, 99), "ing", 1)
    assert(!applied && TxnTable.latestVersion(r) == 2 && head.count() == 100)
  }

  test("concurrent merge query: serial composition, one conflict, three versions") {
    val row = TxnTable.txnConcurrentMerge(spark, sfDir).head()
    assert(row.getAs[Long]("n_versions") == 3L)
    assert(row.getAs[Long]("n_conflicts") == 1L)
    val base = Tables.orders(spark, sfDir)
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")),
        sum(when(col("o_orderkey") % 7 === 0, 10L).otherwise(0L)),
        sum(when(col("o_orderkey") % 13 === 0, 5L).otherwise(0L))).head()
    assert(row.getAs[Long]("sum_cents") ==
      base.getLong(0) + base.getLong(1) + base.getLong(2))
  }

  test("one txn file writer: the parquet builder and write schema live in one file") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def filesWith(needle: String): Seq[String] =
      Files.walk(Paths.get("src/main")).iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filter(p => Files.readString(p).contains(needle))
        .map(_.toString).toSeq
    val writer = Seq(Paths.get("src/main/scala/graft/sources/TxnFileWriter.scala").toString)
    assert(filesWith("new TxnParquetBuilder" + "(") == writer)
    assert(filesWith("ParquetWriteSupport" + ".setSchema") == writer)
    // change files and DV sidecars go through it too: no txn source
    // file hands a frame to Spark's DataFrameWriter
    val txnFiles = Files.list(Paths.get("src/main/scala/graft/sources"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(n => (n.startsWith("Txn") && n.endsWith(".scala")) ||
        n == "MorDml.scala").toSeq
    assert(txnFiles.contains("TxnTable.scala") && txnFiles.contains("MorDml.scala"))
    Seq(".write" + ".parquet(", ".write" + ".partitionBy(").foreach { needle =>
      assert(filesWith(needle).map(Paths.get(_).getFileName.toString)
        .filter(txnFiles.contains).isEmpty, s"$needle in a txn file")
    }
  }
}
