package graft

/** Local-filesystem helpers for the staging/sink directories the
  * streaming replays and warehouse round-trips use under /tmp, and the
  * one cross-JVM result store ([[materialized]]) behind the qaj models
  * (`ModelStore`), the qap/qcz ANN indexes (`AnnIndex`), the q7b–q7d
  * rec lists (`Recsys`) and the q57/q59/q8d component labels
  * (`Dedup`). */
object Fs {

  /** Per-JVM scratch path: stable within a JVM (sinks are written then
    * read back, and staging memoization keys on the path) but unique
    * across concurrent JVMs — a spec run and a bench run otherwise share
    * literal /tmp names and delete each other's in-flight sinks and
    * checkpoints.
    *
    * CONTRACT: always a LOCAL `/tmp` path — staging code may therefore
    * use `java.io.File` on scratch paths. Listings of caller-supplied
    * table paths (which may be HDFS/S3 URIs) must instead go through
    * [[listDataFiles]], which resolves the path's real filesystem and
    * fails loudly on a missing directory. */
  private val jvmTag: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .takeWhile(_ != '@')
  def scratch(name: String): String = s"/tmp/${name}_$jvmTag"

  /** Age-gated /tmp garbage collection for the cross-JVM staging and
    * store directories: the replay and q3y late-split stagings
    * (`Events`) and, through [[materialized]], each store's
    * version-free stem `graft_<name>_v`, which also reaps stores of
    * older versions and the `.tmp_` dirs of JVMs killed mid-build.
    * Every fixture regeneration or fresh JVM mints a new
    * UUID/fingerprint path and would otherwise strand the previous one
    * forever. The 12 h gate is deliberately wider than a full
    * bench-and-verify run's ~6 h wall clock, so nothing a LIVE session
    * (even a long-lived one, or a concurrent session on another
    * fixture) still references can be deleted under it — only earlier
    * runs' leftovers. Checks the DIRECTORY mtime (creation-time fresh),
    * not the staged files' mtimes, which replay stagers deliberately
    * backdate. */
  def gcStale(prefix: String): Unit = {
    val cutoff = System.currentTimeMillis() - 12L * 3600 * 1000
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && f.lastModified() < cutoff)
      .foreach(f => try deleteRecursively(f.getPath)
        catch { case _: java.io.IOException => () })
  }

  /** Input-file identity + parameters → 8-hex store key of
    * [[materialized]]: size + mtime of each input file — a fixture can
    * be regenerated in place, so a path alone is stale — plus every
    * parameter that shapes the artifact. A changed fixture or parameter
    * changes the key, so a stale materialization can never be read. */
  private[graft] def inputFingerprint(dir: String, files: Seq[String],
      params: Seq[Any]): String = {
    import java.nio.file.{Files, Paths}
    val inputs = files.map { f =>
      val p = Paths.get(dir, f)
      s"$f:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    }
    val key = (Seq(dir) ++ params ++ inputs).mkString("|")
    f"${scala.util.hashing.MurmurHash3.stringHash(key)}%08x"
  }

  /** A result materialized once for every JVM on this host: the store
    * `/tmp/graft_<name>_v<version>_<inputFingerprint(dir, files,
    * params)>`. An existing store is returned at once. Otherwise the
    * stem `graft_<name>_v` is GC'd ([[gcStale]]; the `v` keeps the
    * `ann_ivf` stem off the `ann_ivf_compact` stores), `build` writes the
    * result into a fresh temp dir (which it creates), and the temp is
    * renamed into place atomically, so a reader never sees a partial
    * store. A build that throws leaves no temp behind. When two JVMs
    * race one key, the loser's rename fails: it deletes its temp and
    * returns the winner's store. Bump `version` when the build's code
    * or layout changes; the stem GC reaps the older versions. */
  private[graft] def materialized(name: String, version: Int, dir: String,
      files: Seq[String], params: Seq[Any])(build: String => Unit): String = {
    import java.nio.file.{Files, Paths}
    val stem = s"graft_${name}_v"
    val store = s"/tmp/$stem${version}_${inputFingerprint(dir, files, params)}"
    if (Files.exists(Paths.get(store))) return store
    gcStale(stem)
    val tmp = s"$store.tmp_${java.util.UUID.randomUUID().toString.take(8)}"
    def discardTmp(): Unit =
      try deleteRecursively(tmp) catch { case _: java.io.IOException => () }
    try build(tmp) catch { case e: Throwable => discardTmp(); throw e }
    try Files.move(Paths.get(tmp), Paths.get(store))
    catch { case e: java.io.IOException =>
      discardTmp()
      if (!Files.exists(Paths.get(store))) throw e // not a lost race
    }
    store
  }

  /** Filesystem-correct data-file listing for a table directory: goes
    * through the Hadoop FileSystem resolved FROM the path (so HDFS/S3
    * URIs list remotely instead of `java.io.File` silently returning
    * null/empty on them — which would grade a false `files_before = 0`
    * rather than erroring), and THROWS on a missing directory. Returns
    * the names of files with the given suffix. */
  def listDataFiles(spark: org.apache.spark.sql.SparkSession,
      path: String, suffix: String = ".parquet"): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(graft.sources.ConfCache.sessionConf(spark))
    if (!fs.exists(p))
      throw new java.io.FileNotFoundException(
        s"listDataFiles: $path does not exist on ${fs.getScheme}")
    fs.listStatus(p).toSeq.map(_.getPath.getName).filter(_.endsWith(suffix))
  }

  /** Stage a lost streaming ack: delete checkpoint `ckptDir`'s highest
    * `commits/N`, so the next run re-delivers batch N. */
  def dropLastCommitAck(ckptDir: String): Unit = {
    val commits = new java.io.File(s"$ckptDir/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    require(commits.nonEmpty && commits.last.delete(),
      "could not stage the lost-ack crash window")
    // the local ChecksumFileSystem keeps a .N.crc sidecar; left behind,
    // the re-commit's atomic create trips over it and misreports a
    // concurrent writer
    new java.io.File(s"$ckptDir/commits/.${commits.last.getName}.crc").delete()
  }

  /** Recursive delete that VERIFIES the target is gone. Every caller
    * uses this as a precondition — clearing a sink/checkpoint dir before
    * a streaming run whose results are read back from it — so a silently
    * failed delete would leave stale part-files to be aggregated into
    * the new result with no error anywhere. Individual delete races are
    * tolerated during the walk (another cleaner may win), but if the
    * root still exists afterwards this throws rather than letting the
    * caller run against a dirty directory. */
  def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach { f =>
          try Files.deleteIfExists(f)
          catch { case _: java.io.IOException => () }
        }
      finally walk.close()
      if (Files.exists(p))
        throw new java.io.IOException(
          s"deleteRecursively left $path in place — refusing to run against a dirty dir")
    }
  }
}
