package graft

/** Local-filesystem helpers for the staging/sink directories the
  * streaming replays and warehouse round-trips use under /tmp. */
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
    * store directories (replay stagings, the q3y late split, the q7
    * rec-list store): every fixture regeneration or fresh JVM mints a
    * new UUID/fingerprint path and would otherwise strand the previous
    * one forever. The 12 h gate is deliberately wider than a full
    * round's ~6 h wall clock, so nothing a LIVE session (even a
    * long-lived one, or a concurrent session on another fixture) still
    * references can be deleted under it — only prior rounds' leftovers.
    * Checks the DIRECTORY mtime (creation-time fresh), not the staged
    * files' mtimes, which replay stagers deliberately backdate. */
  def gcStale(prefix: String, maxAgeMs: Long = 12L * 3600 * 1000): Unit = {
    val cutoff = System.currentTimeMillis() - maxAgeMs
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && f.lastModified() < cutoff)
      .foreach(f => try deleteRecursively(f.getPath)
        catch { case _: java.io.IOException => () })
  }

  /** Input-file identity + parameters → 8-hex store key (the q7c
    * materialization doctrine, shared by the rec-list store, the
    * ModelStore and the component store): size + mtime of each input
    * file — the driver REGENERATES fixtures between rounds, so a path
    * alone is stale — plus every parameter that shapes the artifact. A
    * changed fixture or parameter changes the key, so a stale
    * materialization can never be read. */
  def inputFingerprint(dir: String, files: Seq[String],
      params: Seq[Any]): String = {
    import java.nio.file.{Files, Paths}
    val inputs = files.map { f =>
      val p = Paths.get(dir, f)
      s"$f:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    }
    val key = (Seq(dir) ++ params ++ inputs).mkString("|")
    f"${scala.util.hashing.MurmurHash3.stringHash(key)}%08x"
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
