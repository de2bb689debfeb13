package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** The txn table's log on disk, and the only code that knows where it
  * lives:
  *
  *   root/_log/v{V}.json         version V's manifest, published once
  *   root/_log/_head             advisory pointer to the highest version
  *   root/_refs/<branch>/        a branch: itself a full table root
  *   root/_refs/<branch>/_base   the branch's fork point on main
  *   root/_refs/_tags/<tag>      a tag's pinned main version
  *
  * Its operations are the Delta Lake LogStore's (Armbrust et al., VLDB
  * 2020) over local paths: put-if-absent, replace, read and list. What a
  * manifest means (codec, feature gate, delta chains, commit stamps)
  * stays in [[TxnTable]]. */
private[graft] object TxnLog {

  /** The one root contract: a table root is a plain local path. A root
    * with a URI scheme (`file:`, `hdfs:`, `s3:`) would split the table —
    * its log under a relative java.nio path, its data wherever Hadoop
    * resolves the scheme. Checked on every log access and before any
    * data write. */
  private val UriScheme = "^[A-Za-z][A-Za-z0-9+.-]*:".r
  def requireLocalRoot(root: String): Unit =
    require(UriScheme.findPrefixOf(root).isEmpty,
      s"graft_txn table root must be a local path without a URI scheme: $root")

  private def logDir(root: String): Path = {
    requireLocalRoot(root)
    Paths.get(root, "_log")
  }
  private def logFile(root: String, v: Int) = logDir(root).resolve(f"v$v%08d.json")
  private def headFile(root: String) = logDir(root).resolve("_head")

  /** A table root is a directory holding a log. */
  def isTable(root: String): Boolean =
    new java.io.File(s"$root/_log").isDirectory

  /** The names of the tables directly under `dir`. */
  def tables(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => isTable(f.getPath)).map(_.getName).toSeq

  /** The one name rule for tables, views, branches and tags: no `/`
    * and no `.`, so a name never leaves its directory. */
  def isName(name: String) = name.matches("[a-zA-Z0-9_\\-]+")

  /** Where table `name` lives under `dir`; refuses a name outside the
    * name rule, which [[tableRoot]] would never resolve. */
  def tableDir(dir: String, name: String): String = {
    require(isName(name), s"bad table name '$name'")
    s"$dir/$name"
  }

  /** The root `name` names under `dir`: the table `name`, else the
    * branch of a `<table>__<branch>` name (qev). None when neither
    * exists, and for a name outside the name rule or with an empty
    * branch part. */
  def tableRoot(dir: String, name: String): Option[String] = {
    val i = name.lastIndexOf("__")
    if (!isName(name)) None
    else if (isTable(tableDir(dir, name))) Some(tableDir(dir, name))
    else if (i <= 0 || !isName(name.substring(i + 2))) None
    else Some(branchRoot(s"$dir/${name.substring(0, i)}",
      name.substring(i + 2))).filter(isTable)
  }

  /** Versions whose manifests exist in the log, ascending: an
    * O(versions) listing of tiny names, kept off the hot paths. */
  def versions(root: String): Seq[Int] = {
    val d = logDir(root)
    if (!Files.exists(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json").toInt }
        .toSeq.sorted
      finally s.close()
    }
  }

  /** Highest committed version, or -1 for an empty log. The Delta
    * `_last_checkpoint`-shaped HEAD POINTER makes this O(1): read the
    * advisory head, then walk forward over at-most-the-lag existence
    * probes (a writer can die between its link and its head update, so
    * the pointer may trail by a commit — never lead, since it is
    * written only AFTER a successful link). Falls back to the full
    * listing when no head exists. */
  def latest(root: String): Int = {
    val hf = headFile(root)
    val start = try readPointer(hf).getOrElse(-1) catch { case _: Exception => -1 }
    if (start < 0 || !exists(root, start))
      versions(root).lastOption.getOrElse(-1)
    else {
      var v = start
      while (exists(root, v + 1)) v += 1
      v
    }
  }

  def exists(root: String, v: Int): Boolean = Files.exists(logFile(root, v))

  /** Version `v`'s manifest bytes; throws `NoSuchFileException` when
    * the version was never committed or has expired. */
  def read(root: String, v: Int): String = Files.readString(logFile(root, v))

  /** ATOMIC put-if-absent: the bytes are written under a temp name, then
    * a hard link publishes them (link(2) fails with EEXIST atomically).
    * Returns false, leaving nothing behind, when `v` is already taken. */
  def putIfAbsent(root: String, v: Int, json: String): Boolean = {
    Files.createDirectories(logDir(root))
    val tmp = logDir(root).resolve(
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.writeString(tmp, json)
    try { Files.createLink(logFile(root, v), tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** [[putIfAbsent]], then on a win advance the head pointer. A stale
    * head write can only trail, which [[latest]]'s forward walk heals. */
  def publish(root: String, v: Int, json: String): Boolean = {
    val won = putIfAbsent(root, v, json)
    if (won)
      try replaceAtomically(headFile(root), v.toString)
      catch { case _: java.io.IOException => () }
    won
  }

  /** Rewrite committed version `v` in place (retention's boundary
    * checkpoint): readers see the old bytes or the new, never a mix. */
  def replace(root: String, v: Int, json: String): Unit =
    replaceAtomically(logFile(root, v), json)

  def delete(root: String, v: Int): Unit = Files.delete(logFile(root, v))

  private def refName(name: String): String = {
    require(isName(name), s"bad ref name '$name'")
    name
  }

  /** Branch `name`'s root — a full table root of its own. */
  def branchRoot(root: String, name: String): String =
    s"$root/_refs/${refName(name)}"

  private def baseFile(root: String, branch: String): Path =
    Paths.get(branchRoot(root, branch), "_base")
  private def tagFile(root: String, name: String): Path =
    Paths.get(s"$root/_refs/_tags", refName(name))

  def writeBase(root: String, branch: String, v: Int): Unit =
    replaceAtomically(baseFile(root, branch), v.toString)
  def readBase(root: String, branch: String): Option[Int] =
    readPointer(baseFile(root, branch))

  def writeTag(root: String, name: String, v: Int): Unit = {
    val f = tagFile(root, name)
    Files.createDirectories(f.getParent)
    replaceAtomically(f, v.toString)
  }
  def readTag(root: String, name: String): Option[Int] =
    readPointer(tagFile(root, name))

  /** A pointer file's version (head, tag, branch base); None when the
    * file is absent. */
  private def readPointer(p: Path): Option[Int] =
    if (Files.isRegularFile(p)) Some(Files.readString(p).trim.toInt) else None

  /** Replace a small file through a temp sibling and an atomic move: a
    * reader or a crash sees the old content or the new, never a torn one. */
  private def replaceAtomically(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.writeString(tmp, content)
    try Files.move(tmp, target,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    finally Files.deleteIfExists(tmp)
  }
}
