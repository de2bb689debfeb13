package graft

import java.net.URI
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.{Files, NoSuchFileException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}

/** Local-filesystem permission handling WITHOUT the per-file subprocess.
  *
  * Hadoop's `RawLocalFileSystem` applies permissions through libhadoop's
  * NativeIO when present and otherwise SHELLS OUT (`fork`+`exec` of
  * `chmod`) — and it sets an explicit permission on EVERY file and
  * directory it creates, so on a deployment without the native library
  * every parquet part file, checksum file, commit marker and checkpoint
  * delta costs one synchronous subprocess on the writing thread
  * (measured here: ~1,000 forks per lifecycle-family query rep; guide
  * §7.3 thread dumps show the committing thread inside
  * `Shell.runCommand`). These subclasses translate the permission bits
  * with `java.nio.file.Files.setPosixFilePermissions` instead — the
  * same syscall path NativeIO would take — and fall back to the stock
  * shell path for anything NIO cannot express (sticky/setuid bits,
  * non-POSIX stores). Behavior is otherwise identical, checksums
  * included: only the mechanism that applies the mode bits changes.
  *
  * Registered via `fs.file.impl` (FileSystem API) and
  * `fs.AbstractFileSystem.file.impl` (FileContext API — structured
  * streaming's checkpoint manager), in the session builders.
  */
object NioLocalFs {
  private val bitOrder = IndexedSeq(
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_EXECUTE)

  /** Apply `permission` to `file` via NIO. Returns false when the
    * permission carries bits POSIX file-permission sets cannot express
    * (sticky/setuid/setgid) so the caller can fall back. A missing file
    * propagates as FileNotFoundException exactly like the shell path. */
  private[graft] def trySetPosix(file: java.io.File, permission: FsPermission): Boolean = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) return false // beyond the 9 posix bits
    val perms = new java.util.HashSet[PosixFilePermission]()
    var i = 0
    while (i < 9) {
      if ((mode & (1 << (8 - i))) != 0) perms.add(bitOrder(i))
      i += 1
    }
    try { Files.setPosixFilePermissions(file.toPath, perms); true }
    catch {
      case e: NoSuchFileException =>
        throw new java.io.FileNotFoundException(e.getFile)
      case _: UnsupportedOperationException => false // non-POSIX store
    }
  }
}

class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!NioLocalFs.trySetPosix(pathToFile(p), permission))
      super.setPermission(p, permission)

  /** The stock implementation shells out `readlink` PER CALL on this
    * platform (no native Stat path) — and structured streaming's
    * checkpoint manager calls this for every checkpoint file it
    * commits. Files that are not symlinks (every file this engine
    * writes) take the plain-status path; actual symlinks keep the
    * stock semantics. */
  override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Drop-in `fs.file.impl`: the stock checksummed local filesystem over
  * the fork-free raw layer. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Drop-in `fs.AbstractFileSystem.file.impl` (FileContext API): the
  * stock `LocalFs` is ChecksumFs over RawLocalFs with the raw
  * filesystem hardcoded, so mirror its two layers over the NIO raw. */
class NioRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false)

class NioLocalFsAbstract(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(uri, conf))
