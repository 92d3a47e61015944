package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem with permission changes made by a
  * chmod(2) syscall instead of a forked `chmod` process, and link
  * status answered without a forked `readlink` process.
  *
  * Without the native Hadoop library (`libhadoop.so`), Hadoop's
  * `setPermission` runs `chmod` as a child process, and its `create`
  * and `mkdirs` call it for every data file, `.crc` sidecar and
  * directory they make. This override sets the same nine rwx bits
  * through NIO. Hadoop's own path still runs when the native library
  * is loaded (no child process then), for a sticky bit (NIO cannot set
  * it), for a directory carrying a set-id bit (`chmod` with a
  * four-digit mode keeps it, chmod(2) would clear it), and on a
  * filesystem without POSIX permissions. So every mode stays what
  * `chmod` would set.
  *
  * Hadoop's `getFileLinkStatus` runs `readlink` on every call, with or
  * without the native library; `FileContext.rename` (every streaming
  * checkpoint and state-store file) asks it for both of its paths. For
  * a path that is not a symbolic link its answer is `getFileStatus`,
  * so that is what this override gives; only a real link goes to
  * Hadoop.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit ||
        !GraftRawLocalFileSystem.chmod(pathToFile(p).toPath, permission))
      super.setPermission(p, permission)

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object GraftRawLocalFileSystem {
  /** Sets the rwx bits of `perm` on `path`; false when the caller must
    * take Hadoop's path instead (see the class doc). */
  private def chmod(path: NioPath, perm: FsPermission): Boolean =
    try {
      val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      val setIdDir = (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0
      if (setIdDir) false
      else {
        val bits = perm.toShort
        val set = new java.util.HashSet[PosixFilePermission]()
        for (p <- PosixFilePermission.values if (bits & (0x100 >> p.ordinal)) != 0) set.add(p)
        Files.setPosixFilePermissions(path, set)
        true
      }
    } catch { case _: UnsupportedOperationException => false }
}

/** `fs.file.impl` for graft sessions: Hadoop's checksummed local
  * filesystem over [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` for graft sessions: the
  * `FileContext` side (streaming checkpoints and state stores), which
  * otherwise builds Hadoop's `RawLocalFileSystem` itself. The overrides
  * are those of Hadoop's `RawLocalFs`; link status reaches
  * [[GraftRawLocalFileSystem]] through `DelegateToFileSystem`. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed [[GraftRawLocalFs]], as Hadoop's `LocalFs` wraps `RawLocalFs`. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))
