package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the shell forks.
  *
  * Without `libhadoop.so`, `RawLocalFileSystem.setPermission` runs a
  * `chmod` process for every file and directory it creates (`.crc`
  * sidecars included), and `getFileLinkStatus` runs a `readlink`. A
  * streaming trigger creates and renames dozens of checkpoint, staging
  * and data files, so those forks were most of its fixed cost. This
  * class sets the same mode bits through `java.nio`, and answers a
  * non-link's link status with its plain status, which is what
  * `RawLocalFileSystem` returns for it. A sticky bit, a non-POSIX
  * default filesystem or a real symlink still goes to
  * `RawLocalFileSystem`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !NioRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.modeBits(permission.toShort))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission declares owner/group/others × read/write/execute
  // from the high bit of the 9-bit mode down.
  private def modeBits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode & (0x100 >> i)) != 0 => p }
      .toSet.asJava
}

/** The `file:` scheme's `FileSystem`: checksummed like Hadoop's
  * `LocalFileSystem`, over [[NioRawLocalFileSystem]]. A rename onto an
  * existing file returns false rather than replacing it, the guard of
  * the class the scheme resolved to before (Hive's
  * `ProxyLocalFileSystem`).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !pathToFile(dst).isFile && super.rename(src, dst)
}

/** The `file:` scheme's `FileContext` side (checkpoint logs rename
  * through it): Hadoop's `LocalFs` over [[NioRawLocalFileSystem]].
  * `LocalFs` and `RawLocalFs` cannot be subclassed from here (their
  * constructors are package-private), so this rebuilds them.
  * `FileContext` calls the `(URI, Configuration)` constructor; as in
  * `LocalFs`, the URI is always `file:///`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

private class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
