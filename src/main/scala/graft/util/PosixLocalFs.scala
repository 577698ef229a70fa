package graft.util

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The local file system with permissions set in-process. Without
  * Hadoop's native library, [[RawLocalFileSystem.setPermission]] forks
  * a `chmod` for every file and directory a write creates (part files,
  * checksums, task attempt dirs, sidecars). This subclass sets the
  * same bits through `java.nio.file.Files.setPosixFilePermissions`
  * instead, and delegates to Hadoop when the native library is loaded
  * or the bits are not expressible there (the sticky bit, a non-POSIX
  * file store). `src/main/resources/core-site.xml` registers it, with
  * its checksummed and `AbstractFileSystem` siblings below, for the
  * `file` scheme. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (NativeIO.isAvailable || permission.getStickyBit ||
        !PosixRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
        java.nio.file.attribute.PosixFilePermissions.fromString(
          permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
            permission.getOtherAction.SYMBOL))
    ()
  }
}

object PosixRawLocalFileSystem {
  private lazy val posix = java.nio.file.FileSystems.getDefault
    .supportedFileAttributeViews.contains("posix")
}

/** `fs.file.impl`: Hadoop's checksummed [[LocalFileSystem]] over
  * [[PosixRawLocalFileSystem]]. */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (the `AbstractFileSystem` behind `FileContext`,
  * which Spark's streaming checkpoints use) over
  * [[PosixRawLocalFileSystem]]. */
class PosixRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new PosixRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over
  * [[PosixRawLocalFs]]. */
class PosixLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new PosixRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}
