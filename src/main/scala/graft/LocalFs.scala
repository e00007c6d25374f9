package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without the shell fallback. Where
  * `libhadoop.so` is missing, `RawLocalFileSystem` forks `chmod` for every
  * file it creates (data file and `.crc`) and every directory it makes, and
  * `readlink` for every `getFileLinkStatus`, which a FileContext rename
  * calls twice. These two overrides do the same through `java.nio` and
  * defer to the stock code for what `java.nio` cannot express: a sticky
  * bit, a store without POSIX permissions, the status of a symlink, or an
  * error (so a failure raises the stock exception). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!NioRawLocalFileSystem.posix || permission.getStickyBit)
      super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.modeBits(permission.toShort))
      catch {
        case _: java.io.IOException | _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }

  /** For a path that is not a symlink the stock code returns exactly
    * `getFileStatus(f)`; a missing path throws the same
    * `FileNotFoundException` from there. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix = java.nio.file.FileSystems.getDefault
    .supportedFileAttributeViews.contains("posix")

  // PosixFilePermission declares owner r/w/x, group r/w/x, others r/w/x:
  // the nine mode bits from 0400 down to 0001
  private def modeBits(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(p)
    }
    set
  }
}

/** `fs.file.impl`: the checksummed local FileSystem over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext local filesystem
  * (`org.apache.hadoop.fs.local.LocalFs`) over [[NioRawLocalFileSystem]].
  * Spark's streaming checkpoint and state-store files commit through it.
  * Like `LocalFs`, it always serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  /** `org.apache.hadoop.fs.local.RawLocalFs` with the filesystem swapped. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
