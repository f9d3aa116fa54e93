package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a process per call. Without
  * libhadoop, `RawLocalFileSystem` starts a `chmod` process for every
  * `setPermission` (each file create and each new directory) and a
  * `readlink` process for every `getFileLinkStatus` (each FileContext
  * rename: the checkpoint's WAL and offset commits, the manifest
  * publish). This class answers both through `java.nio` and leaves
  * everything NIO cannot express to Hadoop's own code, so results and
  * mode bits stay those of the stock class. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through NIO's POSIX view. A sticky bit, or a
    * store without a POSIX view, goes to Hadoop's method. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission lists OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** A path that is not a symbolic link has as link status its plain
    * status, which is what Hadoop's method returns for it after
    * `readlink` comes back empty. Links go to Hadoop's method. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `LocalFileSystem` (the FileSystem API's `file:` scheme, with `.crc`
  * checksums) over [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The FileContext API's `file:` scheme: Hadoop's `LocalFs` (checksums
  * over a `DelegateToFileSystem`) over [[GraftRawLocalFileSystem]],
  * with the four overrides of Hadoop's package-private `RawLocalFs`.
  * Like `LocalFs`, it always serves `file:///`, whatever URI it is
  * built for. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults()
      override def getServerDefaults(): FsServerDefaults =
        LocalConfigKeys.getServerDefaults()
      override def isValidName(src: String): Boolean = true
    })
