package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without shell forks.
  *
  * Without `libhadoop.so`, the stock `RawLocalFileSystem` forks `chmod`
  * for every file and directory it creates (`setPermission`) and
  * `readlink` for every FileContext rename (`getFileLinkStatus`). Every
  * stream offset/commit-log entry, state-store `.delta` file and `.crc`
  * pays for those child processes. [[GraftRawLocalFileSystem]] does the
  * same two calls through `java.nio`; everything else is the stock class.
  * `GraftSession` registers both wrappers for every session: the
  * FileSystem API ([[GraftLocalFileSystem]]) and the FileContext API
  * ([[GraftLocalFs]], which Spark's stream checkpoints use).
  */
object LocalFs {
  // bit i of the mode, lowest first: others x/w/r, group x/w/r, owner x/w/r
  private val Bits = Array(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
    GROUP_EXECUTE, GROUP_WRITE, GROUP_READ, OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)

  /** The nine permission bits of `mode` as a POSIX permission set. */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode >> i & 1) == 1) out.add(Bits(i))
    out
  }
}

/** `RawLocalFileSystem` with fork-free `setPermission` and
  * `getFileLinkStatus`; a sticky bit, a store without POSIX attributes
  * and a real symlink take the stock path.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission.toShort))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  // the stock code returns exactly getFileStatus(f) for a non-link
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed FileSystem API (`fs.file.impl`) over the graft raw FS. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The raw FileContext API over the graft raw FS; the overrides are the
  * stock `org.apache.hadoop.fs.local.RawLocalFs`'s, whose constructors
  * are package-private.
  */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed FileContext API (`fs.AbstractFileSystem.file.impl`);
  * like the stock `LocalFs` it ignores the URI and serves `file:///`.
  */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))
