package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Hadoop's raw local filesystem without its per-call child processes.
  * Without `libhadoop`, `setPermission` runs `chmod` and
  * `getFileLinkStatus` runs `readlink` for every path — every part file,
  * `.crc` file and directory a write creates, and both ends of every
  * checkpoint rename. Both calls are answered in-process here; what the
  * JDK cannot reproduce exactly keeps Hadoop's own path. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The same mode bits through `chmod(2)`. A sticky bit requested, a
    * setuid/setgid/sticky bit already on the path (shell `chmod` keeps a
    * directory's setgid, `chmod(2)` would clear it) or a store without
    * unix attributes goes to Hadoop's shell path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    val current =
      try Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      catch { case _: UnsupportedOperationException => -1 }
    if ((mode & ~0x1ff) != 0 || current < 0 || (current & 0xe00) != 0)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(file, PosixFilePermission.values.zipWithIndex
        .collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }.toSet.asJava)
  }

  /** Hadoop's answer for a path that is not a symlink is its
    * `getFileStatus`; only a real symlink needs `readlink`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local FileSystem (`.crc` files written
  * and verified) over [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext view that Spark's
  * streaming checkpoint manager commits through — Hadoop's `LocalFs`
  * (checksummed, over `RawLocalFs`) with [[GraftRawLocalFileSystem]] as
  * the delegate. The URI is `file:///` whatever `uri` says, as in
  * `LocalFs`. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (package-private) over [[GraftRawLocalFileSystem]]. */
private class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
