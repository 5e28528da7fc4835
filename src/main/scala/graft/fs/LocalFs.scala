package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}

import java.net.URI
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.{FileSystems, Files}

/** `RawLocalFileSystem` without a process per call. Without Hadoop's
  * native library the stock class runs `chmod` for every file and
  * directory it creates and `readlink` for every `getFileLinkStatus`
  * (several per FileContext rename). These two overrides make the same
  * change in-process; everything else, including the `.crc` sidecars of
  * the checksummed wrappers below, is the stock code.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** Same mode bits as `chmod %04o`. Falls back to the stock command for
    * a sticky bit (not expressible as `PosixFilePermission`s), for a
    * target that already has setuid/setgid (GNU chmod keeps them on a
    * directory; chmod(2) would clear them), and where the JVM has no
    * unix attribute view.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || !LocalFs.unixView ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, LocalFs.posixPermissions(permission.toShort))
  }

  /** A path that is not a symlink gets `getFileStatus`, which is what the
    * stock method returns once its `readlink` prints nothing (and it
    * always does for a `file:` path, which `readlink` reads as relative).
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` (whose constructor is not
  * public) over the fork-free raw filesystem.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "") override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the FileContext filesystem (Spark's
  * checkpoint manager), checksummed like `org.apache.hadoop.fs.local.LocalFs`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

object LocalFs {
  private[fs] val unixView: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** The 9 permission bits of a `chmod` mode, in `PosixFilePermission` order. */
  private[fs] def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }

  /** Session confs that route `file:` through the classes above, for both
    * `FileSystem` and `FileContext` callers. The cache switch makes a
    * session conf get these classes even when code that ran before the
    * session (spark-submit resolving `--jars`, say) left a stock `file:`
    * filesystem in Hadoop's JVM-wide cache, at the cost of a new, cheap
    * instance per `FileSystem.get`.
    */
  val sessionConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.file.impl.disable.cache" -> "true",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}
