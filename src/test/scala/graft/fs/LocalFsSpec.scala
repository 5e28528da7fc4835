package graft.fs

import graft.SparkTest
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.security.UserGroupInformation
import org.scalatest.funsuite.AnyFunSuite

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.security.PrivilegedExceptionAction
import java.util.EnumSet
import scala.jdk.CollectionConverters._

/** The fork-free `file:` filesystem against Hadoop's stock
  * `RawLocalFileSystem` / `LocalFs`: each case runs the same calls on
  * both, in sibling directories, and compares what lands on disk.
  */
class LocalFsSpec extends AnyFunSuite with SparkTest {

  private val Local = URI.create("file:///")

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Stock and fork-free `FileSystem` (checksummed) and `FileContext`. */
  private def both(c: Configuration): Seq[(FileSystem, FileContext)] = {
    def fs(f: FileSystem) = { f.initialize(Local, c); f }
    val ours = new Configuration(c)
    ours.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    Seq(
      fs(new LocalFileSystem()) -> FileContext.getFileContext(Local, c),
      fs(new ForkFreeLocalFileSystem) -> FileContext.getFileContext(Local, ours))
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Octal mode, special bits included. */
  private def mode(p: JPath): String =
    f"${Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff}%04o"

  /** `mode` of everything under `root`. */
  private def modes(root: JPath): Map[String, String] =
    Files.walk(root).iterator.asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap

  /** `modes` after `ops` ran on the stock and on the fork-free side. */
  private def onBoth(c: Configuration, prepare: JPath => Unit = _ => ())(
      ops: (FileSystem, FileContext, Path) => Unit): Seq[Map[String, String]] =
    both(c).map { case (fs, fc) =>
      val root = Files.createTempDirectory("localfs")
      prepare(root)
      ops(fs, fc, new Path(root.toUri))
      modes(root)
    }

  test("create and mkdirs set the stock mode bits, .crc sidecars included") {
    // the process umask shapes each file's mode at open(2); the chmod
    // after it must leave the same bits the stock command leaves
    for (umask <- Seq("022", "077")) {
      val Seq(stock, ours) = onBoth(conf(umask)) { (fs, fc, root) =>
        fs.mkdirs(new Path(root, "a/b"))
        fs.mkdirs(new Path(root, "c"), perm("750"))
        fs.create(new Path(root, "a/b/f")).close()
        fs.create(new Path(root, "g"), perm("640"), false, 4096,
          1.toShort, 1L << 20, null).close()
        fs.setPermission(new Path(root, "c"), perm("705"))
        fc.mkdir(new Path(root, "h/i"), FsPermission.getDirDefault, true)
        fc.create(new Path(root, "h/i/j"), EnumSet.of(CreateFlag.CREATE)).close()
      }
      assert(ours == stock, s"umask $umask")
      assert(Set("a/b/.f.crc", ".g.crc", "h/i/.j.crc").subsetOf(ours.keySet))
    }
  }

  test("a directory keeps the setgid bit it inherits, as under the stock chmod") {
    val Seq(stock, ours) = onBoth(conf(), prepare = root =>
        Files.setAttribute(root, "unix:mode", Integer.valueOf(Integer.parseInt("2775", 8)))) {
      (fs, fc, root) =>
        fs.mkdirs(new Path(root, "a/b"))
        fc.mkdir(new Path(root, "c"), FsPermission.getDirDefault, true)
        fs.create(new Path(root, "a/b/f")).close()
    }
    assert(ours == stock)
    assert(ours("a/b") == "2755")
  }

  test("getFileLinkStatus matches on a file, a symlink and a missing path") {
    val dir = Files.createTempDirectory("localfs-link")
    val file = Files.write(dir.resolve("f"), "data".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val missing = dir.resolve("missing")
    val Seq(stock, ours) = Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem)
      .map { fs => fs.initialize(Local, conf()); fs }
    def summary(s: FileStatus) = (s.getPath, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.isDirectory, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    // a bare path reaches the stock `readlink`; a `file:` one does not
    for (p <- Seq(file, link); path <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(summary(ours.getFileLinkStatus(path)) == summary(stock.getFileLinkStatus(path)), path)
    val linkStatus = ours.getFileLinkStatus(new Path(link.toString))
    assert(linkStatus.isSymlink && linkStatus.getSymlink == new Path(file.toUri))
    for (fs <- Seq(stock, ours)) intercept[FileNotFoundException] {
      fs.getFileLinkStatus(new Path(missing.toString))
    }
    for ((_, fc) <- both(conf())) {
      assert(!fc.getFileLinkStatus(new Path(file.toUri)).isSymlink)
      intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(missing.toUri)))
    }
  }

  test("FileContext rename with OVERWRITE replaces the target; the .crc sidecars still verify") {
    def write(fc: FileContext, p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
    def read(fc: FileContext, p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    val Seq(stock, ours) = onBoth(conf()) { (_, fc, root) =>
      val (src, dst) = (new Path(root, "src"), new Path(root, "dst"))
      write(fc, src, "new")
      write(fc, dst, "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(read(fc, dst) == "new")
      assert(!fc.util.exists(src))
    }
    assert(ours == stock)
    assert(ours.keySet == Set("dst", ".dst.crc"))

    // the FileContext-written sidecar is the one a checksummed reader checks
    val (fs, fc) = both(conf()).last
    val x = Files.createTempDirectory("localfs-crc").resolve("x")
    write(fc, new Path(x.toUri), "payload")
    Files.write(x, "PAYLOAD".getBytes(UTF_8)) // behind the checksum's back
    intercept[ChecksumException](fs.open(new Path(x.toUri)).readAllBytes())
  }

  test("a sticky bit falls back to the stock chmod; other modes fork nothing") {
    val fs = new ForkFreeRawLocalFileSystem
    fs.initialize(Local, conf())
    val dir = Files.createTempDirectory("localfs-sticky")
    val plain = Forks.during(fs.setPermission(new Path(dir.toUri), perm("750")))
    assert(plain.isEmpty && mode(dir) == "0750")
    val sticky = Forks.during(fs.setPermission(new Path(dir.toUri), perm("1777")))
    assert(sticky.exists(_.contains("chmod")), sticky)
    assert(mode(dir) == "1777")
  }

  test("session confs resolve file: to the fork-free classes over a cached stock filesystem") {
    val hadoopConf = spark.sessionState.newHadoopConf()
    // a fresh user's slot in Hadoop's FileSystem cache, first filled with
    // the stock class, as code that ran before the session can leave it
    val probe: PrivilegedExceptionAction[Unit] = () => {
      assert(!FileSystem.get(Local, new Configuration()).isInstanceOf[ForkFreeLocalFileSystem])
      assert(FileSystem.get(Local, hadoopConf).isInstanceOf[ForkFreeLocalFileSystem])
    }
    UserGroupInformation.createRemoteUser("localfs-spec").doAs(probe)
    assert(FileContext.getFileContext(Local, hadoopConf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }
}
