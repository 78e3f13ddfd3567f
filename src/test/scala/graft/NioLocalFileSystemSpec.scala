package graft

import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.spark.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The fork-free local file system must be indistinguishable from
  * Hadoop's stock one wherever the engine can observe it: mode bits,
  * rename semantics, link status, and which classes a session binds.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  private val Root = new URI("file:///")

  // Stock and NIO classes are compared side by side below, so every
  // instance comes from `FileSystem.newInstance` or `FileContext`:
  // `FileSystem.get`'s JVM-wide cache keys on the scheme, not the conf,
  // and a stock instance cached here would shadow the session's binding.
  private def conf(umask: String, nio: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (nio) {
      c.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    } else {
      c.set("fs.file.impl", classOf[LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    }
    c
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** relative path -> mode bits, for every entry under `root`. */
  private def modes(root: JPath): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> Integer.toOctalString(mode(p)))
      .toMap

  /** Every create/mkdir/chmod path the engine reaches, through both APIs. */
  private def exercise(c: Configuration, dir: JPath): Unit = {
    val root = new Path(dir.toUri)
    val fs = FileSystem.newInstance(Root, c)
    try {
      fs.create(new Path(root, "fs/a/b/default")).close()
      fs.create(new Path(root, "fs/explicit"), new FsPermission("640"), true,
        4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(root, "fs/d1/d2"), new FsPermission("750"))
      fs.mkdirs(new Path(root, "fs/plain"))
      fs.create(new Path(root, "fs/chmod")).close()
      fs.setPermission(new Path(root, "fs/chmod"), new FsPermission("604"))
      fs.mkdirs(new Path(root, "fs/sticky"))
      fs.setPermission(new Path(root, "fs/sticky"), new FsPermission("1777"))
      fs.asInstanceOf[LocalFileSystem].getRaw
        .create(new Path(root, "fs/raw"), new FsPermission("755"), false,
          4096, 1.toShort, 1L << 20, null).close()
    } finally fs.close()
    val fc = FileContext.getFileContext(Root, c)
    fc.mkdir(new Path(root, "fc/d"), FsPermission.getDirDefault, true)
    fc.mkdir(new Path(root, "fc/e"), new FsPermission("700"), false)
    fc.create(new Path(root, "fc/d/default"), EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent()).close()
    fc.create(new Path(root, "fc/explicit"), EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.perms(new FsPermission("600"))).close()
    fc.create(new Path(root, "fc/tmp"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.rename(new Path(root, "fc/tmp"), new Path(root, "fc/renamed"))
    fc.setPermission(new Path(root, "fc/renamed"), new FsPermission("664"))
  }

  Seq("022", "077").foreach { umask =>
    test(s"files and directories get the stock mode bits under umask $umask") {
      val stock = Files.createTempDirectory("fs-stock")
      val nio = Files.createTempDirectory("fs-nio")
      exercise(conf(umask, nio = false), stock)
      exercise(conf(umask, nio = true), nio)
      val (want, got) = (modes(stock), modes(nio))
      assert(want.size > 20, want)
      assert(got == want)
      assert(want("fs/sticky") == "1777", "sticky bit took the stock chmod")
    }
  }

  test("FileContext.rename without overwrite still refuses an existing destination") {
    val dir = new Path(Files.createTempDirectory("fs-rename").toUri)
    Seq(false, true).foreach { nio =>
      val fc = FileContext.getFileContext(Root, conf("022", nio))
      val (src, dst) = (new Path(dir, s"src-$nio"), new Path(dir, s"dst-$nio"))
      Seq(src, dst).foreach(p =>
        fc.create(p, EnumSet.of(CreateFlag.CREATE)).close())
      intercept[FileAlreadyExistsException](fc.rename(src, dst))
      assert(fc.util.exists(src))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src) && fc.util.exists(dst))
    }
  }

  test("link status of files, dirs, symlinks, dangling symlinks and missing paths is unchanged") {
    val dir = Files.createTempDirectory("fs-links")
    val file = Files.write(dir.resolve("file"), "x".getBytes)
    val sub = Files.createDirectory(dir.resolve("sub"))
    Files.createSymbolicLink(dir.resolve("link"), file)
    Files.createSymbolicLink(dir.resolve("dirlink"), sub)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val names = Seq("file", "sub", "link", "dirlink", "dangling", "missing")
    // qualified (what FileContext passes) and bare paths
    val paths = names.flatMap(n => Seq(
      new Path(dir.resolve(n).toUri), new Path(dir.resolve(n).toString)))

    def show(s: FileStatus): String =
      Seq(s.getPath, s.isDirectory, s.isFile, s.isSymlink,
        if (s.isSymlink) s.getSymlink else "-", s.getLen,
        s.getPermission, s.getOwner).mkString("|")
    def status(f: Path => FileStatus, p: Path): String =
      Try(show(f(p))).recover { case e => e.getClass.getName }.get

    val stock = new RawLocalFileSystem
    stock.initialize(Root, new Configuration())
    val nio = new NioRawLocalFileSystem
    nio.initialize(Root, new Configuration())
    val stockFc = FileContext.getFileContext(Root, conf("022", nio = false))
    val nioFc = FileContext.getFileContext(Root, conf("022", nio = true))
    paths.foreach { p =>
      assert(status(nio.getFileLinkStatus, p) == status(stock.getFileLinkStatus, p), p)
      assert(status(nioFc.getFileLinkStatus, p) == status(stockFc.getFileLinkStatus, p), p)
    }
    // the stock answer really distinguishes these cases
    val bare = (n: String) => new Path(dir.resolve(n).toString)
    assert(nio.getFileLinkStatus(bare("link")).isSymlink)
    assert(nio.getFileLinkStatus(bare("dangling")).isSymlink)
    assert(!nio.getFileLinkStatus(bare("file")).isSymlink)
    intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(bare("missing")))
  }

  test("a Sessions.builder session binds file:/// to the NIO classes in both APIs") {
    val c = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(Root, c).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(c).getRaw.getClass == classOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(Root, c).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
    assert(FileContext.getFileContext(c).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }
}
