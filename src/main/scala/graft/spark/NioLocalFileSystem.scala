package graft.spark

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without the shell-outs.
  *
  * Without libhadoop (the `NativeCodeLoader` WARN), stock
  * `RawLocalFileSystem` forks a child process for two calls that sit
  * on every streaming checkpoint commit:
  *  - `setPermission` runs `chmod`, and every file create and every
  *    `mkdirs` with a permission calls it;
  *  - `getFileLinkStatus` runs `readlink`, and `FileContext.rename`
  *    calls it for both source and destination.
  * Each fork costs milliseconds, so the offset log, the commit log and
  * the state store's delta files paid them on every micro-batch. This
  * subclass answers both calls in-process through `java.nio.file` and
  * keeps every other behavior of the stock class, including the
  * no-overwrite rename the checkpoint logs rely on.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** The same 9 mode bits `chmod` would set (callers pass them with
    * the umask already applied). With no bit above 0777,
    * `FsPermission.toString` is exactly the `rwxr-x---` form NIO
    * parses. Sticky/setuid/setgid, requested or already on the file,
    * keep the stock `chmod` path: `chmod(1)` preserves a directory's
    * setgid bit under a numeric mode, while `chmod(2)` through NIO
    * would clear it.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    val file = pathToFile(p).toPath
    val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    if ((bits & ~ModeBits) != 0 || (current & SpecialBits) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file,
      PosixFilePermissions.fromString(permission.toString))
  }

  /** Stock status unless the path is a symlink: the stock class runs
    * `readlink` only to tell a symlink from a plain path, and for a
    * plain or missing path it returns (or throws) `getFileStatus`.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val ModeBits = 0x1ff    // 0777
  private val SpecialBits = 0xe00 // 07000: setuid, setgid, sticky
}

/** `file://` through the `FileSystem` API: the checksummed
  * `LocalFileSystem` over [[NioRawLocalFileSystem]], so
  * `FileSystem.getLocal` still returns a `LocalFileSystem`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` twin of [[NioRawLocalFileSystem]]. Mirrors
  * Hadoop's `RawLocalFs`, whose constructors are package-private.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("mirrors the deprecated AbstractFileSystem overload", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file://` through the `FileContext` API (Spark's checkpoint file
  * manager and state stores): checksummed, like Hadoop's `LocalFs`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
