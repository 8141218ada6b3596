package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` FileSystem: Hadoop's checksummed local FS whose
  * permissions are set through java.nio instead of a forked `chmod`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand("chmod", ..)`, and the raw FS calls it for every file
  * it creates (data and `.crc`) and every directory level `mkdirs` makes:
  * one process per file and per `route=/year=/month=/day=/hour=` level of
  * a sink write, on the tasks and in the driver's job commit. Hadoop
  * applies the umask before it calls `setPermission`, so the modes written
  * here are the ones `chmod` would have set.
  *
  * `rename` onto an existing file returns false and moves nothing, as on
  * HDFS (and as Hive's `ProxyLocalFileSystem`, which the `file` scheme
  * otherwise resolves to on Spark's classpath, does).
  *
  * Registered for every engine session by `GraftSession.builder`
  * (`spark.hadoop.fs.file.impl`); [[LocalFs.Afs]] is the same file system
  * for Hadoop's `FileContext` API.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

object LocalFs {
  /** The raw local FS whose `setPermission` is one `chmod(2)` through the
    * `unix` attribute view: the full mode, sticky bit included.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort & 0x0fff))

    /** Hadoop's method forks `readlink` to tell a symlink from a file; for
      * anything but a symlink its answer is the path's own status, which
      * the `lstat` of `Files.isSymbolicLink` tells without a process.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The `file` AbstractFileSystem (`fs.AbstractFileSystem.file.impl`) that
    * Hadoop's `FileContext` resolves local paths to, such as Spark's
    * streaming checkpoints: Hadoop's own `local.LocalFs` with [[Raw]] in
    * place of the stock raw FS, so checkpoint files are written, renamed
    * and listed without a forked `chmod` or `readlink`.
    */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))

  /** Hadoop's `local.RawLocalFs` over [[Raw]]. */
  class RawAfs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
