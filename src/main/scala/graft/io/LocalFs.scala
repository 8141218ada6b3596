package graft.io

import java.io.FileNotFoundException
import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
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
  * (`spark.hadoop.fs.file.impl`).
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
  }
}
