package graft.sources

import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem, named in `fs.file.impl` by
  * [[graft.Engine.buildConfs]]: Hadoop's checksummed `LocalFileSystem`
  * (same `.crc` sidecars, same checksum checks) over a raw filesystem
  * that sets permissions with a `chmod(2)` syscall.
  *
  * Without native libhadoop, Hadoop's `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and it runs for every file created (twice
  * with the `.crc` sidecar) and every directory made, some 20 per
  * TableLog commit: a create costs about 5.5 ms instead of 0.1 ms
  * (SCALE.md, "Local filesystem writes").
  * The `unix:mode` attribute sets the same mode bits, the sticky bit
  * included, and follows symlinks as `chmod` does. Where the JDK has no
  * `unix` attribute view, Hadoop's own path runs.
  *
  * A rename onto an existing file fails (returns false), as on HDFS and
  * as in Hive's `ProxyLocalFileSystem`, the `file:` class a Spark build
  * with Hive registers: naming this class changes no rename outcome.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    !pathToFile(dst).isFile && super.rename(src, dst)
}

object LocalFs {
  private val unixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (unixView)
        Files.setAttribute(pathToFile(p).toPath, "unix:mode",
          Integer.valueOf(perm.toShort & 0xfff)) // 07777: rwx and sticky
      else super.setPermission(p, perm)
  }
}
