package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem, minus a process per permission
  * change. Without the Hadoop native library the stock
  * `setPermission` forks `chmod`, and every create and `mkdirs` goes
  * through it: each parquet part file and its `.crc` sidecar, the
  * output committer's `_temporary` dirs and `_SUCCESS`, each `_log`
  * marker. One fork-and-wait costs 1.6–1.9 ms on a 4-core Linux box,
  * the NIO call about 0.01 ms. This override sets the same nine mode
  * bits through `Files.setPosixFilePermissions` and keeps the stock
  * call for what NIO cannot express: a sticky bit, or a file store
  * with no POSIX attribute view. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(
          Seq(permission.getUserAction, permission.getGroupAction,
              permission.getOtherAction).map(_.SYMBOL).mkString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

/** The `file://` filesystem of graft sessions
  * ([[graft.GraftSession.builder]]). Still a
  * `ChecksumFileSystem`, so data files keep their `.crc` sidecars and
  * `VersionedTable`'s `_log` IO unwraps the raw FS as on the stock
  * local FS. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)
