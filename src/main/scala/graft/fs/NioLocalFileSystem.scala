package graft.fs

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A `RawLocalFileSystem` that sets permissions in-process.
  *
  * Hadoop's local FS applies a mode to every file it creates and every
  * directory it makes (`LocalFSFileOutputStream`'s constructor and
  * `mkOneDirWithMode` both call `setPermission`). Without the native
  * library, `setPermission` forks `chmod`: 2-3 ms a call, and a
  * `graft://` create pays it for the write-cache copy, its moniker and
  * each new parent directory. Here the mode goes through
  * `Files.setPosixFilePermissions` instead — the same mode, no process.
  * The sticky bit, which `PosixFilePermission` cannot express, and a
  * store without POSIX attributes fall back to Hadoop's own path.
  */
private[fs] final class NioLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}
