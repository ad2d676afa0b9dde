package graft.fs

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** A `FileStatus` served from the meta cache's 17-byte facts.
  *
  * The hot fields Spark planning and commit protocols hammer — length,
  * isDirectory, isFile, modification time, path — come straight from the
  * cached record with zero remote calls. The rarely-used fields (owner,
  * group, permission, real block size, replication, access time and the
  * encryption flag) are backfilled from the remote with ONE lazy RPC on
  * first access, memoized for the life of the status object (reference
  * parity: CachedFileStatus.java:103-114, checkRemoteLoaded()).
  * Permission-sensitive tooling over the cached FS therefore sees true
  * owners/permissions without the cache re-paying a HEAD for the facts
  * it already holds.
  *
  * Deviation from the reference's backfill list: `isSymlink` answers
  * false from the record. `getFileStatus` resolves symlinks, so a status
  * it returns never describes one — and `FileStatus.isFile` asks
  * `isSymlink`, so a backfilled answer would cost every `isFile` on a
  * served status one HEAD.
  *
  * The remote fetch failure propagates as a RuntimeException, matching
  * the reference. Note: Writable/Java serialization of this status
  * carries the synthesized defaults for the lazy fields unless a getter
  * forced the backfill first — callers that ship statuses across JVMs
  * get the same facts the plain synthesized status always had.
  */
final class CachedFileStatus(
    len: Long, isdir: Boolean, pageBlockSize: Long, modTime: Long,
    p: Path, fetchRemote: Path => FileStatus)
  extends FileStatus(len, isdir, 1, pageBlockSize, modTime, p) {

  // lazy val = once-only synchronized memoization of the backfill RPC
  @transient private lazy val source: FileStatus =
    try fetchRemote(getPath)
    catch {
      case e: java.io.IOException =>
        throw new RuntimeException(
          s"CachedFileStatus: remote backfill failed for $getPath", e)
    }

  override def getOwner: String = source.getOwner
  override def getGroup: String = source.getGroup
  override def getPermission: FsPermission = source.getPermission
  override def getReplication: Short = source.getReplication
  override def getBlockSize: Long = source.getBlockSize
  override def getAccessTime: Long = source.getAccessTime
  override def isSymlink: Boolean = false
  override def isEncrypted: Boolean = source.isEncrypted
}
