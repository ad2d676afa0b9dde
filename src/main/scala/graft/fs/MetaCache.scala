package graft.fs

import java.io.{File, FileInputStream, FileOutputStream, ObjectInputStream, ObjectOutputStream}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The 17-byte file-fact record of the reference (modTime + length +
  * isDir, SidecarCachingFileSystem.java:1101-1132), keyed by qualified
  * path. Kills the remote HEAD/getFileStatus storm Spark planning
  * produces against object stores. */
final case class MetaRecord(modTime: Long, length: Long, isDir: Boolean)
  extends Serializable

final class MetaCache(stats: Statistics) {
  private val map = new ConcurrentHashMap[String, MetaRecord]()

  def get(path: String): Option[MetaRecord] = {
    val r = map.get(path)
    if (r != null) { stats.metaHits.incrementAndGet(); Some(r) }
    else { stats.metaMisses.incrementAndGet(); None }
  }

  /** The record without moving the hit/miss counters: for callers that
    * count a hit only once the record actually answered the call. */
  def peek(path: String): Option[MetaRecord] = Option(map.get(path))

  def put(path: String, rec: MetaRecord): Unit = map.put(path, rec)
  def remove(path: String): Unit = map.remove(path)
  def contains(path: String): Boolean = map.containsKey(path)
  def size: Int = map.size()
  def clear(): Unit = map.clear()

  /** Rename support: migrate the record like metaUpdate in the reference. */
  def rename(src: String, dst: String): Unit = {
    val r = map.remove(src)
    if (r != null) map.put(dst, r)
  }

  /** Drop every record under a directory path (recursive delete/rename of
    * a directory would otherwise leave stale child facts — Spark's
    * rename-based commit protocols hit exactly this pattern). */
  def removePrefix(dirPath: String): Unit = {
    val prefix = if (dirPath.endsWith("/")) dirPath else dirPath + "/"
    map.keySet().asScala.filter(_.startsWith(prefix))
      .foreach(map.remove)
  }

  def save(f: File): Unit = {
    val out = new ObjectOutputStream(new FileOutputStream(f))
    try out.writeObject(map.asScala.toMap) finally out.close()
  }

  def load(f: File): Unit = {
    if (!f.exists()) return
    val in = new ObjectInputStream(new FileInputStream(f))
    try {
      in.readObject().asInstanceOf[Map[String, MetaRecord]]
        .foreach { case (k, v) => map.put(k, v) }
    } finally in.close()
  }
}
