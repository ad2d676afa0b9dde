package graft.fs

import java.io.{File, FileInputStream, FileOutputStream, ObjectInputStream, ObjectOutputStream}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.jdk.CollectionConverters._

/** Write-cache bookkeeping: remote<->cache path mapping, the
  * insertion-ordered file list ("least recently created" FIFO eviction
  * queue, util/LRCQueue.java), the `.toupload` moniker protocol that
  * protects not-yet-synced files, and watermark-driven eviction
  * (start 95% / stop 90%, SidecarCachingFileSystem.java:122-129,
  * 1397-1465).
  */
final class WriteCacheManager(val cacheFs: FileSystem, val workDir: Path,
    capacityBytes: Long, excludePatterns: Seq[String], stats: Statistics,
    asyncEvict: Boolean = true) {

  // insertion-ordered: first entry = next eviction victim
  private val fileList = new java.util.LinkedHashMap[String, Long]()
  private val usedBytes = new AtomicLong(0)
  private val evictorRunning = new AtomicBoolean(false)

  cacheFs.mkdirs(workDir)

  /** remote path -> write-cache path: <workDir>/<scheme>/<host>/<path>
    * (bijective, like remoteToCachingPath). */
  def toCachePath(remote: Path): Path = {
    val uri = remote.toUri
    val scheme = Option(uri.getScheme).getOrElse("none")
    val host = Option(uri.getHost).getOrElse("local")
    new Path(workDir, s"$scheme/$host${uri.getPath}")
  }

  def monikerPath(cachePath: Path): Path =
    new Path(cachePath.getParent, cachePath.getName + ".toupload")

  /** Monikers carry an ownership token: a deferred upload-completion
    * callback must only clean up state that still belongs to ITS write
    * (the same path may have been re-created by a newer generation). */
  def writeMoniker(cachePath: Path, token: String): Unit = {
    val out = cacheFs.create(monikerPath(cachePath), true)
    try out.write(token.getBytes("UTF-8")) finally out.close()
  }

  def monikerToken(cachePath: Path): Option[String] = {
    val mp = monikerPath(cachePath)
    try {
      if (!cacheFs.exists(mp)) None
      else {
        val in = cacheFs.open(mp)
        try {
          val buf = new Array[Byte](64)
          val n = math.max(in.read(buf), 0)
          Some(new String(buf, 0, n, "UTF-8"))
        } finally in.close()
      }
    } catch { case _: java.io.IOException => None }
  }

  /** Drop every local claim on a cache copy — content file, moniker, and
    * file-list entry — in one place, so the cleanup order can't diverge
    * across the create/append error paths.
    *
    * Moniker-first is deliberate: a crash between the two deletes leaves
    * a moniker-less content file, which eviction reclaims (self-healing).
    * The reverse order would leave an orphan moniker that permanently
    * disables eviction AND append-tee for the path. The cost is a brief
    * window where the doomed copy looks settled to a concurrent append —
    * but two writers racing the same path is already an application-level
    * conflict, and the read path degrades to remote if the copy vanishes. */
  def dropCopy(cachePath: Path): Unit = {
    cacheFs.delete(monikerPath(cachePath), false)
    cacheFs.delete(cachePath, false)
    removeFile(cachePath)
  }

  def isExcluded(remote: Path): Boolean =
    excludePatterns.exists(p => remote.toString.matches(p))

  def recordFile(cachePath: Path, length: Long): Unit = {
    synchronized {
      val prev = fileList.put(cachePath.toString, length)
      usedBytes.addAndGet(length - (if (prev == null) 0L else prev))
    }
    stats.filesWritten.incrementAndGet()
    maybeEvict()
  }

  def removeFile(cachePath: Path): Unit = synchronized {
    val len = fileList.remove(cachePath.toString)
    if (len != null) usedBytes.addAndGet(-len)
  }

  /** Follow a local rename of `src` — one copy, or a directory of them
    * — to `dst`: every listed key at or under `src` moves. */
  def renameFile(src: Path, dst: Path): Unit = synchronized {
    val (s, d) = (src.toString, dst.toString)
    val moved = fileList.keySet.asScala.toList
      .filter(k => k == s || k.startsWith(s + "/"))
    moved.foreach(k => fileList.put(d + k.drop(s.length), fileList.remove(k)))
  }

  /** The copies under directory `dir` whose upload is still in flight
    * (a moniker sits beside each), as paths in `dir`'s own form. */
  def inFlightUnder(dir: Path): Seq[Path] = {
    val base = dir.toUri.getPath
    val out = Seq.newBuilder[Path]
    val it = cacheFs.listFiles(dir, true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".toupload"))
        out += new Path(dir.toString +
          p.toUri.getPath.drop(base.length).stripSuffix(".toupload"))
    }
    out.result()
  }

  def used: Long = usedBytes.get
  def listedFiles: Int = synchronized(fileList.size)

  /** Watermark check; spawns a single evictor like checkEviction.
    * With asyncEvict=false (tests) eviction only runs via evictNow(). */
  def maybeEvict(): Unit = {
    if (asyncEvict && capacityBytes > 0 &&
      usedBytes.get > (capacityBytes * GraftFsConf.EvictionStart).toLong &&
      evictorRunning.compareAndSet(false, true)) {
      val t = new Thread(() => {
        try evictLoop() finally evictorRunning.set(false)
      }, "graft-write-cache-evictor")
      t.setDaemon(true)
      t.start()
    }
  }

  private def evictLoop(): Unit = {
    val stop = (capacityBytes * GraftFsConf.EvictionStop).toLong
    var continue = true
    while (continue && usedBytes.get > stop) {
      val victim = synchronized {
        val it = fileList.entrySet().iterator()
        var found: Option[(String, Long)] = None
        while (found.isEmpty && it.hasNext) {
          val e = it.next()
          val p = new Path(e.getKey)
          // moniker => remote upload not finished; never evict (the
          // reference additionally backs off — we just skip to the next)
          if (!cacheFs.exists(monikerPath(p))) {
            it.remove()
            found = Some((e.getKey, e.getValue))
          }
        }
        found
      }
      victim match {
        case Some((p, len)) =>
          usedBytes.addAndGet(-len)
          cacheFs.delete(new Path(p), false)
          stats.filesEvicted.incrementAndGet()
        case None => continue = false // only monikered files remain
      }
    }
  }

  /** Synchronous eviction helper for deterministic tests. */
  def evictNow(): Unit = evictLoop()

  def save(f: File): Unit = synchronized {
    val out = new ObjectOutputStream(new FileOutputStream(f))
    try out.writeObject(fileList.asScala.toSeq.toList) finally out.close()
  }

  def load(f: File): Unit = synchronized {
    if (!f.exists()) return
    val in = new ObjectInputStream(new FileInputStream(f))
    try {
      in.readObject().asInstanceOf[List[(String, Long)]].foreach {
        case (k, v) =>
          if (cacheFs.exists(new Path(k))) {
            fileList.put(k, v)
            usedBytes.addAndGet(v)
          }
      }
    } finally in.close()
  }
}
