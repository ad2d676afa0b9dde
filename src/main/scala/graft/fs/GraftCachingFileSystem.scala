package graft.fs

import java.io.File
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop-compatible caching filesystem — the Spark-native re-expression
  * of the reference's SidecarCachingFileSystem (the engine's
  * infrastructure layer *below* the Catalyst plans; SURVEY.md §2A).
  *
  * Wraps a remote FS and adds three caches:
  *  1. a two-tier data page cache (PageCache: memory LRU -> disk victim),
  *  2. a FileStatus metadata cache (MetaCache),
  *  3. a full-file write cache with `.toupload` moniker protection and
  *     95/90 watermark FIFO eviction (WriteCacheManager).
  *
  * Registration for Spark:
  * {{{
  *   spark.hadoop.fs.graft.impl = graft.fs.GraftCachingFileSystem
  *   spark.read.parquet("graft://local/<abs path>")   // file:// remote
  * }}}
  * The `graft://` scheme delegates to a local remote FS here (the
  * testable instantiation, like the reference's SidecarLocalFileSystem);
  * pointing `graft.fs.remote.impl`+`graft.fs.remote.uri` at s3a/abfs/gcs
  * gives the object-store deployments — the caching core is
  * scheme-agnostic.
  */
class GraftCachingFileSystem extends FileSystem {

  private var uri: URI = _
  private var fsConf: GraftFsConf = _
  private var remoteFs: FileSystem = _
  private var writeCache: Option[WriteCacheManager] = None
  private var pageCache: PageCache = _
  private var metaCache: MetaCache = _
  val stats = new Statistics
  private var workingDir: Path = _

  override def getScheme: String = "graft"
  override def getUri: URI = uri

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    uri = URI.create(s"${name.getScheme}://${Option(name.getAuthority).getOrElse("local")}/")
    fsConf = GraftFsConf(conf)
    // remote side: an embedded FS the caching layer delegates to.
    val remoteUri = URI.create(conf.get(s"${GraftFsConf.Prefix}remote.uri", "file:///"))
    remoteFs = {
      val impl = conf.get(s"${GraftFsConf.Prefix}remote.impl", "")
      if (impl.nonEmpty)
        Class.forName(impl).getDeclaredConstructor().newInstance()
          .asInstanceOf[FileSystem]
      else new RawLocalFileSystem()
    }
    remoteFs.initialize(remoteUri, conf)
    pageCache = new PageCache(fsConf.memCacheBytes, fsConf.diskCacheBytes,
      fsConf.diskCacheDir, stats, fsConf.pageSize,
      offheap = fsConf.dataCacheType == "OFFHEAP")
    metaCache = new MetaCache(stats)
    if (fsConf.writeCacheEnabled) {
      val wcFs = new RawLocalFileSystem()
      wcFs.initialize(URI.create("file:///"), conf)
      writeCache = Some(new WriteCacheManager(wcFs,
        new Path(fsConf.writeCacheDir), fsConf.writeCacheBytes,
        fsConf.writeCacheExclude, stats,
        asyncEvict = conf.getBoolean(
          s"${GraftFsConf.Prefix}write.cache.async.evict", true)))
    }
    workingDir = new Path(uri.toString)
    if (fsConf.persistent) {
      loadState()
      // reference parity: persistent caches also save on JVM shutdown
      // (SidecarCachingFileSystem.java:593-616)
      val hook = new Thread(() => try saveState() catch { case _: Throwable => },
        "graft-fs-shutdown-save")
      try Runtime.getRuntime.addShutdownHook(hook)
      catch { case _: IllegalStateException => /* already shutting down */ }
    }
    GraftCachingFileSystem.register(uri.toString, this)
    // surface tier counters through Spark's metrics system (JMX parity
    // with the reference's MBean sink); harmless no-op outside Spark
    if (conf.getBoolean(s"${GraftFsConf.Prefix}metrics.enabled", true)) {
      try org.apache.spark.metrics.graft.GraftCacheSource.register(
        uri.toString, stats)
      catch { case _: Throwable => /* no Spark runtime on this classpath */ }
    }
  }

  // ---- path mapping graft://auth/p -> remote fs path ----

  private def qualify(p: Path): Path = p.makeQualified(uri, workingDir)

  private[fs] def toRemotePath(p: Path): Path =
    new Path(remoteFs.getUri.getScheme match {
      case null => qualify(p).toUri.getPath
      case s    => s"$s://${Option(remoteFs.getUri.getAuthority).getOrElse("")}${qualify(p).toUri.getPath}"
    })

  private def toGraftPath(remote: Path): Path =
    new Path(s"${uri.getScheme}://${uri.getAuthority}${remote.toUri.getPath}")

  // ---- metadata ----

  override def getFileStatus(f: Path): FileStatus = {
    val q = qualify(f)
    val key = q.toString
    metaCache.get(key) match {
      case Some(m) if !fsConf.remoteMutable =>
        // hot facts from the cache; owner/permission/block size backfill
        // lazily with one remote RPC on first access (CachedFileStatus)
        statusOf(m, q, backfill = true)
      case cached =>
        val rs = remoteFs.getFileStatus(toRemotePath(f))
        val rec = MetaRecord(rs.getModificationTime, rs.getLen, rs.isDirectory)
        // mutable remote: a modTime change invalidates stale pages
        cached.foreach { old =>
          if (old.modTime != rec.modTime)
            pageCache.invalidateFile(PageKey.baseFor(key, old.modTime),
              old.length, fsConf.pageSize)
        }
        metaCache.put(key, rec)
        // the RPC already happened — carry its full field set for free
        new FileStatus(rec.length, rec.isDir, rs.getReplication,
          rs.getBlockSize, rec.modTime, rs.getAccessTime, rs.getPermission,
          rs.getOwner, rs.getGroup, q)
    }
  }

  /** A status built from a meta record's facts, with the synthesized
    * replication 1 and block size = page size. With `backfill` the
    * rarely used fields (owner, permission, real block size, ...) load
    * from the remote on first access (CachedFileStatus); without it they
    * keep the synthesized values, so no getter costs a remote call. */
  private def statusOf(m: MetaRecord, q: Path, backfill: Boolean): FileStatus =
    if (backfill)
      new CachedFileStatus(m.length, m.isDir, fsConf.pageSize, m.modTime, q,
        gp => remoteFs.getFileStatus(toRemotePath(gp)))
    else new FileStatus(m.length, m.isDir, 1, fsConf.pageSize, m.modTime, q)

  override def listStatus(f: Path): Array[FileStatus] = {
    val q = qualify(f)
    // listStatus(file) is that file's one status (Hadoop contract), so a
    // file the meta cache knows is answered from its record: Spark's
    // InMemoryFileIndex lists every file path it is given. Directory
    // listings always hit the remote; the cache holds no directory
    // contents, like the reference's (SURVEY §2A.1). The plain status
    // matters: Spark reads replication and block size off each listed
    // file, and on a CachedFileStatus each would backfill.
    val known =
      if (fsConf.remoteMutable) None
      else metaCache.peek(q.toString).filterNot(_.isDir)
    known match {
      case Some(m) =>
        stats.metaHits.incrementAndGet()
        Array(statusOf(m, q, backfill = false))
      case None =>
        remoteFs.listStatus(toRemotePath(f)).map { rs =>
          new FileStatus(rs.getLen, rs.isDirectory, rs.getReplication,
            rs.getBlockSize, rs.getModificationTime, toGraftPath(rs.getPath))
        }
    }
  }

  // ---- read path ----

  /** Per-file page-cache admission (reference isCacheableFile +
    * DataCacheMode, SidecarCachingFileSystem.java:739-748). */
  private def isCacheableFile(q: Path, len: Long): Boolean = {
    val modeOk = fsConf.dataCacheMode match {
      case "MINSIZE" => len >= fsConf.minSizeThreshold
      case "NOT_IN_WRITE_CACHE" =>
        !writeCache.exists(w => w.cacheFs.exists(w.toCachePath(q)))
      case _ => true
    }
    modeOk && !fsConf.dataCacheExclude.exists(p => q.toString.matches(p))
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val q = qualify(f)
    val st = getFileStatus(f)
    val base = PageKey.baseFor(q.toString, st.getModificationTime)
    val stream = new CachingInputStream(
      q.toString, st.getLen, base, fsConf, pageCache, stats,
      writeCacheFile = () => writeCache.map(wc => (wc.cacheFs, wc.toCachePath(q))),
      remoteOpen = () => remoteFs.open(toRemotePath(f), bufferSize),
      cacheEnabled = isCacheableFile(q, st.getLen))
    new FSDataInputStream(stream)
  }

  // ---- write path ----

  /** Where a deferred completion callback should act now: renames that
    * happened while the upload was in flight are recorded here
    * (origCachePath -> (newCachePath, newGraftPath)), and the callback
    * follows the chain. Entries are consumed on resolution. */
  private val renameForwards =
    new ConcurrentHashMap[String, (Path, String)]()

  private def resolveForward(cp: Path, graft: String): (Path, String) = {
    var cur = (cp, graft)
    var hop = renameForwards.remove(cur._1.toString)
    while (hop != null) {
      cur = hop
      hop = renameForwards.remove(cur._1.toString)
    }
    cur
  }

  /** The modification time this FS records for a file it created: the
    * close time, past the previous generation's (`prev`, the path's
    * record when the create began). Page keys hash path + mtime
    * (PageKey.baseFor), so a new generation never reuses the previous
    * one's key, even when both close within one millisecond. */
  private def closeStamp(prev: Option[MetaRecord]): Long =
    math.max(System.currentTimeMillis(), prev.fold(Long.MinValue)(_.modTime + 1))

  /** Both close modes record the new file's meta fact from the close
    * itself (length = bytes written, mtime = [[closeStamp]]), never from
    * a remote stat: the remote is immutable and the meta cache evicts
    * nothing, so every page of the file stays keyed by that stamp. A
    * remote listing still reports the store's own mtime. */
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val q = qualify(f)
    val prev = metaCache.peek(q.toString)
    def recordClose(bytes: Long): Unit =
      metaCache.put(q.toString, MetaRecord(closeStamp(prev), bytes, isDir = false))
    val remoteOut = remoteFs.create(toRemotePath(f), permission, overwrite,
      bufferSize, replication, blockSize, progress)
    val wc = writeCache.filter(w => !w.isExcluded(q))
    // ownership token: deferred callbacks only touch state still holding it
    val token = java.util.UUID.randomUUID().toString
    val cacheOut = wc.flatMap { w =>
      try {
        val cp = w.toCachePath(q)
        w.cacheFs.mkdirs(cp.getParent)
        // moniker first: "upload in flight, do not evict"
        w.writeMoniker(cp, token)
        Some(w.cacheFs.create(cp, true))
      } catch { case _: java.io.IOException => None }
    }
    // the write/close failed remotely: drop every local claim OF THIS
    // GENERATION (token match) so reads surface the remote truth instead
    // of a phantom copy, without clobbering a newer write at the path
    def dropGeneration(): Unit = {
      wc.foreach { w =>
        val (cp, curGraft) = resolveForward(w.toCachePath(q), q.toString)
        if (w.monikerToken(cp).contains(token)) {
          metaCache.remove(curGraft)
          w.dropCopy(cp)
        }
      }
      if (wc.isEmpty) metaCache.remove(q.toString)
    }
    val tee = new CachingOutputStream(remoteOut, cacheOut.map(identity),
      onCacheError = () => wc.foreach(w => w.dropCopy(w.toCachePath(q))),
      onCloseLocal = bytes => {
        stats.bytesWritten.addAndGet(bytes)
        var copyLive = false
        wc.foreach { w =>
          val cp = w.toCachePath(q)
          if (w.cacheFs.exists(cp)) { w.recordFile(cp, bytes); copyLive = true }
        }
        // Advertise the length early ONLY while a write-cache copy can
        // actually serve it: with no copy (cache degraded mid-write or
        // at close, path excluded, no write cache configured), a reader
        // between here and the async upload's completion would get a
        // length the remote can't back yet — let getFileStatus fall
        // through to the remote instead.
        if (fsConf.asyncClose && copyLive) recordClose(bytes)
      },
      onCloseRemote = bytes => {
        // sync mode: the remote close succeeded, so the remote now holds
        // exactly these bytes (a failed close never gets here)
        if (!fsConf.asyncClose) recordClose(bytes)
        // upload complete => lift OUR moniker (wherever a rename moved
        // it) so the file becomes evictable; a different token means a
        // newer generation owns the path now — leave it alone
        wc.foreach { w =>
          val (cp, _) = resolveForward(w.toCachePath(q), q.toString)
          if (w.monikerToken(cp).contains(token))
            w.cacheFs.delete(w.monikerPath(cp), false)
          w.maybeEvict()
        }
      },
      closer = r =>
        if (fsConf.asyncClose) GraftCachingFileSystem.asyncPool.execute(() =>
          try r.run()
          catch {
            case e: Throwable =>
              // the upload failed after the writer already returned
              // (onRemoteError inside the tee already dropped the
              // generation; this is the async path's last-resort log)
              System.err.println(
                s"[graft.fs] async remote close failed for $q: $e")
              dropGeneration()
          })
        else r.run(),
      onRemoteError = () => dropGeneration())
    new FSDataOutputStream(tee, null)
  }

  /** Dual-write append (reference parity:
    * SidecarCachingFileSystem.java:1778-1805): bytes tee into the
    * write-cache copy in lockstep with the remote IF the copy is a
    * complete, settled mirror (same length as remote, no upload in
    * flight) — read-your-writes keeps working for append workloads
    * (WAL-style users). Anything else (stale or missing copy) falls back
    * to remote-only with the local copy dropped. Append is always SYNC:
    * an appender expects durability at close. Unlike [[create]], its
    * close HEADs the remote for the record: with no tee target the
    * file's base length, so its new length, is not known locally. */
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = {
    val q = qualify(f)
    // content is about to change: cached pages + the meta fact are stale
    metaCache.get(q.toString).foreach { m =>
      pageCache.invalidateFile(PageKey.baseFor(q.toString, m.modTime),
        m.length, fsConf.pageSize)
    }
    metaCache.remove(q.toString)
    val remoteOut = remoteFs.append(toRemotePath(f), bufferSize, progress)
    val wc = writeCache.filter(w => !w.isExcluded(q))
    val token = java.util.UUID.randomUUID().toString
    var teeTarget: Option[(WriteCacheManager, Path, Long)] = None
    wc.foreach { w =>
      val cp = w.toCachePath(q)
      // an in-flight upload owns its copy — never touch it from here
      if (!w.cacheFs.exists(w.monikerPath(cp))) {
        val settledLen: Option[Long] =
          try {
            if (!w.cacheFs.exists(cp)) None
            else {
              val local = w.cacheFs.getFileStatus(cp).getLen
              if (local == remoteFs.getFileStatus(toRemotePath(f)).getLen)
                Some(local)
              else None
            }
          } catch { case _: java.io.IOException => None }
        settledLen match {
          case Some(len) => teeTarget = Some((w, cp, len))
          case None if w.cacheFs.exists(cp) =>
            // stale copy would diverge once the append lands remotely
            w.dropCopy(cp)
          case None =>
        }
      }
    }
    val cacheOut = teeTarget.flatMap { case (w, cp, _) =>
      try {
        // moniker while appending: the copy must not be evicted mid-write
        w.writeMoniker(cp, token)
        Some(w.cacheFs.append(cp, bufferSize, null): java.io.OutputStream)
      } catch {
        case _: java.io.IOException =>
          w.dropCopy(cp)
          teeTarget = None
          None
      }
    }
    val tee = new CachingOutputStream(remoteOut, cacheOut,
      onCacheError = () => teeTarget.foreach { case (w, cp, _) =>
        w.dropCopy(cp)
      },
      // localFirst = false: runs only after the remote close succeeded,
      // so the copy is never registered at a length the remote lacks.
      // The moniker is lifted HERE, after recordFile, not in
      // onCloseRemote — lifting it first would let the evictor pick the
      // copy while the file list still holds the pre-append length.
      onCloseLocal = bytes => {
        stats.bytesWritten.addAndGet(bytes)
        teeTarget.foreach { case (w, cp, base) =>
          if (w.cacheFs.exists(cp)) w.recordFile(cp, base + bytes)
          if (w.monikerToken(cp).contains(token))
            w.cacheFs.delete(w.monikerPath(cp), false)
          w.maybeEvict()
        }
      },
      onCloseRemote = _ => {
        // sync close: the remote is authoritative for length + modTime
        try {
          val rs = remoteFs.getFileStatus(toRemotePath(f))
          metaCache.put(q.toString,
            MetaRecord(rs.getModificationTime, rs.getLen, rs.isDirectory))
        } catch { case _: java.io.IOException => }
      },
      closer = r => r.run(),
      // a failed remote write/close is fatal to the copy: its tail holds
      // bytes the remote never committed, and the orphan moniker would
      // make a retried append treat the diverged copy as untouchable
      onRemoteError = () => teeTarget.foreach { case (w, cp, _) =>
        w.dropCopy(cp) // also lifts the moniker
        metaCache.remove(q.toString)
      },
      localFirst = false)
    new FSDataOutputStream(tee, null)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    // same dual-stream path as create, but the parent must pre-exist
    // and be a directory (Hadoop contract)
    val parent = qualify(f).getParent
    if (parent != null) {
      val st = try Some(getFileStatus(parent))
        catch { case _: java.io.FileNotFoundException => None }
      st match {
        case None =>
          throw new java.io.FileNotFoundException(s"parent missing: $parent")
        case Some(s) if !s.isDirectory =>
          throw new org.apache.hadoop.fs.ParentNotDirectoryException(
            s"parent is a file: $parent")
        case _ =>
      }
    }
    if (flags.contains(org.apache.hadoop.fs.CreateFlag.APPEND))
      append(f, bufferSize, progress)
    else
      create(f, permission,
        flags.contains(org.apache.hadoop.fs.CreateFlag.OVERWRITE),
        bufferSize, replication, blockSize, progress)
  }

  /** HDFS-style concat: delegate to the remote (object stores throw,
    * like the reference notes), then drop every cached fact for the
    * target and sources. Refuses while any involved file still has an
    * in-flight ASYNC upload — concatenating half-flushed remote files
    * would silently assemble a corrupt target. */
  override def concat(trg: Path, psrcs: Array[Path]): Unit = {
    writeCache.foreach { w =>
      (trg +: psrcs.toSeq).foreach { p =>
        if (w.cacheFs.exists(w.monikerPath(w.toCachePath(qualify(p)))))
          throw new java.io.IOException(
            s"concat: upload still in flight for $p")
      }
    }
    remoteFs.concat(toRemotePath(trg), psrcs.map(toRemotePath))
    invalidate(qualify(trg))
    psrcs.foreach(p => invalidate(qualify(p)))
  }

  // ---- namespace ops ----

  override def rename(src: Path, dst: Path): Boolean = {
    val qs = qualify(src); val qd = qualify(dst)
    val ok = remoteFs.rename(toRemotePath(src), toRemotePath(dst))
    if (ok) {
      metaCache.get(qs.toString).foreach { m =>
        pageCache.invalidateFile(PageKey.baseFor(qs.toString, m.modTime),
          m.length, fsConf.pageSize)
      }
      // where a copy whose upload is still in flight landed
      var inFlightAt: Option[String] = None
      writeCache.foreach { w =>
        val cs = w.toCachePath(qs)
        if (w.cacheFs.exists(cs)) {
          // the local rename also lands in an existing directory at
          // dir/<name>: track the copy where it really is
          val (cd, gd) = {
            val c = w.toCachePath(qd)
            val intoDir = try w.cacheFs.getFileStatus(c).isDirectory
              catch { case _: java.io.FileNotFoundException => false }
            if (intoDir) (new Path(c, cs.getName), new Path(qd, qs.getName).toString)
            else (c, qd.toString)
          }
          w.cacheFs.mkdirs(cd.getParent)
          val monikered = w.cacheFs.exists(w.monikerPath(cs))
          // a renamed directory carries its children's in-flight uploads
          val children =
            if (w.cacheFs.getFileStatus(cs).isDirectory) w.inFlightUnder(cs)
            else Nil
          if (w.cacheFs.rename(cs, cd)) {
            w.renameFile(cs, cd)
            // each pending child callback must find its moniker where
            // the directory rename moved it
            children.foreach { c =>
              val rel = c.toString.drop(cs.toString.length)
              renameForwards.put(c.toString,
                (new Path(cd.toString + rel), gd + rel))
            }
            if (monikered) {
              // upload still in flight: move the moniker with the copy
              // (read-your-writes at the new name keeps working) and
              // record a forward so the pending completion callback
              // finds — and only ever touches — its own moniker here
              w.cacheFs.rename(w.monikerPath(cs), w.monikerPath(cd))
              renameForwards.put(cs.toString, (cd, gd))
              inFlightAt = Some(gd)
            }
          } else {
            w.cacheFs.delete(cs, false)
            w.removeFile(cs)
            w.cacheFs.delete(w.monikerPath(cs), false)
          }
        }
      }
      // the record follows the content (rename preserves it, so
      // modTime/len stay valid): rename(x, existingDir) lands at
      // dir/<name>. With no record for dst the landing path is unknown,
      // so the record is dropped rather than guessed, unless it belongs
      // to an in-flight upload: the remote cannot report that file's
      // length yet, so its record follows the moved copy.
      val landed = metaCache.peek(qd.toString).map { d =>
        if (d.isDir) new Path(qd, qs.getName).toString else qd.toString
      }.orElse(inFlightAt)
      landed match {
        case Some(k) =>
          metaCache.remove(k) // stale fact at the destination
          metaCache.rename(qs.toString, k)
        case None => metaCache.remove(qs.toString)
      }
      metaCache.removePrefix(qs.toString) // children of a renamed dir
    }
    ok
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val q = qualify(f)
    val ok = remoteFs.delete(toRemotePath(f), recursive)
    invalidate(q, recursive)
    ok
  }

  private def invalidate(q: Path, recursive: Boolean = false): Unit = {
    metaCache.get(q.toString).foreach { m =>
      pageCache.invalidateFile(PageKey.baseFor(q.toString, m.modTime),
        m.length, fsConf.pageSize)
    }
    metaCache.remove(q.toString)
    metaCache.removePrefix(q.toString) // directory facts under q
    writeCache.foreach { w =>
      val cp = w.toCachePath(q)
      if (w.cacheFs.exists(cp)) {
        // mirror the remote delete shape: dirs go recursively
        w.cacheFs.delete(cp, recursive)
        w.removeFile(cp)
      }
      w.cacheFs.delete(w.monikerPath(cp), false)
    }
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    val ok = remoteFs.mkdirs(toRemotePath(f), permission)
    writeCache.foreach(w => w.cacheFs.mkdirs(w.toCachePath(qualify(f))))
    ok
  }

  override def setWorkingDirectory(dir: Path): Unit = { workingDir = dir }
  override def getWorkingDirectory: Path = workingDir

  // ---- lifecycle / persistence ----

  private def stateDir: File = {
    val d = new File(fsConf.diskCacheDir)
    d.mkdirs()
    d
  }

  def saveState(): Unit = {
    pageCache.save(new File(stateDir, "pagecache.idx"))
    metaCache.save(new File(stateDir, "meta.bin"))
    writeCache.foreach(_.save(new File(stateDir, "filelist.bin")))
    stats.save(new File(stateDir, "stats.bin"))
  }

  private def loadState(): Unit = {
    pageCache.load(new File(stateDir, "pagecache.idx"))
    metaCache.load(new File(stateDir, "meta.bin"))
    writeCache.foreach(_.load(new File(stateDir, "filelist.bin")))
    // counters are auxiliary: a stale/corrupt stats file must not stop
    // the FS from initializing (the caches above ARE the data and stay
    // strict; losing counter history is an acceptable degradation)
    try stats.load(new File(stateDir, "stats.bin"))
    catch { case _: Exception => }
  }

  override def close(): Unit = {
    if (fsConf.persistent) saveState()
    try org.apache.spark.metrics.graft.GraftCacheSource.unregister(
      uri.toString, stats)
    catch { case _: Throwable => /* no Spark runtime on this classpath */ }
    remoteFs.close()
    super.close()
  }

  // test/bench hooks
  private[graft] def pageCacheRef: PageCache = pageCache
  private[graft] def metaCacheRef: MetaCache = metaCache
  private[graft] def writeCacheRef: Option[WriteCacheManager] = writeCache
}

object GraftCachingFileSystem {
  private val instances = new ConcurrentHashMap[String, GraftCachingFileSystem]()

  /** Shared async pool for ASYNC-close remote uploads (8 daemon threads,
    * like the reference's sidecar.thread.pool.max.size default). */
  private[fs] lazy val asyncPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "graft-async-close")
      t.setDaemon(true)
      t
    })

  private[fs] def register(uri: String, fs: GraftCachingFileSystem): Unit =
    instances.put(uri, fs)

  /** Stats lookup for tests/bench: the live instance for a graft:// uri. */
  def instanceFor(uri: String): Option[GraftCachingFileSystem] =
    Option(instances.get(uri))
}
