package graft.fs

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Port of the reference's caching-FS test strategy (SURVEY.md §5):
  * deterministic content, per-tier byte counters asserted after each
  * step, CRUD/rename/eviction/persistence state machines, random
  * differential reads.
  *
  * Test sizes mirror TestCachingFileSystemBase.java:91-94:
  * 64 KiB pages, 256 KiB I/O buffer, 256 KiB files (4 pages).
  */
class CachingFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val root = java.nio.file.Files.createTempDirectory("graft_fs_test")
  private val remoteDir = root.resolve("remote")
  private val PageSz = 64 * 1024
  private val FileSz = 4 * PageSz

  private def newConf(tag: String, extra: (String, String)*): Configuration = {
    val c = new Configuration(false)
    c.setLong("graft.fs.data.page.size", PageSz)
    c.setLong("graft.fs.io.buffer.size", 4L * PageSz)
    c.set("graft.fs.disk.cache.dir", root.resolve(s"pages_$tag").toString)
    c.set("graft.fs.write.cache.dir", root.resolve(s"wc_$tag").toString)
    extra.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def newFs(tag: String, extra: (String, String)*): GraftCachingFileSystem = {
    val fs = new GraftCachingFileSystem
    fs.initialize(URI.create("graft://test/"), newConf(tag, extra: _*))
    fs
  }

  /** Reference fixture: byte at offset p is (p + seed) % 256. */
  private def expectedByte(pos: Long, seed: Int): Byte =
    ((pos + seed) % 256).toByte

  private def writeFile(fs: GraftCachingFileSystem, p: Path, len: Int,
      seed: Int): Unit = {
    val out = fs.create(p, true)
    val buf = Array.tabulate(len)(i => expectedByte(i.toLong, seed))
    out.write(buf)
    out.close()
  }

  private def graftPath(name: String): Path =
    new Path(s"graft://test${remoteDir.toString}/$name")

  override def beforeAll(): Unit = java.nio.file.Files.createDirectories(remoteDir)

  test("write-then-read: first read from write cache, second from page cache, zero remote") {
    val fs = newFs("t1")
    val p = graftPath("f1.bin")
    writeFile(fs, p, FileSz, 1)

    // write landed on remote AND in the write cache; moniker cleaned up
    assert(new java.io.File(s"$remoteDir/f1.bin").length() == FileSz)
    val wc = fs.writeCacheRef.get
    assert(wc.cacheFs.exists(wc.toCachePath(p)))
    assert(!wc.cacheFs.exists(wc.monikerPath(wc.toCachePath(p))))

    // 1st read: all bytes from the write cache
    val in1 = fs.open(p)
    val buf = new Array[Byte](FileSz)
    in1.readFully(0, buf)
    in1.close()
    assert(buf.zipWithIndex.forall { case (b, i) => b == expectedByte(i, 1) })
    assert(fs.stats.bytesFromWriteCache.get == FileSz)
    assert(fs.stats.bytesFromRemote.get == 0)

    // 2nd read (fresh stream): all bytes from the page cache
    val before = fs.stats.bytesFromPageCache.get
    val in2 = fs.open(p)
    in2.readFully(0, buf)
    in2.close()
    assert(fs.stats.bytesFromPageCache.get - before == FileSz)
    assert(fs.stats.bytesFromRemote.get == 0)
  }

  test("read after invalidation comes from remote") {
    val fs = newFs("t2")
    val p = graftPath("f2.bin")
    writeFile(fs, p, FileSz, 2)
    val in1 = fs.open(p)
    val buf = new Array[Byte](FileSz)
    in1.readFully(0, buf)
    in1.close()
    // drop cached copies (simulates cache loss, reference test :303-316)
    fs.pageCacheRef.clear()
    val wc = fs.writeCacheRef.get
    wc.cacheFs.delete(wc.toCachePath(p), false)
    val in2 = fs.open(p)
    in2.readFully(0, buf)
    in2.close()
    assert(fs.stats.bytesFromRemote.get == FileSz)
    assert(buf.zipWithIndex.forall { case (b, i) => b == expectedByte(i, 2) })
  }

  test("metadata served from cache without remote calls") {
    val fs = newFs("t3")
    val p = graftPath("f3.bin")
    writeFile(fs, p, PageSz, 3)
    fs.getFileStatus(p)
    val hitsBefore = fs.stats.metaHits.get
    val st = fs.getFileStatus(p)
    assert(st.getLen == PageSz)
    assert(fs.stats.metaHits.get == hitsBefore + 1)
  }

  test("rename migrates caches; delete invalidates") {
    val fs = newFs("t4")
    val a = graftPath("dir/a.bin")
    val b = graftPath("dir/b.bin")
    writeFile(fs, a, PageSz, 4)
    assert(fs.rename(a, b))
    val in = fs.open(b)
    val buf = new Array[Byte](PageSz)
    in.readFully(0, buf)
    in.close()
    assert(buf.zipWithIndex.forall { case (x, i) => x == expectedByte(i, 4) })
    assert(!fs.exists(a))
    val wc = fs.writeCacheRef.get
    assert(wc.cacheFs.exists(wc.toCachePath(b)))
    assert(!wc.cacheFs.exists(wc.toCachePath(a)))
    assert(fs.delete(b, false))
    assert(!fs.exists(b))
    assert(!wc.cacheFs.exists(wc.toCachePath(b)))
  }

  test("random positioned reads match the deterministic content") {
    val fs = newFs("t5")
    val p = graftPath("f5.bin")
    val len = FileSz + 12345 // deliberately page-unaligned
    writeFile(fs, p, len, 5)
    val in = fs.open(p)
    val rnd = new Random(42)
    (1 to 200).foreach { _ =>
      val off = rnd.nextInt(len)
      val n = math.min(rnd.nextInt(3 * PageSz) + 1, len - off)
      val buf = new Array[Byte](n)
      in.readFully(off, buf, 0, n)
      (0 until n).foreach { i =>
        assert(buf(i) == expectedByte(off + i, 5), s"offset ${off + i}")
      }
    }
    in.close()
    // conservation: every byte served is attributed to exactly one tier
    val s = fs.stats
    assert(s.bytesRead.get == s.bytesFromPageCache.get +
      s.bytesFromPrefetch.get + s.bytesFromWriteCache.get +
      s.bytesFromRemote.get)
  }

  test("per-tier byte counters add up to bytesRead across all four tiers") {
    val fs = newFs("sum")
    val p = graftPath("sum.bin")
    val len = FileSz + 777 // short tail page
    writeFile(fs, p, len, 12)
    val buf = new Array[Byte](len)
    def readAll(): Unit = {
      val in = fs.open(p)
      // page-sized steps: the first call of a span fetches it, the rest
      // are served from the stream's prefetch buffer
      (0 until len by PageSz).foreach { o =>
        in.readFully(o.toLong, buf, o, math.min(PageSz, len - o))
      }
      in.close()
      assert(buf.zipWithIndex.forall { case (b, i) => b == expectedByte(i, 12) })
    }
    readAll() // write cache + prefetch
    readAll() // page cache: slice reads
    fs.pageCacheRef.clear()
    val wc = fs.writeCacheRef.get
    wc.cacheFs.delete(wc.toCachePath(p), false)
    readAll() // remote + prefetch
    val s = fs.stats
    Seq(s.bytesFromWriteCache, s.bytesFromPrefetch, s.bytesFromPageCache,
      s.bytesFromRemote).foreach(c => assert(c.get > 0, s"a tier served nothing: $s"))
    assert(s.bytesFromPageCache.get == len)
    assert(s.bytesRead.get == 3L * len)
    assert(s.bytesRead.get == s.bytesFromPageCache.get +
      s.bytesFromPrefetch.get + s.bytesFromWriteCache.get +
      s.bytesFromRemote.get)
  }

  test("sequential scan is detected and pages stop being admitted") {
    val fs = newFs("t6", "graft.fs.scan.detector.threshold.pages" -> "4",
      "graft.fs.write.cache.enabled" -> "false")
    val p = graftPath("f6.bin")
    val len = 64 * PageSz
    writeFile(fs, p, len, 6)
    val in = fs.open(p)
    val buf = new Array[Byte](PageSz)
    (0 until 64).foreach(i => in.readFully(i.toLong * PageSz, buf))
    in.close()
    assert(fs.stats.pagesRejectedScan.get > 0,
      s"scan not detected: ${fs.stats}")
  }

  test("write-cache eviction trims to the stop watermark, FIFO, skipping monikers") {
    val cap = 10L * PageSz
    val fs = newFs("t7", "graft.fs.write.cache.size" -> cap.toString,
      "graft.fs.write.cache.async.evict" -> "false")
    val wc = fs.writeCacheRef.get
    (0 until 20).foreach { i =>
      // write through the FS; each file lands in the write cache
      writeFile(fs, graftPath(s"evict/f$i.bin"), PageSz, i)
    }
    // protect one early file with a moniker (upload "in flight")
    val protectedPath = wc.toCachePath(graftPath("evict/f5.bin"))
    if (wc.cacheFs.exists(protectedPath))
      wc.cacheFs.create(wc.monikerPath(protectedPath), true).close()
    wc.evictNow()
    assert(wc.used <= (cap * GraftFsConf.EvictionStop).toLong,
      s"used=${wc.used}")
    assert(fs.stats.filesEvicted.get > 0)
    assert(wc.cacheFs.exists(protectedPath), "monikered file was evicted")
    // FIFO: the newest file must survive
    assert(wc.cacheFs.exists(wc.toCachePath(graftPath("evict/f19.bin"))))
  }

  test("persistence: page cache survives a filesystem restart") {
    val p = graftPath("f8.bin")
    val fs1 = newFs("t8", "graft.fs.cache.persistent" -> "true",
      "graft.fs.write.cache.enabled" -> "false")
    writeFile(fs1, p, FileSz, 8)
    val in1 = fs1.open(p)
    val buf = new Array[Byte](FileSz)
    in1.readFully(0, buf)
    in1.close()
    fs1.saveState()
    val saved = fs1.stats.snapshot

    val fs2 = newFs("t8", "graft.fs.cache.persistent" -> "true",
      "graft.fs.write.cache.enabled" -> "false")
    // stats reload before any traffic: fs2 resumes fs1's cumulative
    // counters (reference behavior — stats persist with the caches)
    assert(fs2.stats.bytesRead.get == saved("bytesRead"),
      s"stats did not survive restart: ${fs2.stats}")
    val in2 = fs2.open(p)
    in2.readFully(0, buf)
    in2.close()
    assert(buf.zipWithIndex.forall { case (x, i) => x == expectedByte(i, 8) })
    // cache-local reload: the restart added zero NEW remote bytes...
    assert(fs2.stats.bytesFromRemote.get == saved("bytesFromRemote"),
      s"reload did not serve from cache: ${fs2.stats}")
    // ...while the cumulative read counters kept growing from fs1's base
    assert(fs2.stats.bytesRead.get == saved("bytesRead") + FileSz,
      s"cumulative bytesRead wrong after restart: ${fs2.stats}")
  }

  test("concurrent readers see consistent bytes") {
    val fs = newFs("t9")
    val p = graftPath("f9.bin")
    val len = 16 * PageSz
    writeFile(fs, p, len, 9)
    val errs = new java.util.concurrent.atomic.AtomicInteger
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        val rnd = new Random(t)
        val in = fs.open(p)
        (1 to 100).foreach { _ =>
          val off = rnd.nextInt(len)
          val n = math.min(rnd.nextInt(PageSz) + 1, len - off)
          val buf = new Array[Byte](n)
          in.readFully(off, buf, 0, n)
          (0 until n).foreach { i =>
            if (buf(i) != expectedByte(off + i, 9)) errs.incrementAndGet()
          }
        }
        in.close()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.get == 0)
  }

  test("append tees into the write cache: read-your-appends, zero remote bytes") {
    val fs = newFs("t10")
    val p = graftPath("f10.bin")
    writeFile(fs, p, PageSz, 10)
    val out = fs.append(p)
    out.write(Array.tabulate(PageSz)(i => expectedByte((PageSz + i).toLong, 10)))
    out.close()
    // remote holds both halves; the cache copy was extended in lockstep
    assert(new java.io.File(s"$remoteDir/f10.bin").length() == 2 * PageSz)
    val wc = fs.writeCacheRef.get
    val cp = wc.toCachePath(p)
    assert(wc.cacheFs.getFileStatus(cp).getLen == 2 * PageSz)
    assert(!wc.cacheFs.exists(wc.monikerPath(cp)), "append moniker not lifted")
    // first read after the append: every byte from the write cache
    val in = fs.open(p)
    val buf = new Array[Byte](2 * PageSz)
    in.readFully(0, buf)
    in.close()
    assert(buf.zipWithIndex.forall { case (b, i) => b == expectedByte(i, 10) })
    assert(fs.stats.bytesFromRemote.get == 0, s"remote read: ${fs.stats}")
  }

  test("append over a divergent cache copy falls back to remote-only") {
    val fs = newFs("t11")
    val p = graftPath("f11.bin")
    writeFile(fs, p, PageSz, 11)
    val wc = fs.writeCacheRef.get
    val cp = wc.toCachePath(p)
    // truncate the copy out from under the cache: lengths now disagree
    val trunc = wc.cacheFs.create(cp, true); trunc.write(1); trunc.close()
    val out = fs.append(p)
    out.write(Array.tabulate(8)(i => expectedByte((PageSz + i).toLong, 11)))
    out.close()
    // the divergent copy was dropped, not extended
    assert(!wc.cacheFs.exists(cp))
    val in = fs.open(p)
    val buf = new Array[Byte](PageSz + 8)
    in.readFully(0, buf)
    in.close()
    assert(buf.zipWithIndex.forall { case (b, i) => b == expectedByte(i, 11) })
    assert(fs.stats.bytesFromRemote.get == PageSz + 8)
  }

  test("scan detector truth table") {
    val d = new ScanDetector(3, 100)
    assert(!d.record(0))
    assert(!d.record(100))
    assert(d.record(200))   // 3 consecutive
    assert(d.record(300))
    assert(!d.record(700))  // gap breaks the run
    d.reset()
    assert(!d.record(0))
  }

  test("cached status backfills owner/permissions lazily with exactly one remote RPC") {
    val fs = newFs("lazy",
      "graft.fs.remote.impl" -> classOf[CountingRemoteFileSystem].getName)
    val p = graftPath("lazy.bin")
    writeFile(fs, p, PageSz, 7)
    fs.getFileStatus(p) // warm the meta record
    CountingRemoteState.statusCalls.set(0)

    val st = fs.getFileStatus(p)
    // hot facts (length/mtime/isDir) serve from the 17-byte record: no HEAD
    assert(st.getLen == PageSz)
    assert(st.getModificationTime > 0)
    assert(!st.isDirectory)
    assert(CountingRemoteState.statusCalls.get() == 0,
      "hot facts must not touch the remote")

    val raw = new RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"), new Configuration(false))
    val expected = raw.getFileStatus(new Path(s"$remoteDir/lazy.bin"))

    // first lazy-field access = exactly one backfill RPC, true remote owner
    assert(st.getOwner == expected.getOwner)
    assert(CountingRemoteState.statusCalls.get() == 1,
      "owner access must backfill with one RPC")
    // further lazy fields reuse the memoized source status
    assert(st.getGroup == expected.getGroup)
    assert(st.getPermission == expected.getPermission)
    assert(st.getBlockSize == expected.getBlockSize)
    assert(CountingRemoteState.statusCalls.get() == 1,
      "backfill must be memoized")
  }

  test("a remote stat loads owner, group and permission only when asked") {
    val fs = countingFs("lazyhead")
    writeRemote("lazyhead.bin", 777)
    val p = graftPath("lazyhead.bin")
    CountingRemoteState.reset()
    val st = fs.getFileStatus(p) // a miss: one HEAD
    assert(CountingRemoteState.statusCalls.get == 1)
    assert(st.getLen == 777 && st.isFile)
    assert(CountingRemoteState.permissionGets.get == 0,
      "the miss forced the remote status's permission fields")
    val raw = new RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"), new Configuration(false))
    val expected = raw.getFileStatus(new Path(s"$remoteDir/lazyhead.bin"))
    assert(st.getPermission == expected.getPermission)
    assert(st.getOwner == expected.getOwner)
    assert(st.getGroup == expected.getGroup)
    assert(st.getModificationTime == expected.getModificationTime)
    assert(st.getBlockSize == expected.getBlockSize)
    assert(st.getReplication == expected.getReplication)
    assert(CountingRemoteState.permissionGets.get == 3)
    assert(CountingRemoteState.statusCalls.get == 1, "a field access sent another HEAD")
  }

  // the local file systems behind the cache set modes through java.nio
  // (NioLocalFileSystem): the same modes Hadoop's chmod fork gave
  for ((umask, fileMode, dirMode) <- Seq((None, "rw-r--r--", "rwxr-xr-x"),
      (Some("077"), "rw-------", "rwx------"))) {
    test(s"local modes under umask ${umask.getOrElse("default")}: copy $fileMode, moniker, new directory $dirMode") {
      val tag = s"modes_${umask.getOrElse("default")}"
      val fs = newFs(tag, umask.map("fs.permissions.umask-mode" -> _).toSeq: _*)
      val wc = fs.writeCacheRef.get
      assert(wc.cacheFs.isInstanceOf[NioLocalFileSystem])
      val p = graftPath(s"$tag/new_dir/f.bin")
      writeFile(fs, p, 100, 3)
      val cp = wc.toCachePath(p)
      wc.writeMoniker(cp, "token")
      def mode(local: String) = java.nio.file.attribute.PosixFilePermissions.toString(
        java.nio.file.Files.getPosixFilePermissions(java.nio.file.Paths.get(local)))
      assert(mode(cp.toUri.getPath) == fileMode, "write-cache copy")
      assert(mode(wc.monikerPath(cp).toUri.getPath) == fileMode, "moniker")
      assert(mode(cp.getParent.toUri.getPath) == dirMode, "new write-cache directory")
      assert(mode(s"$remoteDir/$tag/new_dir/f.bin") == fileMode, "remote file")
      assert(mode(s"$remoteDir/$tag/new_dir") == dirMode, "new remote directory")
    }
  }

  // Hadoop's FileStatus.isFile asks isSymlink; while the symlink flag
  // was a backfilled field, this cost one HEAD
  test("isFile on a cached status is answered from the record: zero remote calls") {
    val fs = newFs("isfile",
      "graft.fs.remote.impl" -> classOf[CountingRemoteFileSystem].getName)
    val p = graftPath("isfile.bin")
    writeFile(fs, p, PageSz, 5)
    fs.getFileStatus(p) // warm the meta record
    CountingRemoteState.reset()
    val st = fs.getFileStatus(p)
    assert(st.isFile && !st.isSymlink)
    assert(CountingRemoteState.allCalls.get == 0,
      s"isFile made ${CountingRemoteState.allCalls.get} remote call(s)")
  }

  // ---- listStatus of a file the meta cache knows ----

  private def countingFs(tag: String, extra: (String, String)*) =
    newFs(tag, (("graft.fs.remote.impl" ->
      classOf[CountingRemoteFileSystem].getName) +: extra): _*)

  /** Writes `len` bytes straight to the remote, behind the cache's back. */
  private def writeRemote(name: String, len: Int): Unit = {
    val f = remoteDir.resolve(name)
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, Array.fill[Byte](len)(7))
  }

  /** Writes like [[writeFile]] and returns the wall clock just before
    * and just after the close. */
  private def writeTimed(fs: GraftCachingFileSystem, p: Path, len: Int,
      seed: Int): (Long, Long) = {
    val out = fs.create(p, true)
    out.write(Array.tabulate(len)(i => expectedByte(i.toLong, seed)))
    val before = System.currentTimeMillis()
    out.close()
    (before, System.currentTimeMillis())
  }

  // A file this FS created reports its close stamp as its mtime (the
  // remote is never asked); a file learned from a stat reports the
  // remote's mtime.
  test("listStatus of a known file is served from its meta record: zero remote calls, the remote listing's facts") {
    val fs = countingFs("lsf")
    // the same remote through an instance that never trusts its records
    val remoteView = countingFs("lsf_remote", "graft.fs.remote.files.mutable" -> "true")
    val created = graftPath("lsf/created.bin")
    val statted = graftPath("lsf/statted.bin")
    val (closeFrom, closeTo) = writeTimed(fs, created, PageSz + 3, 1) // known from the create
    writeRemote("lsf/statted.bin", 777)
    fs.getFileStatus(statted) // known from a stat
    Seq(created, statted).foreach { p =>
      CountingRemoteState.reset()
      val Array(st) = fs.listStatus(p)
      // Spark's listLeafFiles reads these off every listed file
      st.getReplication; st.getBlockSize; st.isSymlink
      assert(CountingRemoteState.allCalls.get == 0, s"remote call listing $p")
      assert(st.getClass == classOf[FileStatus], "a CachedFileStatus would backfill")
      assert(st.getReplication == 1 && st.getBlockSize == PageSz)
      val Array(rs) = remoteView.listStatus(p)
      assert(CountingRemoteState.listCalls.get == 1)
      assert(st.getPath == rs.getPath)
      assert(st.getLen == rs.getLen)
      assert(st.isDirectory == rs.isDirectory && !st.isDirectory)
      if (p == statted) assert(st.getModificationTime == rs.getModificationTime)
      else {
        val m = st.getModificationTime
        assert(m >= closeFrom && m <= closeTo, s"mtime $m outside the close [$closeFrom, $closeTo]")
        assert(fs.listStatus(p).head.getModificationTime == m)
        assert(fs.getFileStatus(p).getModificationTime == m)
      }
    }
  }

  test("listStatus of a deleted file goes remote and throws FileNotFoundException") {
    val fs = countingFs("lsdel")
    val p = graftPath("lsdel/gone.bin")
    writeFile(fs, p, PageSz, 2)
    assert(fs.listStatus(p).map(_.getLen).sameElements(Array(PageSz.toLong)))
    assert(fs.delete(p, false))
    CountingRemoteState.reset()
    intercept[java.io.FileNotFoundException](fs.listStatus(p))
    assert(CountingRemoteState.listCalls.get == 1)
  }

  test("listStatus after an overwrite shows the new length") {
    val fs = countingFs("lsow")
    val p = graftPath("lsow/f.bin")
    writeFile(fs, p, PageSz, 3)
    val Array(first) = fs.listStatus(p)
    assert(first.getLen == PageSz)
    val (closeFrom, closeTo) = writeTimed(fs, p, 2 * PageSz + 5, 4)
    CountingRemoteState.reset()
    val Array(st) = fs.listStatus(p)
    assert(CountingRemoteState.allCalls.get == 0)
    assert(st.getLen == 2 * PageSz + 5)
    // the close stamp, pushed one past the first generation's when both
    // closed within one millisecond
    val m = st.getModificationTime
    assert(m > first.getModificationTime)
    assert(m >= closeFrom && m <= math.max(closeTo, first.getModificationTime + 1),
      s"mtime $m outside the close [$closeFrom, $closeTo]")
    assert(fs.listStatus(p).head.getModificationTime == m)
    assert(fs.getFileStatus(p).getModificationTime == m)
  }

  test("listStatus of a file goes remote when the remote is mutable") {
    val fs = countingFs("lsmut", "graft.fs.remote.files.mutable" -> "true")
    val p = graftPath("lsmut/f.bin")
    writeFile(fs, p, PageSz, 5)
    fs.getFileStatus(p)
    CountingRemoteState.reset()
    (1 to 2).foreach(_ => assert(fs.listStatus(p).head.getLen == PageSz))
    assert(CountingRemoteState.listCalls.get == 2)
    assert(CountingRemoteState.fileListCalls.get == 2)
  }

  test("a directory is listed remotely on every call, and its record counts no hit") {
    val fs = countingFs("lsdir")
    val d = graftPath("lsdir/d")
    writeFile(fs, new Path(d, "a.bin"), PageSz, 6)
    writeFile(fs, new Path(d, "b.bin"), PageSz, 7)
    assert(fs.getFileStatus(d).isDirectory) // the meta cache knows d
    CountingRemoteState.reset()
    val before = fs.stats.snapshot
    (1 to 3).foreach { _ =>
      assert(fs.listStatus(d).map(_.getPath.getName).sorted.toSeq ==
        Seq("a.bin", "b.bin"))
    }
    assert(CountingRemoteState.listCalls.get == 3)
    assert(fs.stats.snapshot == before, "a remote listing moved a counter")
  }

  test("a served file listing counts one meta hit and moves no other counter") {
    val fs = countingFs("lscnt")
    val known = graftPath("lscnt/known.bin")
    writeFile(fs, known, PageSz, 8)
    writeRemote("lscnt/unknown.bin", 100)
    val before = fs.stats.snapshot
    fs.listStatus(known)
    val after = fs.stats.snapshot
    assert(after("metaHits") == before("metaHits") + 1)
    assert(after.updated("metaHits", before("metaHits")) == before)
    // a file with no record lists remotely and counts neither hit nor miss
    CountingRemoteState.reset()
    assert(fs.listStatus(graftPath("lscnt/unknown.bin")).head.getLen == 100)
    assert(CountingRemoteState.fileListCalls.get == 1)
    assert(fs.stats.snapshot == after)
  }

  test("rename(file, existingDir) moves the record and the write-cache copy to dir/<name>; the directory keeps its facts") {
    // a write cache of one page: every settled copy is over the watermark
    val fs = countingFs("rndir", "graft.fs.write.cache.size" -> PageSz.toString,
      "graft.fs.write.cache.async.evict" -> "false")
    val src = graftPath("rndir/a.bin")
    val dir = graftPath("rndir/into")
    writeFile(fs, src, PageSz, 9)
    assert(fs.mkdirs(dir))
    assert(fs.getFileStatus(dir).isDirectory) // the meta cache knows dir
    assert(fs.rename(src, dir))
    val landed = new Path(dir, "a.bin")
    assert(new java.io.File(s"$remoteDir/rndir/into/a.bin").length() == PageSz)

    val st = fs.getFileStatus(dir)
    assert(st.isDirectory, s"directory reported as a file of length ${st.getLen}")
    assert(fs.listStatus(dir).map(_.getPath).toSeq == Seq(landed))
    CountingRemoteState.reset()
    val Array(ls) = fs.listStatus(landed)
    assert(CountingRemoteState.allCalls.get == 0, "the record did not follow the file")
    assert(ls.getLen == PageSz)
    val in = fs.open(landed)
    val buf = new Array[Byte](PageSz)
    in.readFully(0, buf)
    in.close()
    assert(buf.zipWithIndex.forall { case (b, i) => b == expectedByte(i, 9) })
    assert(fs.stats.bytesFromWriteCache.get == PageSz)
    // the write cache tracks the copy where it landed, so eviction finds it
    val wc = fs.writeCacheRef.get
    wc.evictNow()
    assert(!wc.cacheFs.exists(wc.toCachePath(landed)), "copy at dir/<name> not evicted")
    assert(wc.used == 0)

    // dst unknown to the meta cache: the record is dropped, not guessed
    val src2 = graftPath("rndir/b.bin")
    val dir2 = graftPath("rndir/unknown")
    writeFile(fs, src2, PageSz, 10)
    java.nio.file.Files.createDirectories(remoteDir.resolve("rndir/unknown"))
    assert(fs.rename(src2, dir2))
    assert(!fs.metaCacheRef.contains(dir2.toString))
    assert(!fs.metaCacheRef.contains(src2.toString))
    assert(!fs.metaCacheRef.contains(new Path(dir2, "b.bin").toString))
    assert(fs.getFileStatus(dir2).isDirectory)
    assert(fs.getFileStatus(new Path(dir2, "b.bin")).getLen == PageSz)
  }

  test("rename of a directory moves its children's write-cache entries: eviction frees the moved copies") {
    // Spark's commit protocol renames task-attempt directories: the file
    // list must follow the children, or eviction "frees" paths that no
    // longer exist and the moved copies stay on disk, untracked.
    val cap = 1L << 20
    val fs = newFs("rnsub", "graft.fs.write.cache.size" -> cap.toString,
      "graft.fs.write.cache.async.evict" -> "false")
    val wc = fs.writeCacheRef.get
    val stage = graftPath("rnsub/stage")
    val fin = graftPath("rnsub/final")
    val Len = 200 * 1000
    (0 until 4).foreach(i => writeFile(fs, new Path(stage, s"part-$i.bin"), Len, i))
    assert(fs.rename(stage, fin))
    val moved = (0 until 4).map(i => wc.toCachePath(new Path(fin, s"part-$i.bin")))
    assert(moved.forall(wc.cacheFs.exists(_)), "the local rename did not move the copies")
    assert(wc.listedFiles == 4 && wc.used == 4L * Len)
    // three later copies push the cache over its start watermark
    (0 until 3).foreach(i => writeFile(fs, graftPath(s"rnsub/fill-$i.bin"), Len, 10 + i))
    wc.evictNow()
    // FIFO down to the stop watermark: the three oldest (moved) copies go
    assert(fs.stats.filesEvicted.get == 3)
    assert(moved.take(3).forall(!wc.cacheFs.exists(_)), "a moved copy survived its eviction")
    assert(wc.cacheFs.exists(moved(3)))
    assert(wc.used == 4L * Len && wc.listedFiles == 4)
    val in = fs.open(new Path(fin, "part-3.bin"))
    val buf = new Array[Byte](Len)
    in.readFully(0, buf)
    in.close()
    assert(buf.zipWithIndex.forall { case (b, i) => b == expectedByte(i, 3) })
  }

  // ---- a created file's meta record comes from its close ----

  test("a sync create + close costs one PUT and no HEAD; its record then serves stat, open and listing remote-free") {
    val fs = countingFs("closerec")
    val p = graftPath("closerec/f.bin")
    val len = PageSz + 11
    CountingRemoteState.reset()
    writeFile(fs, p, len, 12)
    assert(CountingRemoteState.createCalls.get == 1)
    assert(CountingRemoteState.statusCalls.get == 0, "the close HEADed the remote")
    assert(CountingRemoteState.allCalls.get == 1)
    CountingRemoteState.reset()
    assert(fs.getFileStatus(p).getLen == len)
    val in = fs.open(p)
    val buf = new Array[Byte](len)
    in.readFully(0, buf)
    in.close()
    assert(buf.zipWithIndex.forall { case (b, i) => b == expectedByte(i, 12) })
    val Array(ls) = fs.listStatus(p)
    assert(ls.getLen == len)
    assert(CountingRemoteState.allCalls.get == 0,
      s"${CountingRemoteState.allCalls.get} remote call(s) after the close")
  }

  test("a sync create whose remote close fails leaves no meta record") {
    val fs = newFs("closefail",
      "graft.fs.remote.impl" -> classOf[FlakyRemoteFileSystem].getName)
    val p = graftPath("closefail/f.bin")
    writeFile(fs, p, PageSz, 13) // an earlier generation's record
    assert(fs.metaCacheRef.contains(p.toString))
    FlakyRemoteState.failNextCreateClose.set(true)
    val out = fs.create(p, true)
    out.write(Array.fill[Byte](PageSz)(1))
    intercept[java.io.IOException](out.close())
    assert(!fs.metaCacheRef.contains(p.toString), "a failed close left a meta record")
  }

  test("50 overwrites of one path in a tight loop, then 50 past a record ahead of the clock: each read returns its own generation, no page key is reused") {
    val fs = newFs("gen50")
    val p = graftPath("gen50/f.bin")
    val buf = new Array[Byte](PageSz)
    def overwrite(g: Int): Long = {
      writeFile(fs, p, PageSz, g)
      val in = fs.open(p)
      in.readFully(0, buf)
      in.close()
      assert(buf.zipWithIndex.forall { case (b, i) => b == expectedByte(i, g) },
        s"generation $g read another generation's bytes")
      fs.getFileStatus(p).getModificationTime
    }
    def increasing(stamps: Seq[Long]) =
      assert(stamps.zip(stamps.tail).forall { case (a, b) => b > a },
        s"stamps not strictly increasing: $stamps")
    val stamps = (0 until 50).map(overwrite)
    increasing(stamps)
    // a write plus a read takes milliseconds here, so the loop above
    // rarely closes two generations in one millisecond; a record an
    // hour ahead of the clock puts every following close "inside" the
    // previous generation's millisecond
    val m = fs.metaCacheRef.peek(p.toString).get
    val ahead = m.copy(modTime = m.modTime + 3600 * 1000L)
    fs.metaCacheRef.put(p.toString, ahead)
    val late = ahead.modTime +: (50 until 100).map(overwrite)
    increasing(late)
    assert((stamps ++ late).map(PageKey.baseFor(p.toString, _)).distinct.size == 101)
  }

  // rename drops the meta records of a renamed directory's children.
  // Carrying them to dst/<child> would be wrong when dst already exists:
  // the children land at dst/<dir>/<child>, and the log publish's
  // witness check (exists(dst/_commit_<id>)) must reach the remote to
  // see that nesting.
  test("rename(dir, existingDir) on graft://: the children's records are not carried to existingDir/<child>") {
    val fs = countingFs("rnnest")
    val src = graftPath("rnnest/_tmp_a")
    val dst = graftPath("rnnest/v=1")
    writeFile(fs, new Path(src, "_commit_a"), 0, 0) // a close-time record
    writeRemote("rnnest/v=1/_commit_b", 0) // a racing writer published v=1
    assert(fs.rename(src, dst))
    CountingRemoteState.reset()
    assert(!fs.exists(new Path(dst, "_commit_a")))
    assert(CountingRemoteState.statusCalls.get == 1, "the witness check did not reach the remote")
    assert(fs.exists(new Path(new Path(dst, "_tmp_a"), "_commit_a")))
  }
}

object CountingRemoteState {
  import java.util.concurrent.atomic.AtomicLong
  /** HEADs: getFileStatus calls. */
  val statusCalls = new AtomicLong
  /** getPermission, getOwner and getGroup calls on the statuses the
    * remote returned (a local status forks `ls -ld` on the first). */
  val permissionGets = new AtomicLong
  /** LISTs of any path. */
  val listCalls = new AtomicLong
  /** LISTs of a path that is a file. */
  val fileListCalls = new AtomicLong
  /** Every remote call, of any kind. */
  val allCalls = new AtomicLong
  /** RENAMEs. */
  val renameCalls = new AtomicLong
  /** PUTs: create calls. */
  val createCalls = new AtomicLong
  /** Calls of any kind made from Hadoop's `FileOutputCommitter`. */
  val committerCalls = new AtomicLong
  /** The path of every LIST, in call order. */
  val listedPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def reset(): Unit = {
    Seq(statusCalls, permissionGets, listCalls, fileListCalls, allCalls,
      renameCalls, createCalls, committerCalls).foreach(_.set(0))
    listedPaths.clear()
  }
}

/** A "remote" that counts its requests: HEADs (getFileStatus), LISTs
  * (and which of them list a file path), RENAMEs, calls of every kind
  * and which of those Hadoop's FileOutputCommitter made. It
  * filters a RawLocalFileSystem, so the local FS's own internal
  * getFileStatus calls are not counted. Proves the meta cache serves hot
  * facts and file listings RPC-free and the lazy backfill pays exactly
  * one HEAD. */
class CountingRemoteFileSystem extends FilterFileSystem(new RawLocalFileSystem) {
  import CountingRemoteState._

  private def call[T](body: => T): T = {
    allCalls.incrementAndGet()
    if (new Throwable().getStackTrace.exists(_.getClassName ==
        "org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter"))
      committerCalls.incrementAndGet()
    body
  }

  override def getFileStatus(f: Path): FileStatus = call {
    statusCalls.incrementAndGet()
    val rs = fs.getFileStatus(f)
    // the counted fields load from `rs` only when asked
    new FileStatus(rs.getLen, rs.isDirectory, rs.getReplication, rs.getBlockSize,
        rs.getModificationTime, rs.getAccessTime, null, null, null, rs.getPath) {
      override def getPermission: FsPermission = { permissionGets.incrementAndGet(); rs.getPermission }
      override def getOwner: String = { permissionGets.incrementAndGet(); rs.getOwner }
      override def getGroup: String = { permissionGets.incrementAndGet(); rs.getGroup }
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = call {
    listCalls.incrementAndGet()
    listedPaths.add(f.toUri.getPath)
    if (new java.io.File(f.toUri.getPath).isFile) fileListCalls.incrementAndGet()
    fs.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    call(fs.open(f, bufferSize))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = call {
    createCalls.incrementAndGet()
    fs.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    call(fs.append(f, bufferSize, progress))

  override def rename(src: Path, dst: Path): Boolean = call {
    renameCalls.incrementAndGet()
    fs.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean =
    call(fs.delete(f, recursive))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    call(fs.mkdirs(f, permission))
}
