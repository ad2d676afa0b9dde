package graft.fs

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
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
}

object CountingRemoteState {
  val statusCalls = new java.util.concurrent.atomic.AtomicLong
}

/** A "remote" that counts HEAD (getFileStatus) calls — proves the meta
  * cache serves hot facts RPC-free and the lazy backfill pays exactly
  * one. */
class CountingRemoteFileSystem extends RawLocalFileSystem {
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    CountingRemoteState.statusCalls.incrementAndGet()
    super.getFileStatus(f)
  }
}
