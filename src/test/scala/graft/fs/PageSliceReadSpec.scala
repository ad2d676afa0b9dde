package graft.fs

import java.lang.management.ManagementFactory
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Slice reads (`PageCache.read`): a hit copies only the requested bytes
  * of a page, in both memory-tier modes and from the disk tier, and the
  * hit path through the filesystem no longer allocates a page-sized
  * copy. */
class PageSliceReadSpec extends AnyFunSuite {

  private val PageSz = 16 * 1024

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_slice_$tag").toString

  private def page(seed: Int, len: Int = PageSz): Array[Byte] =
    Array.tabulate(len)(i => ((i * 31 + seed * 7) % 251).toByte)

  /** `read` of [from, from + n) into the middle of a fresh buffer. */
  private def slice(c: PageCache, k: PageKey, from: Int, n: Int): Option[Array[Byte]] = {
    val dst = Array.fill[Byte](n + 8)(-1)
    if (!c.read(k, from, dst, 4, n)) None
    else {
      // the bytes around the slice stay untouched
      assert(dst.take(4).forall(_ == -1) && dst.takeRight(4).forall(_ == -1))
      Some(dst.slice(4, 4 + n))
    }
  }

  for (offheap <- Seq(false, true)) {
    val mode = if (offheap) "offheap" else "heap"

    test(s"$mode: read returns the full-page copy's bytes at page start, middle and end") {
      val c = new PageCache(4L * PageSz, 0, tmp(s"se_$mode"), new Statistics,
        PageSz.toLong, offheap = offheap)
      val k = PageKey("f", 0)
      val full = page(3)
      c.put(k, full)
      assert(c.get(k).get.sameElements(full))
      for ((from, n) <- Seq((0, 4096), (5000, 7000), (PageSz - 4096, 4096), (0, PageSz),
          (PageSz - 1, 1))) {
        assert(slice(c, k, from, n).get.sameElements(full.slice(from, from + n)),
          s"slice [$from, ${from + n})")
      }
      c.clear()
    }

    test(s"$mode: a short tail page serves its slices and its whole length") {
      val c = new PageCache(4L * PageSz, 0, tmp(s"tail_$mode"), new Statistics,
        PageSz.toLong, offheap = offheap)
      val k = PageKey("f", 3L * PageSz)
      val tail = page(4, 1000)
      c.put(k, tail)
      assert(c.get(k).get.sameElements(tail))
      assert(slice(c, k, 0, 1000).get.sameElements(tail))
      assert(slice(c, k, 990, 10).get.sameElements(tail.slice(990, 1000)))
      c.clear()
    }

    test(s"$mode: a disk-tier hit serves the slice and promotes the page") {
      val dir = tmp(s"disk_$mode")
      val stats = new Statistics
      val c = new PageCache(2L * PageSz, 16L * PageSz, dir, stats,
        PageSz.toLong, offheap = offheap)
      val pages = (0 until 4).map(i => PageKey("d", i.toLong * PageSz) -> page(10 + i))
      pages.foreach { case (k, d) => c.put(k, d) }
      // two pages fit in memory: pages 0 and 1 were spilled
      val (k0, d0) = pages.head
      val file0 = new java.io.File(dir, s"${k0.base}_${k0.offset}.page")
      assert(file0.exists())
      val spilled = stats.pagesEvictedToDisk.get
      assert(slice(c, k0, 100, 2000).get.sameElements(d0.slice(100, 2100)))
      // promoted: its page file is gone and the memory tier's eldest page
      // spilled to make room, exactly as a whole-page hit did
      assert(!file0.exists(), "disk-tier hit did not promote")
      assert(stats.pagesEvictedToDisk.get == spilled + 1)
      assert(c.memoryBytes == 2L * PageSz)
      // every page is still readable, from either tier
      pages.foreach { case (k, d) => assert(c.get(k).get.sameElements(d), s"lost $k") }
      c.clear()
    }

    test(s"$mode: a page larger than the memory tier is served from disk in place") {
      val dir = tmp(s"inplace_$mode")
      val c = new PageCache(PageSz / 2L, 16L * PageSz, dir, new Statistics,
        PageSz.toLong, offheap = offheap)
      val k = PageKey("big", 0)
      val d = page(20)
      c.put(k, d)
      assert(c.memoryBytes == 0 && c.diskTierBytes == PageSz)
      assert(slice(c, k, 8000, 4000).get.sameElements(d.slice(8000, 12000)))
      assert(new java.io.File(dir, s"${k.base}_${k.offset}.page").exists())
      assert(c.diskTierBytes == PageSz)
      c.clear()
    }

    test(s"$mode: read misses after the page is invalidated") {
      val c = new PageCache(4L * PageSz, 16L * PageSz, tmp(s"inv_$mode"), new Statistics,
        PageSz.toLong, offheap = offheap)
      (0 until 2).foreach(i => c.put(PageKey("g", i.toLong * PageSz), page(i)))
      assert(slice(c, PageKey("g", 0), 0, 16).isDefined)
      c.invalidateFile("g", 2L * PageSz, PageSz.toLong)
      val dst = Array.fill[Byte](16)(-1)
      assert(!c.read(PageKey("g", 0), 0, dst, 0, 16))
      assert(!c.read(PageKey("g", PageSz.toLong), 0, dst, 0, 16))
      assert(dst.forall(_ == -1), "a miss wrote into the caller's buffer")
      assert(c.pageCount == 0)
    }
  }

  test("put admits a slice of the caller's buffer and dedups by key") {
    val stats = new Statistics
    val c = new PageCache(4L * PageSz, 0, tmp("putslice"), stats,
      PageSz.toLong, offheap = true)
    val span = page(7, 3 * PageSz)
    c.put(PageKey("s", PageSz.toLong), span, PageSz, PageSz)
    c.put(PageKey("s", PageSz.toLong), span, 0, PageSz) // already cached: ignored
    assert(stats.pagesPut.get == 1)
    assert(c.get(PageKey("s", PageSz.toLong)).get.sameElements(span.slice(PageSz, 2 * PageSz)))
    // the cache owns its copy: the caller may reuse its buffer
    java.util.Arrays.fill(span, 0.toByte)
    assert(c.get(PageKey("s", PageSz.toLong)).get.sameElements(page(7, 3 * PageSz).slice(PageSz, 2 * PageSz)))
    c.clear()
  }

  test("page-key hex is unchanged: golden value") {
    // MD5("graft://local/a/b/123") in lowercase hex; persisted indexes and
    // disk-tier file names depend on this exact string
    assert(PageKey.baseFor("graft://local/a/b", 123L) == "e94f197438c66e1270b981d55a314bef")
  }

  test("a warm offheap hit through the filesystem allocates far less than a page") {
    val root = java.nio.file.Files.createTempDirectory("graft_slice_alloc")
    val remoteDir = root.resolve("remote")
    java.nio.file.Files.createDirectories(remoteDir)
    val conf = new Configuration(false)
    // default 1 MiB pages and 4 MiB I/O buffer, offheap memory tier
    conf.set("graft.fs.data.cache.type", "OFFHEAP")
    conf.setLong("graft.fs.memory.cache.size", 16L << 20)
    conf.set("graft.fs.disk.cache.dir", root.resolve("pages").toString)
    conf.set("graft.fs.write.cache.dir", root.resolve("wc").toString)
    val fs = new GraftCachingFileSystem
    fs.initialize(java.net.URI.create("graft://alloc/"), conf)
    val p = new Path(s"graft://alloc$remoteDir/f.bin")
    val len = 4 << 20
    val out = fs.create(p, true)
    out.write(Array.tabulate(len)(i => (i % 251).toByte))
    out.close()
    // first stream admits every page; a fresh stream has an empty
    // prefetch buffer, so its reads below are page-cache hits
    val warm = fs.open(p)
    warm.readFully(0, new Array[Byte](len))
    warm.close()

    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val in = fs.open(p)
    val dst = new Array[Byte](4096)
    val rnd = new scala.util.Random(1)
    var wrong = 0
    def preads(n: Int): Unit = (1 to n).foreach { _ =>
      val off = rnd.nextInt(len - dst.length).toLong
      in.readFully(off, dst, 0, dst.length)
      if (dst(0) != (off % 251).toByte || dst(4095) != ((off + 4095) % 251).toByte) wrong += 1
    }
    preads(2000) // warm-up: JIT
    val hitsBefore = fs.stats.bytesFromPageCache.get
    val reads = 200
    val before = mx.getCurrentThreadAllocatedBytes
    preads(reads)
    val perRead = (mx.getCurrentThreadAllocatedBytes - before) / reads
    in.close()
    assert(wrong == 0, s"$wrong reads returned wrong bytes")
    assert(fs.stats.bytesFromPageCache.get - hitsBefore == reads.toLong * dst.length,
      "the measured reads were not all page-cache hits")
    assert(perRead < (64L << 10), s"a 4 KiB hit allocated $perRead bytes")
    fs.pageCacheRef.clear()
  }
}
