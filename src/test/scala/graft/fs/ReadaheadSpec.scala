package graft.fs

import java.io.InputStream
import java.net.URI
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileRange, FilterFileSystem, Path, PositionedReadable, RawLocalFileSystem, Seekable}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** How much an external fetch reads (`CachingInputStream.fetchSpan`):
  * the full I/O buffer at file start, on sequential streams and after a
  * run of cached pages; otherwise only the pages the request covers.
  * Every case counts the remote's GETs and bytes, and checks every byte
  * read against the generator. */
class ReadaheadSpec extends AnyFunSuite {

  private val PageSz = 64 * 1024
  private val IoPages = 4
  private val root = java.nio.file.Files.createTempDirectory("graft_readahead")

  private def newFs(tag: String, extra: (String, String)*): GraftCachingFileSystem = {
    val c = new Configuration(false)
    c.setLong("graft.fs.data.page.size", PageSz)
    c.setLong("graft.fs.io.buffer.size", IoPages.toLong * PageSz)
    c.setLong("graft.fs.memory.cache.size", 64L * PageSz)
    c.set("graft.fs.disk.cache.dir", root.resolve(s"pages_$tag").toString)
    c.set("graft.fs.write.cache.enabled", "false")
    c.set("graft.fs.remote.impl", classOf[GetCountingFileSystem].getName)
    extra.foreach { case (k, v) => c.set(k, v) }
    val fs = new GraftCachingFileSystem
    fs.initialize(URI.create("graft://test/"), c)
    GetCounts.reset()
    fs
  }

  private def byteAt(pos: Long, seed: Int): Byte = ((pos + seed) % 251).toByte

  /** A file of `pages` pages written straight to the remote's disk. */
  private def remoteFile(name: String, pages: Int, seed: Int): Path = {
    val f = root.resolve("remote").resolve(name)
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, Array.tabulate(pages * PageSz)(i => byteAt(i, seed)))
    new Path(s"graft://test$f")
  }

  private def check(buf: Array[Byte], from: Long, seed: Int): Unit =
    buf.indices.foreach(i => assert(buf(i) == byteAt(from + i, seed), s"byte at ${from + i}"))

  /** One positioned read on a stream of its own. */
  private def pread(fs: GraftCachingFileSystem, p: Path, from: Long, len: Int, seed: Int): Unit = {
    val in = fs.open(p)
    try {
      val b = new Array[Byte](len)
      in.readFully(from, b)
      check(b, from, seed)
    } finally in.close()
  }

  private def assertFetched(gets: Long, pages: Long): Unit = {
    assert(GetCounts.gets.get == gets, s"GETs (${GetCounts.bytes.get} bytes)")
    assert(GetCounts.bytes.get == pages * PageSz, "remote bytes")
  }

  test("a cold mid-file read fetches its own page, two when it straddles a boundary") {
    val fs = newFs("cold")
    val p = remoteFile("cold.bin", 16, 1)
    pread(fs, p, 5L * PageSz + 100, 1000, 1)
    assertFetched(gets = 1, pages = 1)
    pread(fs, p, 10L * PageSz - 10, 20, 1)
    assertFetched(gets = 2, pages = 3)
    // served by the pages just fetched: no remote call
    pread(fs, p, 9L * PageSz + 7, 4096, 1)
    assertFetched(gets = 2, pages = 3)
  }

  test("a read at offset 0 fetches the full span") {
    val fs = newFs("start")
    val p = remoteFile("start.bin", 16, 2)
    pread(fs, p, 0, 4096, 2)
    assertFetched(gets = 1, pages = IoPages)
  }

  test("a read after a run of cached pages fetches as many pages as the run") {
    val fs = newFs("run")
    val p = remoteFile("run.bin", 16, 3)
    pread(fs, p, 6L * PageSz, 10, 3)
    assertFetched(gets = 1, pages = 1)
    pread(fs, p, 7L * PageSz, 10, 3) // page 6 cached: a one-page run
    assertFetched(gets = 2, pages = 2)
    pread(fs, p, 8L * PageSz + 5, 10, 3) // pages 6-7 cached: pages 8-9
    assertFetched(gets = 3, pages = 4)
    // pages 6-9 cached: the run reaches the I/O buffer, a full span
    pread(fs, p, 10L * PageSz, 10, 3)
    assertFetched(gets = 4, pages = 4 + IoPages)
    // a full span again, cut at EOF (pages 14-15)
    pread(fs, p, 14L * PageSz, 10, 3)
    assertFetched(gets = 5, pages = 4 + IoPages + 2)
  }

  test("a sequential stream started mid-file fetches one page, then full spans") {
    val fs = newFs("seq")
    val p = remoteFile("seq.bin", 32, 4)
    val in = fs.open(p)
    try {
      in.seek(8L * PageSz)
      val b = new Array[Byte](PageSz)
      (8 until 17).foreach { pg =>
        in.readFully(b)
        check(b, pg.toLong * PageSz, 4)
      }
    } finally in.close()
    // page 8; pages 9-12; pages 13-16
    assertFetched(gets = 3, pages = 1 + 2 * IoPages)
  }

  test("a scan-detected stream with admission off keeps full spans") {
    val fs = newFs("scan", "graft.fs.scan.detector.threshold.pages" -> "4")
    val p = remoteFile("scan.bin", 32, 5)
    val in = fs.open(p)
    try {
      in.seek(5L * PageSz)
      val b = new Array[Byte](PageSz / 2)
      (0 until 2 * 27).foreach { i =>
        in.readFully(b)
        check(b, 5L * PageSz + i.toLong * b.length, 5)
      }
    } finally in.close()
    // page 5; six full spans from page 6; pages 30-31 at EOF
    assertFetched(gets = 8, pages = 27)
    // pages 5-9 came before the detector fired; pages 10-31 were not admitted
    assert(fs.stats.pagesPut.get == 5)
    assert(fs.stats.pagesRejectedScan.get == 22)
  }

  test("one stream per page in order costs one GET per I/O buffer") {
    val fs = newFs("warm")
    val files = (0 until 2).map(i => remoteFile(s"warm$i.bin", 8, 10 + i))
    for ((p, i) <- files.zipWithIndex; pg <- 0 until 8)
      pread(fs, p, pg.toLong * PageSz, 4096, 10 + i)
    assertFetched(gets = 2 * 8 / IoPages, pages = 16)
  }

  test("a vectored group fetches only its pages") {
    val fs = newFs("vec")
    val p = remoteFile("vec.bin", 16, 6)
    val base = 9L * PageSz
    val ranges = Seq((base + 100, 1000), (base + 5000, 2000), (base + PageSz + 10, 100))
      .map { case (o, n) => FileRange.createFileRange(o, n) }
    val in = fs.open(p)
    try {
      in.readVectored(ranges.asJava, n => java.nio.ByteBuffer.allocate(n))
      ranges.foreach { r =>
        val bb = r.getData.get()
        val b = new Array[Byte](bb.remaining)
        bb.get(b)
        check(b, r.getOffset, 6)
      }
    } finally in.close()
    // one group over pages 9 and 10
    assertFetched(gets = 1, pages = 2)
  }

  test("a contains probe leaves both LRU tiers in their order") {
    val dir = root.resolve("lru").toString
    val c = new PageCache(2L * PageSz, 2L * PageSz, dir, new Statistics, PageSz.toLong)
    val page = Array.fill[Byte](PageSz)(1)
    val k = (0 until 5).map(i => PageKey("lru", i.toLong * PageSz))
    def onDisk(i: Int) = new java.io.File(dir, s"lru_${k(i).offset}.page").exists
    c.put(k(0), page); c.put(k(1), page)
    assert(c.contains(k(0)))
    c.put(k(2), page)
    // memory's eldest was still page 0: it spilled, page 1 did not
    assert(onDisk(0) && !onDisk(1))
    c.put(k(3), page) // spills page 1; the disk tier now holds 0, 1
    assert(c.contains(k(0)))
    c.put(k(4), page) // spills page 2; the disk tier drops its eldest
    assert(!onDisk(0) && onDisk(1) && onDisk(2))
    c.clear()
  }
}

object GetCounts {
  val gets = new AtomicLong
  val bytes = new AtomicLong
  def reset(): Unit = { gets.set(0); bytes.set(0) }
}

/** A remote whose streams count positioned reads: each `readFully` is
  * one GET of its length. */
class GetCountingFileSystem extends FilterFileSystem(new RawLocalFileSystem) {
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    new FSDataInputStream(new GetCountingFileSystem.Counted(fs.open(f, bufferSize)))
}

object GetCountingFileSystem {
  final class Counted(in: FSDataInputStream) extends InputStream
      with Seekable with PositionedReadable {
    override def read(): Int = in.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int = in.read(b, off, len)
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(pos, b, off, len)
      GetCounts.gets.incrementAndGet()
      GetCounts.bytes.addAndGet(math.max(n, 0))
      n
    }
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      in.readFully(pos, b, off, len)
      GetCounts.gets.incrementAndGet()
      GetCounts.bytes.addAndGet(len)
    }
    override def readFully(pos: Long, b: Array[Byte]): Unit = readFully(pos, b, 0, b.length)
    override def close(): Unit = in.close()
  }
}
