package graft.perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}

import graft.fs.GraftCachingFileSystem
import org.apache.hadoop.fs.Path

import scala.util.Random

/** fs-zipf: one thread drives the Hadoop FS API on graft://, no Spark.
  *
  * The remote holds 32 files of 8 MiB (256 MiB). About 80% of ops are
  * positioned reads of 4-64 KiB at a random offset of a page chosen by
  * Zipf(0.9) over the 256 one-MiB pages (page 0 hottest); 10% create a
  * new file of 64 KiB-1 MiB, and each created file is read back whole
  * by a later op (read-your-writes). Byte p of file i is
  * (p + i) % 256, so every read is checked against the generator.
  *
  * The page cache holds 96 MiB in memory and 32 MiB on disk, so the
  * file set is 2x the cache and about 30% of reads miss: p90 lies inside
  * the miss mode and the median among the hits (at the top of the
  * memory-hit mode, where it moves with the host's memory bandwidth;
  * the end-to-end list therefore carries the mean read latency). */
final class FsZipf(ctx: Ctx) extends Workload {
  import FsZipf._

  private val dataDir = ctx.dir("remote/zipf")
  private val newDir = ctx.dir("remote/zipf_new")
  private var cur: GraftCachingFileSystem = _

  private def dataPath(i: Int) = new Path(ctx.graft(new File(dataDir, s"f$i.bin")))
  private def newPath(i: Int) = new Path(ctx.graft(new File(newDir, s"n$i.bin")))

  def fs: GraftCachingFileSystem = cur

  /** The dataset, written straight to the remote's disk with fixed
    * modification times (page keys hash path + mtime). */
  def prepare(): Unit = {
    Harness.deleteTree(dataDir)
    dataDir.mkdirs()
    val buf = new Array[Byte](FileBytes)
    (0 until NFiles).foreach { i =>
      var p = 0
      while (p < FileBytes) { buf(p) = ((p + i) & 0xff).toByte; p += 1 }
      val f = new File(dataDir, s"f$i.bin")
      val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
      try out.write(buf) finally out.close()
      f.setLastModified(RemoteModel.Epoch - 86400000L + i * 1000L)
    }
  }

  /** The op list. The mix is exact rather than sampled, so seeds differ
    * in order and offsets but not in how much work a run holds: one
    * create at a seeded slot of every ten ops, each read back 5-20 ops
    * later, file sizes a seeded shuffle of 64 KiB..1 MiB, and the Zipf
    * pages drawn by stratified inverse-CDF sampling (one uniform draw
    * per equal-probability stratum, shuffled). */
  val ops: IndexedSeq[Op] = {
    val n = math.max(40, (OpsPerSecond * ctx.seconds * ctx.scale).toInt)
    val rnd = new Random(ctx.seed)
    val slots = Array.fill[Op](n)(null)
    val sizes = Iterator.continually(rnd.shuffle((1 to 16).toList)).flatten
    (0 until n / 10).foreach { b =>
      val k = b * 10 + rnd.nextInt(10)
      val c = Create(NewFileBase + b, sizes.next() * (64 << 10))
      slots(k) = c
      var at = k + 5 + rnd.nextInt(16)
      while (at < n && slots(at) != null) at += 1
      if (at < n) slots(at) = ReadBack(c.file, c.size)
    }
    val free = slots.indices.filter(slots(_) == null)
    val zipf = new Zipf(NFiles * PagesPerFile, 0.9)
    val pages = rnd.shuffle(free.indices.map(i =>
      zipf.page((i + rnd.nextDouble()) / free.size)))
    free.zip(pages).foreach { case (k, page) =>
      val len = (4 + rnd.nextInt(61)) << 10
      val inFile = (page % PagesPerFile).toLong * PageBytes +
        rnd.nextInt(PageBytes)
      slots(k) = Read(page / PagesPerFile,
        math.min(inFile, FileBytes - len.toLong), len)
    }
    slots.toIndexedSeq
  }

  def setup(): Unit = {
    teardown()
    Harness.clearCaches(ctx)
    Harness.deleteTree(newDir)
    cur = Harness.newFs(ctx,
      Harness.fsConf(ctx, MemBytes, DiskBytes, WriteCacheBytes))
    cur.mkdirs(new Path(ctx.graft(newDir)))
    // warm-up: touch the hottest pages until the cache is full; each
    // miss fetches one 4-page span from the remote
    (0 until CachePages).foreach { page =>
      require(read(Read(page / PagesPerFile,
        (page % PagesPerFile).toLong * PageBytes, 4096)),
        s"warm-up read of page $page returned wrong bytes")
    }
  }

  def teardown(): Unit = if (cur != null) { cur.close(); cur = null }

  private def read(r: Read): Boolean = {
    val in = cur.open(dataPath(r.file))
    try {
      val b = new Array[Byte](r.len)
      in.readFully(r.off, b)
      matches(b, r.off, r.file)
    } finally in.close()
  }

  def run(op: Op): Boolean = op match {
    case r: Read => read(r)
    case c: Create =>
      val out = cur.create(newPath(c.file), true)
      try out.write(pattern(c.file, c.size))
      finally out.close()
      true
    case b: ReadBack =>
      val in = cur.open(newPath(b.file))
      try {
        val buf = new Array[Byte](b.size)
        in.readFully(0L, buf)
        matches(buf, 0L, b.file) && cur.getFileStatus(newPath(b.file)).getLen == b.size
      } finally in.close()
  }

  /** Page-cache hits only: a read-back reads a whole 64 KiB-1 MiB file
    * from the write cache, a different path taking 3-4 ms against about
    * 0.5 ms for a page hit. */
  override def hitRead(r: OpRec): Boolean =
    r.kind == "read" && super.hitRead(r)

  def userBytes(done: Seq[OpRec]): Long =
    ops.zip(done).collect { case (c: Create, r) if r.ok => c.size.toLong }.sum
}

object FsZipf {
  val NFiles = 32
  val FileBytes: Int = 8 << 20
  val PageBytes: Int = 1 << 20
  val PagesPerFile: Int = FileBytes / PageBytes
  val MemBytes: Long = 96L << 20
  val DiskBytes: Long = 32L << 20
  val CachePages: Int = ((MemBytes + DiskBytes) / PageBytes).toInt
  /** Far above everything a run creates: the 95% eviction watermark of
    * the write cache is never reached, so no evictor thread runs. */
  val WriteCacheBytes: Long = 1L << 30
  val NewFileBase = 1000
  /** Ops per requested second (fixed work: the count depends only on
    * --seconds, never on how fast the ops ran). */
  val OpsPerSecond = 60

  final case class Read(file: Int, off: Long, len: Int) extends Op {
    def kind = "read"; def cls = "read"
  }
  final case class Create(file: Int, size: Int) extends Op {
    def kind = "create"; def cls = "write"
  }
  final case class ReadBack(file: Int, size: Int) extends Op {
    def kind = "read_back"; def cls = "read"
  }

  def pattern(file: Int, size: Int): Array[Byte] =
    Array.tabulate(size)(p => ((p + file) & 0xff).toByte)

  def matches(b: Array[Byte], off: Long, file: Int): Boolean = {
    var q = 0
    while (q < b.length && b(q) == ((off + q + file) & 0xff).toByte) q += 1
    q == b.length
  }

  /** Zipf(alpha) over 0..n-1: `page(u)` is the inverse CDF at u. */
  final class Zipf(n: Int, alpha: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, alpha))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def page(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }
}
