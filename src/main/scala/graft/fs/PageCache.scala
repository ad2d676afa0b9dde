package graft.fs

import java.io.{File, FileInputStream, FileOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption.{CREATE, READ, TRUNCATE_EXISTING, WRITE}
import java.security.MessageDigest
import java.util.HexFormat
import scala.jdk.CollectionConverters._

/** Page identity: MD5(qualifiedPath + "/" + modTime) plus the
  * page-aligned offset — the reference's key scheme
  * (util/Utils.java:89-123). Embedding modTime makes keys of rewritten
  * files unreachable garbage instead of wrong answers. */
final case class PageKey(base: String, offset: Long) extends Serializable

object PageKey {
  private val Hex = HexFormat.of() // lowercase, no delimiter

  /** 32 lowercase hex digits. Persisted `pagecache.idx` entries and disk
    * tier file names embed this string, so its format must not change. */
  def baseFor(qualifiedPath: String, modTime: Long): String = {
    val md = MessageDigest.getInstance("MD5")
    Hex.formatHex(md.digest(s"$qualifiedPath/$modTime".getBytes("UTF-8")))
  }
}

/** Two-tier page cache: an LRU byte-budgeted memory tier whose victims
  * spill to an LRU disk tier (the reference's offheap->file victim
  * tiering, SidecarCachingFileSystem.java:916-929).
  *
  * The memory tier is mode-selectable (`graft.fs.data.cache.type`):
  * `offheap` (default, reference parity — SidecarDataCacheType.java:20-48)
  * stores pages in pooled `ByteBuffer.allocateDirect` segments so a
  * multi-GB per-executor cache lives outside the GC heap; `heap` keeps
  * plain byte arrays on the GC heap (no pool, right for small caches).
  * Both modes share identical budgets/LRU/admission, so hit rates are
  * mode-independent, and both move bytes the same number of times: a
  * hit (`read`) copies only the requested slice of the page, like the
  * reference's `getRange` (SidecarCachingInputStream.java:650-656), and
  * admission (`put`) copies the page once out of the caller's buffer.
  *
  * Lock-striped: keys hash into `NumShards` independent shards, each an
  * access-ordered LinkedHashMap pair guarded by its own monitor with
  * 1/NumShards of each byte budget. A 32-thread scan never serializes on
  * one global lock; a hit holds its shard for one slice copy, and no
  * lock is held across remote I/O. Budget skew across shards is
  * statistical noise — MD5-based keys distribute uniformly.
  */
final class PageCache(memCapacity: Long, diskCapacity: Long, diskDir: String,
    stats: Statistics, pageSize: Long = 1L << 20, offheap: Boolean = false) {

  // free-list cap = the whole byte budget in segments: everything the
  // shards can collectively release can be re-acquired without a fresh
  // allocation, and idle direct memory never exceeds ~2x budget
  private[fs] val pool: DirectPagePool =
    if (offheap)
      new DirectPagePool(
        math.min(pageSize, Int.MaxValue.toLong).toInt,
        math.max(1, (memCapacity / math.max(pageSize, 1)).toInt))
    else null

  // one stripe per ~4 MiB of memory budget, capped at 16: production
  // budgets (256 MiB default) get full striping, tiny test budgets
  // collapse to a single shard so per-shard capacity still fits pages
  private val NumShards =
    math.max(1, math.min(16, (memCapacity / (4L << 20)).toInt))
  private val shards = Array.tabulate(NumShards)(_ =>
    new PageShard(math.max(memCapacity / NumShards, 1),
      diskCapacity / NumShards, diskDir, stats, pool))

  new File(diskDir).mkdirs()

  // full 64-bit mix of the offset (fibonacci + xor-fold): page offsets
  // are multiples of pageSize, so any plain shift keeps them ≡ 0 modulo
  // a power-of-two shard count and would pin every page of a file to one
  // shard — the mix spreads consecutive pages across shards
  private[fs] def shardIndex(k: PageKey): Int = {
    var h = k.offset * 0x9E3779B97F4A7C15L
    h ^= h >>> 32
    math.floorMod(k.base.hashCode.toLong * 31 + h, NumShards.toLong).toInt
  }

  private def shardOf(k: PageKey): PageShard = shards(shardIndex(k))

  /** Copy `len` bytes of page `k`, starting `inPage` bytes into the
    * page, to `dst(dstOff)`. Returns false, leaving `dst` untouched, when
    * the page is in neither tier. A disk-tier hit promotes the page to
    * the memory tier when it fits there. */
  def read(k: PageKey, inPage: Int, dst: Array[Byte], dstOff: Int, len: Int): Boolean =
    shardOf(k).read(k, inPage, dst, dstOff, len)

  def contains(k: PageKey): Boolean = shardOf(k).contains(k)

  /** Admit `src[off, off + len)` as page `k` unless it is cached already;
    * the bytes are copied once, straight into the tier's storage. */
  def put(k: PageKey, src: Array[Byte], off: Int, len: Int): Unit =
    shardOf(k).put(k, src, off, len)

  /** Test helpers: a whole-page copy through `read`, and a whole-array put. */
  private[fs] def get(k: PageKey): Option[Array[Byte]] = shardOf(k).get(k)
  private[fs] def put(k: PageKey, data: Array[Byte]): Unit = put(k, data, 0, data.length)

  /** Drop every page of a file (walk offsets by pageSize like the
    * reference's evictDataPages). */
  def invalidateFile(base: String, fileLen: Long, pageSize: Long): Unit = {
    var off = 0L
    while (off < math.max(fileLen, pageSize)) {
      val k = PageKey(base, off)
      shardOf(k).invalidate(k)
      off += pageSize
    }
  }

  def clear(): Unit = shards.foreach(_.clear())

  def memoryBytes: Long = shards.map(_.memoryBytes).sum
  def diskTierBytes: Long = shards.map(_.diskTierBytes).sum
  def pageCount: Int = shards.map(_.pageCount).sum

  // ---- persistence (reference: caches save on shutdown, reload on init) ----

  def save(indexFile: File): Unit = {
    // spill all memory pages to the disk tier so data survives, then
    // write one combined index (key -> length) of the disk tiers
    val entries = shards.flatMap(_.spillAllAndIndex()).toList
    val out = new ObjectOutputStream(new FileOutputStream(indexFile))
    try out.writeObject(entries) finally out.close()
  }

  def load(indexFile: File): Unit = {
    if (!indexFile.exists()) return
    val in = new ObjectInputStream(new FileInputStream(indexFile))
    try {
      val entries = in.readObject().asInstanceOf[List[(PageKey, Long)]]
      entries.foreach { case (k, len) => shardOf(k).adopt(k, len) }
    } finally in.close()
  }
}

/** One stripe of the page cache — the original single-lock two-tier LRU,
  * now scoped to 1/NumShards of the key space and budgets. `pool` null
  * means heap mode; non-null stores page bytes in pooled direct
  * segments (see DirectPagePool). */
private final class PageShard(memCapacity: Long, diskCapacity: Long,
    diskDir: String, stats: Statistics, pool: DirectPagePool) {

  private val mem = new java.util.LinkedHashMap[PageKey, PageRef](64, 0.75f, true)
  private var memBytes = 0L
  // disk tier index: key -> file length (file name derived from key)
  private val disk = new java.util.LinkedHashMap[PageKey, Long](64, 0.75f, true)
  private var diskBytes = 0L

  private def diskFile(k: PageKey): File =
    new File(diskDir, s"${k.base}_${k.offset}.page")

  def read(k: PageKey, inPage: Int, dst: Array[Byte], dstOff: Int, len: Int): Boolean =
    synchronized {
      val m = mem.get(k)
      if (m != null) { m.copyTo(inPage, dst, dstOff, len); true }
      else if (disk.containsKey(k)) {
        val f = diskFile(k)
        if (!f.exists()) { removeDisk(k); false }
        else {
          val ch = FileChannel.open(f.toPath, READ)
          val promoted =
            try {
              val size = ch.size()
              if (memCapacity >= size) {
                val ref = PageRef.load(ch, size.toInt, pool)
                ref.copyTo(inPage, dst, dstOff, len)
                ref
              } else {
                // memory tier can't hold a page at all — serve from disk
                // in place (promoting would just spill straight back,
                // rewriting the same file on every hit)
                PageRef.readFully(ch, ByteBuffer.wrap(dst, dstOff, len), inPage.toLong)
                null
              }
            } finally ch.close()
          if (promoted != null) {
            // promote on hit (victim-cache behavior): the page moves
            // tiers, releasing the disk entry + file so it isn't counted
            // against both budgets
            removeDisk(k)
            f.delete()
            putMem(k, promoted)
          }
          true
        }
      } else false
    }

  def get(k: PageKey): Option[Array[Byte]] = synchronized {
    // disk length from the file, not `disk.get`: that would reorder the
    // disk tier's LRU, which `read` never does
    val m = mem.get(k)
    val len =
      if (m != null) m.length
      else if (disk.containsKey(k)) diskFile(k).length.toInt
      else -1
    if (len < 0) None
    else {
      val a = new Array[Byte](len)
      if (read(k, 0, a, 0, len)) Some(a) else None
    }
  }

  def contains(k: PageKey): Boolean = synchronized {
    mem.containsKey(k) || disk.containsKey(k)
  }

  /** Insert unless present (the reference dedups via maybeExists under a
    * lock — same key implies same bytes by construction). */
  def put(k: PageKey, src: Array[Byte], off: Int, len: Int): Unit = synchronized {
    if (!mem.containsKey(k) && !disk.containsKey(k)) {
      putMem(k, PageRef.copyOf(src, off, len, pool))
      stats.pagesPut.incrementAndGet()
    }
  }

  private def putMem(k: PageKey, page: PageRef): Unit = {
    mem.put(k, page)
    memBytes += page.length
    while (memBytes > memCapacity && !mem.isEmpty) {
      val it = mem.entrySet().iterator()
      val eldest = it.next()
      it.remove()
      memBytes -= eldest.getValue.length
      // write out BEFORE release: the disk write must not read a segment
      // already recycled to a concurrent put (same lock today, but the
      // order is the invariant worth keeping obvious)
      spillToDisk(eldest.getKey, eldest.getValue)
      eldest.getValue.release()
    }
  }

  private def spillToDisk(k: PageKey, page: PageRef): Unit = {
    if (diskCapacity <= 0) return
    if (!disk.containsKey(k)) {
      val f = diskFile(k)
      val ch = FileChannel.open(f.toPath, CREATE, WRITE, TRUNCATE_EXISTING)
      try page.writeTo(ch) finally ch.close()
      disk.put(k, page.length.toLong)
      diskBytes += page.length
      stats.pagesEvictedToDisk.incrementAndGet()
      while (diskBytes > diskCapacity && !disk.isEmpty) {
        val it = disk.entrySet().iterator()
        val eldest = it.next()
        it.remove()
        diskBytes -= eldest.getValue
        diskFile(eldest.getKey).delete()
      }
    }
  }

  private def removeDisk(k: PageKey): Unit = {
    val len = disk.remove(k)
    if (len != null) diskBytes -= len
  }

  def invalidate(k: PageKey): Unit = synchronized {
    val m = mem.remove(k)
    if (m != null) { memBytes -= m.length; m.release() }
    if (disk.containsKey(k)) { removeDisk(k); diskFile(k).delete() }
  }

  def clear(): Unit = synchronized {
    mem.values().asScala.foreach(_.release())
    mem.clear(); memBytes = 0
    disk.keySet().asScala.toSeq.foreach(k => diskFile(k).delete())
    disk.clear(); diskBytes = 0
  }

  def memoryBytes: Long = synchronized(memBytes)
  def diskTierBytes: Long = synchronized(diskBytes)
  def pageCount: Int = synchronized(mem.size() + disk.size())

  /** Persistence helper: spill the memory tier, return this shard's disk
    * index entries. Memory refs are released afterwards — save() runs at
    * shutdown, and in offheap mode the direct segments must not outlive
    * the cache they belong to. */
  def spillAllAndIndex(): Seq[(PageKey, Long)] = synchronized {
    mem.entrySet().asScala.toSeq.foreach { e =>
      spillToDisk(e.getKey, e.getValue)
      e.getValue.release()
    }
    mem.clear(); memBytes = 0
    disk.entrySet().asScala.toSeq.map(e => (e.getKey, e.getValue))
  }

  /** Persistence helper: re-adopt a disk page recorded in a saved index. */
  def adopt(k: PageKey, len: Long): Unit = synchronized {
    if (diskFile(k).exists() && !disk.containsKey(k)) {
      disk.put(k, len)
      diskBytes += len
    }
  }
}
