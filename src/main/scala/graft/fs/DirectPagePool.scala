package graft.fs

import java.io.EOFException
import java.nio.ByteBuffer
import java.nio.channels.{FileChannel, WritableByteChannel}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** Pool of fixed-size direct `ByteBuffer` segments backing the page
  * cache's off-heap memory tier (reference default tiers are offheap and
  * hybrid offheap→file, SidecarDataCacheType.java:20-48).
  *
  * Why pooled: a multi-GB page cache allocating/freeing one direct
  * buffer per page churns through `Bits.reserveMemory` and leaves
  * deallocation to `Cleaner` GC pressure — the classic direct-memory
  * failure mode. Here every segment is `pageSize` bytes, acquired on
  * page admission and returned on eviction/invalidation, so steady state
  * allocates nothing and total direct memory is bounded by the byte
  * budget (+ one in-flight segment per shard).
  *
  * Oversize requests (a page larger than the configured page size can
  * only happen if a caller bypasses the page-aligned read path) fall
  * back to a dedicated unpooled buffer that is dropped to GC on release
  * rather than poisoning the free list with odd capacities.
  */
final class DirectPagePool(segmentSize: Int, maxFreeSegments: Int) {

  private val free = new ConcurrentLinkedQueue[ByteBuffer]()
  private val freeCount = new AtomicLong(0)
  /** Total segments ever allocated (tests assert pooling actually reuses). */
  val allocatedSegments = new AtomicLong(0)

  def acquire(len: Int): ByteBuffer = {
    if (len > segmentSize) ByteBuffer.allocateDirect(len)
    else {
      val b = free.poll()
      if (b != null) { freeCount.decrementAndGet(); b.clear(); b }
      else {
        allocatedSegments.incrementAndGet()
        ByteBuffer.allocateDirect(segmentSize)
      }
    }
  }

  def release(b: ByteBuffer): Unit = {
    // odd-capacity (oversize) buffers and overflow beyond the cap are
    // left to GC; the cap keeps a burst-then-idle workload from pinning
    // direct memory above the configured budget forever
    if (b.capacity() == segmentSize && freeCount.get() < maxFreeSegments) {
      freeCount.incrementAndGet()
      free.offer(b)
    }
  }
}

/** A cached page's storage: heap array (heap mode) or a pooled direct
  * segment (offheap mode). Readers copy out only the slice they need
  * (`copyTo`) and the disk tier writes the stored bytes as they are
  * (`writeTo`), so no call hands out or stages a whole-page copy. Every
  * call runs under the owning shard's lock; `release` is called exactly
  * once, when the page leaves the memory tier. */
private[fs] sealed trait PageRef {
  def length: Int
  def copyTo(srcOff: Int, dst: Array[Byte], dstOff: Int, len: Int): Unit
  def writeTo(ch: WritableByteChannel): Unit
  def release(): Unit
}

private[fs] final class HeapPageRef(a: Array[Byte]) extends PageRef {
  def length: Int = a.length
  def copyTo(srcOff: Int, dst: Array[Byte], dstOff: Int, len: Int): Unit =
    System.arraycopy(a, srcOff, dst, dstOff, len)
  def writeTo(ch: WritableByteChannel): Unit = PageRef.writeFully(ch, ByteBuffer.wrap(a))
  def release(): Unit = ()
}

private[fs] final class DirectPageRef(
    buf: ByteBuffer, pageLen: Int, pool: DirectPagePool) extends PageRef {
  def length: Int = pageLen
  // absolute bulk get: reads never move the segment's position, so no
  // view is needed to keep concurrent readers apart
  def copyTo(srcOff: Int, dst: Array[Byte], dstOff: Int, len: Int): Unit =
    buf.get(srcOff, dst, dstOff, len)
  // duplicate: the channel advances the view's position, not the segment's
  def writeTo(ch: WritableByteChannel): Unit =
    PageRef.writeFully(ch, buf.duplicate().position(0).limit(pageLen))
  def release(): Unit = pool.release(buf)
}

private[fs] object PageRef {
  /** Copy `src[off, off + len)` into the mode's storage: one copy in
    * either mode. */
  def copyOf(src: Array[Byte], off: Int, len: Int, pool: DirectPagePool): PageRef =
    if (pool == null) new HeapPageRef(java.util.Arrays.copyOfRange(src, off, off + len))
    else {
      val b = pool.acquire(len)
      b.put(src, off, len)
      new DirectPageRef(b, len, pool)
    }

  /** Read the first `len` bytes of `ch` straight into the mode's storage
    * (offheap: into a pool segment, with no heap staging). */
  def load(ch: FileChannel, len: Int, pool: DirectPagePool): PageRef =
    if (pool == null) {
      val a = new Array[Byte](len)
      readFully(ch, ByteBuffer.wrap(a), 0L)
      new HeapPageRef(a)
    } else {
      val b = pool.acquire(len)
      try readFully(ch, b.duplicate().position(0).limit(len), 0L)
      catch { case e: Throwable => pool.release(b); throw e }
      new DirectPageRef(b, len, pool)
    }

  /** Positioned read of `dst.remaining` bytes starting at `pos`. */
  def readFully(ch: FileChannel, dst: ByteBuffer, pos: Long): Unit = {
    var p = pos
    while (dst.hasRemaining) {
      val n = ch.read(dst, p)
      if (n < 0) throw new EOFException(s"page file ended at $p")
      p += n
    }
  }

  def writeFully(ch: WritableByteChannel, src: ByteBuffer): Unit =
    while (src.hasRemaining) ch.write(src)
}
