package graft.fs

import java.io.{EOFException, InputStream}
import java.nio.ByteBuffer
import org.apache.hadoop.fs.{ByteBufferReadable, FSDataInputStream, FileSystem, Path, PositionedReadable, Seekable}

/** Tiered caching read stream — the engine's core read algorithm, the
  * Scala re-expression of SidecarCachingInputStream.readInternal
  * (:796-877):
  *
  *   prefetch buffer -> page cache -> write-cache FS -> remote FS
  *
  * Every external fetch reads a full I/O-buffer-aligned span (default
  * 4 MiB = 4 pages) so sequential readers amplify one remote RPC into
  * many local hits; fetched pages are admitted to the shared page cache
  * unless the ScanDetector flags the stream as a large sequential scan.
  * Only positioned reads touch shared state, so Spark's parquet reader
  * (PositionedReadable-heavy) never contends on stream position.
  */
final class CachingInputStream(
    graftPath: String,
    fileLen: Long,
    keyBase: String,
    conf: GraftFsConf,
    pageCache: PageCache,
    stats: Statistics,
    writeCacheFile: () => Option[(FileSystem, Path)],
    remoteOpen: () => FSDataInputStream,
    cacheEnabled: Boolean = true)
  extends InputStream with Seekable with PositionedReadable
  with ByteBufferReadable {

  private val pageSize = conf.pageSize
  private val scan = new ScanDetector(conf.scanThresholdPages, pageSize)
  private var pos = 0L
  private var closed = false

  // lazily opened tier streams (kept for the stream's lifetime)
  private var remoteStream: FSDataInputStream = _
  private var cacheStream: FSDataInputStream = _
  private var cacheStreamChecked = false

  // per-stream prefetch buffer: [bufStart, bufStart+bufLen)
  private var buf: Array[Byte] = _
  private var bufStart = -1L
  private var bufLen = 0

  // ---- InputStream (sequential) ----

  override def read(): Int = {
    val one = new Array[Byte](1)
    val n = read(one, 0, 1)
    if (n < 0) -1 else one(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = read(pos, b, off, len)
    if (n > 0) pos += n
    n
  }

  override def available(): Int =
    math.min(fileLen - pos, Int.MaxValue.toLong).toInt max 0

  override def skip(n: Long): Long = {
    val moved = math.min(n, fileLen - pos) max 0
    pos += moved
    moved
  }

  // ---- Seekable ----

  override def seek(newPos: Long): Unit = {
    if (newPos < 0 || newPos > fileLen)
      throw new EOFException(s"seek($newPos) out of range 0..$fileLen")
    pos = newPos
  }

  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false

  // ---- ByteBufferReadable ----

  // heap buffers are filled in place (no copy at all); direct buffers
  // reuse a per-stream staging array instead of allocating per call —
  // vectorized parquet readers hit this method hot
  private var bbStage: Array[Byte] = _

  override def read(bb: ByteBuffer): Int = {
    val want = bb.remaining()
    if (want == 0) return 0
    if (bb.hasArray) {
      val n = read(bb.array(), bb.arrayOffset() + bb.position(), want)
      if (n > 0) bb.position(bb.position() + n)
      n
    } else {
      if (bbStage == null || bbStage.length < want)
        bbStage = new Array[Byte](want)
      val n = read(bbStage, 0, want)
      if (n > 0) bb.put(bbStage, 0, n)
      n
    }
  }

  // ---- PositionedReadable (the hot path under Spark's parquet reader) ----

  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int = {
    if (position >= fileLen) return -1
    val n = math.min(len.toLong, fileLen - position).toInt
    if (n <= 0) return 0
    readInternal(position, b, off, n)
    stats.readRequests.incrementAndGet()
    stats.bytesRead.addAndGet(n)
    n
  }

  override def readFully(position: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    if (position + len > fileLen)
      throw new EOFException(s"readFully($position,$len) past EOF $fileLen")
    readInternal(position, b, off, len)
    stats.readRequests.incrementAndGet()
    stats.bytesRead.addAndGet(len)
  }

  override def readFully(position: Long, b: Array[Byte]): Unit =
    readFully(position, b, 0, b.length)

  // ---- vectored reads (Hadoop 3.4 PositionedReadable API) ----
  //
  // Spark's parquet reader issues its column-chunk ranges through
  // readVectored when `parquet.hadoop.vectored.io.enabled` is set — at
  // 100 TB this is the dominant scan entry point. The default interface
  // implementation would pread each range independently; here nearby
  // ranges (footer + adjacent column chunks) coalesce into one span per
  // gap window, so a cold file pays one tier-cascade pass per span and a
  // warm file serves every range from the page cache with no remote RPC.
  // Reads complete synchronously (the cascade is local-cache-fast and
  // already amplifies remote fetches to aligned 4 MiB spans); failures
  // surface through each range's future per the API contract.

  /** Ranges closer than this coalesce into one read (one page: a gap
    * smaller than a page would re-read the same cached page anyway). */
  override def minSeekForVectorReads(): Int =
    math.min(pageSize, Int.MaxValue.toLong).toInt

  /** Bound on a coalesced span: the I/O buffer, so a span costs at most
    * one external fetch per constituent page run. */
  override def maxReadSizeForVectorReads(): Int =
    math.min(conf.ioBufferSize, Int.MaxValue.toLong).toInt

  override def readVectored(
      ranges: java.util.List[_ <: org.apache.hadoop.fs.FileRange],
      allocate: java.util.function.IntFunction[ByteBuffer]): Unit = {
    import scala.jdk.CollectionConverters._
    val rs = ranges.asScala.toList
    // integration observable: a parquet scan with
    // parquet.hadoop.vectored.io.enabled must move these counters
    // (asserted in ParquetVectoredScanSpec), proving the vectored path
    // is actually exercised end-to-end, not just contract-tested
    stats.vectoredReads.incrementAndGet()
    stats.vectoredRanges.addAndGet(rs.size.toLong)
    rs.foreach { r =>
      // per Hadoop's VectoredReadUtils contract: malformed length is an
      // IllegalArgumentException; EOFException is for offset problems
      if (r.getLength < 0)
        throw new IllegalArgumentException(
          s"readVectored(${r.getOffset},${r.getLength}): negative length")
      // overflow-safe form of offset + length > fileLen
      if (r.getOffset < 0 || r.getOffset > fileLen - r.getLength)
        throw new EOFException(
          s"readVectored(${r.getOffset},${r.getLength}) past EOF $fileLen")
    }
    val sorted = rs.sortBy(_.getOffset)
    sorted.iterator.sliding(2).withPartial(false).foreach { w =>
      if (w.head.getOffset + w.head.getLength > w.last.getOffset)
        throw new IllegalArgumentException("readVectored: overlapping ranges")
    }
    // greedy left-to-right coalescing under the gap + span-size caps
    val groups = sorted.foldLeft(List.empty[List[org.apache.hadoop.fs.FileRange]]) {
      case (acc @ g :: rest, r) =>
        val gEnd = g.head.getOffset + g.head.getLength // head = rightmost
        val newEnd = r.getOffset + r.getLength
        if (r.getOffset - gEnd <= minSeekForVectorReads() &&
            newEnd - g.last.getOffset <= maxReadSizeForVectorReads())
          (r :: g) :: rest
        else List(r) :: acc
      case (Nil, r) => List(List(r))
    }.map(_.reverse).reverse
    groups.foreach { g =>
      val start = g.head.getOffset
      val end = g.map(r => r.getOffset + r.getLength).max
      val futures = g.map { r =>
        val f = new java.util.concurrent.CompletableFuture[ByteBuffer]()
        r.setData(f)
        r -> f
      }
      try {
        val span = new Array[Byte]((end - start).toInt)
        readFully(start, span, 0, span.length)
        futures.foreach { case (r, f) =>
          val bb = allocate.apply(r.getLength)
          bb.put(span, (r.getOffset - start).toInt, r.getLength)
          bb.flip()
          f.complete(bb)
        }
      } catch {
        case e: Throwable => futures.foreach(_._2.completeExceptionally(e))
      }
    }
  }

  // ---- core tier cascade ----

  // Hadoop's PositionedReadable contract allows concurrent positioned
  // reads on one stream (HBase, async parquet I/O do this); the prefetch
  // buffer and lazy tier streams are per-stream mutable state, so the
  // whole cascade runs under the stream's monitor. Uncontended, the
  // lock is nanoseconds; contended, correctness beats parallelism on a
  // single stream (callers wanting parallel I/O open parallel streams).
  private def readInternal(position: Long, b: Array[Byte], off: Int, len: Int): Unit = synchronized {
    if (closed) throw new java.io.IOException(s"stream closed: $graftPath")
    var p = position
    val end = position + len
    // Bytes served out of a span fetched during THIS call are charged to
    // the external tier that produced the span (a 4-page request filled
    // by one write-cache readFully is 100% write-cache bytes, matching
    // the reference's accounting); only hits on a buffer left over from
    // an EARLIER call count as prefetch hits.
    var fetchTier: java.util.concurrent.atomic.AtomicLong = null
    while (p < end) {
      val pageOff = (p / pageSize) * pageSize
      val inPage = (p - pageOff).toInt
      val want = math.min(end - p, pageSize - inPage).toInt
      // admission control sees the stream's page-access pattern
      scan.record(pageOff)

      if (bufStart >= 0 && p >= bufStart && p + want <= bufStart + bufLen) {
        System.arraycopy(buf, (p - bufStart).toInt, b, off + (p - position).toInt, want)
        (if (fetchTier != null) fetchTier else stats.bytesFromPrefetch)
          .addAndGet(want)
      } else if (cacheEnabled &&
          pageCache.read(PageKey(keyBase, pageOff), inPage, b, off + (p - position).toInt, want)) {
        // the cache copied just the wanted slice, straight into b
        stats.bytesFromPageCache.addAndGet(want)
      } else {
        fetchTier = fetchSpan(pageOff)
        // the span starts at pageOff, so the wanted slice is in-buffer now
        System.arraycopy(buf, (p - bufStart).toInt, b, off + (p - position).toInt, want)
        fetchTier.addAndGet(want)
      }
      p += want
    }
  }

  /** Fill the prefetch buffer with an I/O-buffer-sized span starting at
    * `pageOff` from the best external tier, then admit its pages.
    * Returns the byte counter of the tier that served the span (the
    * caller attributes only the user-visible bytes, so the per-tier
    * counters always sum to bytesRead). */
  private def fetchSpan(pageOff: Long): java.util.concurrent.atomic.AtomicLong = {
    val spanLen = math.min(conf.ioBufferSize, fileLen - pageOff).toInt
    // one fixed size class (the configured I/O buffer) so the shared
    // pool actually recycles across streams; spanLen only shrinks at EOF
    if (buf == null)
      buf = BufferPool.shared.acquire(math.max(conf.ioBufferSize, 1L).toInt)
    val tier = externalReadFully(pageOff, buf, spanLen)
    bufStart = pageOff
    bufLen = spanLen

    val isScan = scan.isScan
    var o = 0
    while (o < spanLen) {
      val pl = math.min(pageSize, (spanLen - o).toLong).toInt
      // admitted straight from the span buffer: one copy per page
      if (cacheEnabled && !isScan) pageCache.put(PageKey(keyBase, pageOff + o), buf, o, pl)
      else stats.pagesRejectedScan.incrementAndGet()
      o += pl
    }
    tier
  }

  /** Reads into dst and returns the tier counter to charge. */
  private def externalReadFully(position: Long, dst: Array[Byte], len: Int)
      : java.util.concurrent.atomic.AtomicLong = {
    // tier 2: full-file copy in the write cache (read-your-writes)
    if (!cacheStreamChecked) {
      cacheStreamChecked = true
      writeCacheFile().foreach { case (fs, p) =>
        try {
          if (fs.exists(p)) cacheStream = fs.open(p)
        } catch { case _: java.io.IOException => cacheStream = null }
      }
    }
    if (cacheStream != null) {
      try {
        cacheStream.readFully(position, dst, 0, len)
        return stats.bytesFromWriteCache
      } catch {
        case _: java.io.IOException =>
          // degrade to remote silently, like the reference
          try cacheStream.close() catch { case _: Throwable => }
          cacheStream = null
      }
    }
    // tier 3: remote
    val t0 = System.nanoTime()
    if (remoteStream == null) remoteStream = remoteOpen()
    remoteStream.readFully(position, dst, 0, len)
    stats.remoteReadNanos.addAndGet(System.nanoTime() - t0)
    stats.bytesFromRemote
  }

  override def close(): Unit = synchronized {
    if (!closed) {
      closed = true
      if (remoteStream != null) remoteStream.close()
      if (cacheStream != null) cacheStream.close()
      BufferPool.shared.release(buf)
      buf = null
      bbStage = null
      bufStart = -1
      bufLen = 0
    }
  }
}
