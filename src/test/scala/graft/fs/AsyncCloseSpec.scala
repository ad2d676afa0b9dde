package graft.fs

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

/** A "remote" whose close() stalls, emulating an object-store upload. */
class SlowCloseFileSystem extends RawLocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val inner = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    new FSDataOutputStream(new java.io.FilterOutputStream(inner) {
      override def close(): Unit = {
        Thread.sleep(SlowCloseSpecState.closeDelayMs)
        super.close()
        SlowCloseSpecState.remoteClosed.set(true)
      }
    }, null)
  }
}

object SlowCloseSpecState {
  val closeDelayMs = 800L
  val remoteClosed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** ASYNC_CLOSE semantics (reference: SidecarCachingFileSystem
  * closingRemote, async modes): the writer's close() returns before the
  * remote upload completes; reads are served from the write cache in
  * the meantime; the moniker protects the copy until the upload lands.
  */
class AsyncCloseSpec extends AnyFunSuite {

  private val root = java.nio.file.Files.createTempDirectory("graft_async")

  test("close returns before the remote upload; read-your-writes from the write cache") {
    val c = new Configuration(false)
    c.setLong("graft.fs.data.page.size", 16 * 1024)
    c.set("graft.fs.disk.cache.dir", root.resolve("pages").toString)
    c.set("graft.fs.write.cache.dir", root.resolve("wc").toString)
    c.set("graft.fs.remote.impl", classOf[SlowCloseFileSystem].getName)
    c.setBoolean("graft.fs.write.cache.async.close", true)
    val fs = new GraftCachingFileSystem
    fs.initialize(URI.create("graft://async/"), c)

    val p = new Path(s"graft://async${root.toString}/slow.bin")
    val data = Array.tabulate(40000)(i => (i % 256).toByte)

    SlowCloseSpecState.remoteClosed.set(false)
    val t0 = System.nanoTime()
    val out = fs.create(p, true)
    out.write(data)
    out.close()
    val closeMs = (System.nanoTime() - t0) / 1e6
    assert(closeMs < SlowCloseSpecState.closeDelayMs,
      s"close blocked for ${closeMs}ms — not async")
    assert(!SlowCloseSpecState.remoteClosed.get, "remote already closed?")

    // moniker still present: upload in flight, file not evictable
    val wc = fs.writeCacheRef.get
    assert(wc.cacheFs.exists(wc.monikerPath(wc.toCachePath(p))))

    // read-your-writes NOW, while the upload is still running
    val in = fs.open(p)
    val buf = new Array[Byte](data.length)
    in.readFully(0, buf)
    in.close()
    assert(buf.sameElements(data))
    assert(fs.stats.bytesFromWriteCache.get > 0)
    assert(fs.stats.bytesFromRemote.get == 0)

    // upload eventually lands and the moniker is lifted
    val deadline = System.currentTimeMillis() + 10000
    while (!SlowCloseSpecState.remoteClosed.get &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(SlowCloseSpecState.remoteClosed.get)
    while (wc.cacheFs.exists(wc.monikerPath(wc.toCachePath(p))) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(!wc.cacheFs.exists(wc.monikerPath(wc.toCachePath(p))))
  }

  test("rename during an in-flight upload: read-your-writes at the new name, moniker follows and is lifted") {
    val c = new Configuration(false)
    c.setLong("graft.fs.data.page.size", 16 * 1024)
    c.set("graft.fs.disk.cache.dir", root.resolve("pages2").toString)
    c.set("graft.fs.write.cache.dir", root.resolve("wc2").toString)
    c.set("graft.fs.remote.impl", classOf[SlowCloseFileSystem].getName)
    c.setBoolean("graft.fs.write.cache.async.close", true)
    val fs = new GraftCachingFileSystem
    fs.initialize(URI.create("graft://async2/"), c)

    val src = new Path(s"graft://async2${root.toString}/part-tmp.bin")
    val dst = new Path(s"graft://async2${root.toString}/part-final.bin")
    val data = Array.tabulate(30000)(i => ((i * 3) % 256).toByte)

    SlowCloseSpecState.remoteClosed.set(false)
    val out = fs.create(src, true)
    out.write(data)
    out.close() // returns before the 800ms remote close
    assert(fs.rename(src, dst), "commit-style rename failed")

    val wc = fs.writeCacheRef.get
    // the copy AND its moniker moved with the rename
    assert(wc.cacheFs.exists(wc.toCachePath(dst)))
    assert(wc.cacheFs.exists(wc.monikerPath(wc.toCachePath(dst))))

    // read-your-writes at the committed name while the upload runs
    val in = fs.open(dst)
    val buf = new Array[Byte](data.length)
    in.readFully(0, buf)
    in.close()
    assert(buf.sameElements(data))
    assert(fs.stats.bytesFromWriteCache.get > 0)

    // once the upload lands, the forwarded moniker is lifted
    val deadline = System.currentTimeMillis() + 10000
    while (wc.cacheFs.exists(wc.monikerPath(wc.toCachePath(dst))) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(!wc.cacheFs.exists(wc.monikerPath(wc.toCachePath(dst))),
      "moniker leaked at the renamed path")
    // and the committed copy is still there (evictable, not deleted)
    assert(wc.cacheFs.exists(wc.toCachePath(dst)))
  }

  test("directory rename during a child's in-flight upload: the upload completes and its moniker is lifted at the new path") {
    val c = new Configuration(false)
    c.setLong("graft.fs.data.page.size", 16 * 1024)
    c.set("graft.fs.disk.cache.dir", root.resolve("pages3").toString)
    c.set("graft.fs.write.cache.dir", root.resolve("wc3").toString)
    c.set("graft.fs.remote.impl", classOf[SlowCloseFileSystem].getName)
    c.setBoolean("graft.fs.write.cache.async.close", true)
    // a write cache smaller than the file: the copy is evictable the
    // moment its moniker lifts
    c.setLong("graft.fs.write.cache.size", 16 * 1024)
    c.setBoolean("graft.fs.write.cache.async.evict", false)
    val fs = new GraftCachingFileSystem
    fs.initialize(URI.create("graft://async3/"), c)

    val stage = new Path(s"graft://async3${root.toString}/stage3")
    val fin = new Path(s"graft://async3${root.toString}/final3")
    val data = Array.tabulate(30000)(i => ((i * 7) % 256).toByte)

    SlowCloseSpecState.remoteClosed.set(false)
    val out = fs.create(new Path(stage, "part-0.bin"), true)
    out.write(data)
    out.close() // returns before the 800ms remote close
    assert(fs.rename(stage, fin), "directory rename failed")
    assert(!SlowCloseSpecState.remoteClosed.get, "upload finished before the rename")

    val wc = fs.writeCacheRef.get
    val moved = wc.toCachePath(new Path(fin, "part-0.bin"))
    assert(wc.cacheFs.exists(moved) && wc.cacheFs.exists(wc.monikerPath(moved)))

    val deadline = System.currentTimeMillis() + 10000
    while (wc.cacheFs.exists(wc.monikerPath(moved)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(!wc.cacheFs.exists(wc.monikerPath(moved)),
      "moniker leaked at the renamed directory's child")
    assert(SlowCloseSpecState.remoteClosed.get)
    // the upload completed at the new path
    val remote = new java.io.File(s"${root.toString}/final3/part-0.bin")
    assert(remote.length() == data.length)
    // the file list tracks the copy where it landed, so eviction frees it
    wc.evictNow()
    assert(!wc.cacheFs.exists(moved), "the moved copy was not evicted")
    assert(wc.used == 0L && wc.listedFiles == 0)
  }
}
