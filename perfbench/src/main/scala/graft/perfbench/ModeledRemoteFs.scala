package graft.perfbench

import java.io.{InputStream, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Latency model of an object store: every request waits `requestMs`
  * (time to first byte), and GET/PUT payloads add their size divided by
  * `mibPerS` (the transfer rate). */
final case class RemoteModel(requestMs: Double, mibPerS: Double) {
  def delayNanos(bytes: Long): Long =
    (requestMs * 1e6).toLong +
      (if (mibPerS > 0) (bytes / (mibPerS * 1048576.0) * 1e9).toLong else 0L)
}

object RemoteModel {
  val RequestMsKey = "perfbench.remote.request.ms"
  val MibPerSKey = "perfbench.remote.mib.per.s"
  /** First logical modification time (2020-09-13T12:26:40Z). */
  val Epoch = 1600000000000L

  def apply(c: Configuration): RemoteModel = RemoteModel(
    c.getDouble(RequestMsKey, 0.0), c.getDouble(MibPerSKey, 0.0))
}

/** Process-wide counters of the modeled store. Hadoop instantiates the
  * remote FileSystem reflectively (`graft.fs.remote.impl`), so the
  * counters live in this object rather than in the instance. */
object RemoteStore {
  val Kinds: Seq[String] =
    Seq("get", "head", "list", "put", "rename", "delete", "mkdirs")
  private val calls: Map[String, AtomicLong] =
    Kinds.map(_ -> new AtomicLong).toMap
  val readBytes = new AtomicLong
  val writeBytes = new AtomicLong
  val busyNanos = new AtomicLong
  private val puts = new AtomicLong

  def reset(): Unit = {
    calls.values.foreach(_.set(0)); readBytes.set(0); writeBytes.set(0)
    busyNanos.set(0); puts.set(0)
  }

  /** Counter name -> value: one entry per call kind plus the byte and
    * busy-time totals. */
  def snapshot: Map[String, Long] =
    calls.map { case (k, v) => k -> v.get } ++ Map(
      "read_bytes" -> readBytes.get, "write_bytes" -> writeBytes.get,
      "busy_ns" -> busyNanos.get)

  def requests(s: Map[String, Long]): Long = Kinds.map(s).sum

  /** The next logical modification time: one second per PUT, so the
    * same sequence of writes stamps the same times on every run. */
  private[perfbench] def nextMtime(): Long =
    RemoteModel.Epoch + puts.incrementAndGet() * 1000L

  /** Charge one request of `kind` moving `bytes` payload bytes: wait out
    * the modeled latency, then run the real operation. */
  private[perfbench] def call[T](kind: String, model: RemoteModel,
      bytes: => Long = 0L)(body: => T): T =
    Tracer.span(s"remote.$kind") {
      calls(kind).incrementAndGet()
      val t0 = System.nanoTime()
      try {
        val r = body
        pause(t0 + model.delayNanos(bytes))
        r
      } finally busyNanos.addAndGet(System.nanoTime() - t0)
    }

  private def pause(untilNs: Long): Unit = {
    var left = untilNs - System.nanoTime()
    while (left > 0) {
      LockSupport.parkNanos(left)
      left = untilNs - System.nanoTime()
    }
  }
}

/** The benchmark's modeled remote store: a Hadoop FileSystem that keeps
  * its bytes on the local disk through [[RawLocalFileSystem]] (so data
  * and the atomic rename are the local filesystem's own) and adds an
  * object store's per-request latency and per-byte transfer time.
  *
  * Requests: `getFileStatus` is a HEAD, `listStatus` a LIST, every read
  * call on an open stream a GET (opening is free, like a lazy S3 GET),
  * and a created file is one PUT, charged when its stream closes. Each
  * PUT stamps the object with a logical clock instead of the wall clock,
  * so page-cache keys (which hash path and modification time) repeat
  * from run to run.
  */
class ModeledRemoteFs extends FilterFileSystem(new RawLocalFileSystem) {

  private var model: RemoteModel = RemoteModel(0, 0)

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    model = RemoteModel(conf)
  }

  override def getFileStatus(f: Path): FileStatus =
    RemoteStore.call("head", model)(fs.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    RemoteStore.call("list", model)(fs.listStatus(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    RemoteStore.call("mkdirs", model)(fs.mkdirs(f, permission))

  // FilterFileSystem hands the one-argument form straight to the wrapped
  // FS; route it through the counted call
  override def mkdirs(f: Path): Boolean =
    mkdirs(f, FsPermission.getDirDefault)

  override def rename(src: Path, dst: Path): Boolean =
    RemoteStore.call("rename", model)(fs.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    RemoteStore.call("delete", model)(fs.delete(f, recursive))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    new FSDataInputStream(new ModeledIn(fs.open(f, bufferSize), model))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    new FSDataOutputStream(new ModeledOut(fs.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress), f, fs, model), null)
}

/** A read stream whose every read call is one GET. */
private final class ModeledIn(in: FSDataInputStream, model: RemoteModel)
    extends InputStream with Seekable with PositionedReadable {

  private def get(body: => Int): Int = {
    var n = 0
    RemoteStore.call("get", model, math.max(n, 0).toLong) {
      n = body
      RemoteStore.readBytes.addAndGet(math.max(n, 0).toLong)
    }
    n
  }

  override def read(): Int = {
    val one = new Array[Byte](1)
    if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    get(in.read(b, off, len))
  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
    get(in.read(position, b, off, len))
  override def readFully(position: Long, b: Array[Byte], off: Int,
      len: Int): Unit =
    get { in.readFully(position, b, off, len); len }
  override def readFully(position: Long, b: Array[Byte]): Unit =
    readFully(position, b, 0, b.length)
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** A write stream that uploads as one PUT when it closes. */
private final class ModeledOut(out: FSDataOutputStream, path: Path,
    local: FileSystem, model: RemoteModel) extends OutputStream {

  private var bytes = 0L
  private var closed = false

  override def write(b: Int): Unit = { out.write(b); bytes += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len); bytes += len
  }
  override def flush(): Unit = out.flush()

  override def close(): Unit = if (!closed) {
    closed = true
    RemoteStore.call("put", model, bytes) {
      out.close()
      RemoteStore.writeBytes.addAndGet(bytes)
      local.setTimes(path, RemoteStore.nextMtime(), -1)
    }
  }
}
