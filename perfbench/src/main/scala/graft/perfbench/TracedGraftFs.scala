package graft.perfbench

import java.io.{InputStream, OutputStream}
import java.nio.ByteBuffer
import java.util.function.IntFunction

import graft.fs.GraftCachingFileSystem
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The caching FS with a span around each public call, installed as
  * `fs.graft.impl` in the traced run only. Streams are wrapped in
  * delegates that keep every read capability of the cached stream
  * (byte-buffer and vectored reads), so the traced run takes the same
  * read path as the untraced one. */
class TracedGraftFs extends GraftCachingFileSystem {

  override def getFileStatus(f: Path): FileStatus =
    Tracer.span("fs.get_file_status")(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    Tracer.span("fs.list_status")(super.listStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    Tracer.span("fs.open") {
      new FSDataInputStream(new TracedIn(super.open(f, bufferSize)))
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    Tracer.span("fs.create") {
      new FSDataOutputStream(new TracedOut(super.create(f, permission,
        overwrite, bufferSize, replication, blockSize, progress)), null)
    }

  override def rename(src: Path, dst: Path): Boolean =
    Tracer.span("fs.rename")(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    Tracer.span("fs.delete")(super.delete(f, recursive))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    Tracer.span("fs.mkdirs")(super.mkdirs(f, permission))
}

private final class TracedIn(in: FSDataInputStream) extends InputStream
    with Seekable with PositionedReadable with ByteBufferReadable {

  override def read(): Int = Tracer.span("fs.read")(in.read())
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    Tracer.span("fs.read")(in.read(b, off, len))
  override def read(bb: ByteBuffer): Int = Tracer.span("fs.read")(in.read(bb))
  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
    Tracer.span("fs.pread")(in.read(position, b, off, len))
  override def readFully(position: Long, b: Array[Byte], off: Int,
      len: Int): Unit =
    Tracer.span("fs.pread")(in.readFully(position, b, off, len))
  override def readFully(position: Long, b: Array[Byte]): Unit =
    readFully(position, b, 0, b.length)
  override def minSeekForVectorReads(): Int = in.minSeekForVectorReads()
  override def maxReadSizeForVectorReads(): Int = in.maxReadSizeForVectorReads()
  override def readVectored(ranges: java.util.List[_ <: FileRange],
      allocate: IntFunction[ByteBuffer]): Unit =
    Tracer.span("fs.pread")(in.readVectored(ranges, allocate))
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def skip(n: Long): Long = in.skip(n)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

private final class TracedOut(out: FSDataOutputStream) extends OutputStream {
  override def write(b: Int): Unit = out.write(b)
  override def write(b: Array[Byte], off: Int, len: Int): Unit =
    out.write(b, off, len)
  override def flush(): Unit = out.flush()
  override def close(): Unit = Tracer.span("fs.close")(out.close())
}
