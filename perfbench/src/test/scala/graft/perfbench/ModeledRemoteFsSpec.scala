package graft.perfbench

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** The modeled remote store against the RawLocalFileSystem it delegates
  * to: same bytes, same rename semantics, every request counted once,
  * the latency constants applied. */
class ModeledRemoteFsSpec extends AnyFunSuite {

  private def conf(requestMs: Double, mibPerS: Double): Configuration = {
    val c = new Configuration(false)
    c.setDouble(RemoteModel.RequestMsKey, requestMs)
    c.setDouble(RemoteModel.MibPerSKey, mibPerS)
    c
  }

  private def modeled(requestMs: Double = 0, mibPerS: Double = 0): FileSystem = {
    val fs = new ModeledRemoteFs
    fs.initialize(URI.create("file:///"), conf(requestMs, mibPerS))
    fs
  }

  private def raw(): FileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration(false))
    fs
  }

  private def tmp(tag: String): Path =
    new Path(Files.createTempDirectory(s"modeled_$tag").toUri)

  private def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val b = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0L, b) finally in.close()
    b
  }

  test("bytes and rename semantics match RawLocalFileSystem") {
    val data = Array.tabulate(300000)(i => ((i * 31 + 7) & 0xff).toByte)
    def scenario(fs: FileSystem, root: Path): Seq[Any] = {
      val a = new Path(root, "a.bin")
      val b = new Path(root, "dir/b.bin")
      write(fs, a, data)
      val readBack = readAll(fs, a).toSeq
      val partial = {
        val buf = new Array[Byte](1000)
        val in = fs.open(a)
        try in.readFully(12345L, buf) finally in.close()
        buf.toSeq
      }
      fs.mkdirs(b.getParent)
      val renamed = fs.rename(a, b)
      // a rename onto an existing file must behave exactly as the local FS
      write(fs, a, data.take(10))
      val clobber = fs.rename(a, b)
      Seq(readBack, partial, renamed, fs.exists(a), readAll(fs, b).toSeq,
        clobber, fs.listStatus(new Path(root, "dir")).map(_.getPath.getName).toSeq)
    }
    val m = scenario(modeled(), tmp("m"))
    val r = scenario(raw(), tmp("r"))
    assert(m == r)
    assert(m.head == data.toSeq)
  }

  test("each call is counted exactly once, by kind") {
    val fs = modeled()
    val root = tmp("count")
    val f = new Path(root, "x.bin")
    RemoteStore.reset()
    def expectOne(kind: String)(body: => Any): Unit = {
      val before = RemoteStore.snapshot
      body
      val after = RemoteStore.snapshot
      val moved = RemoteStore.Kinds.filter(k => after(k) != before(k))
      assert(moved == Seq(kind) && after(kind) - before(kind) == 1,
        s"$kind moved ${moved.map(k => k -> (after(k) - before(k)))}")
    }
    expectOne("mkdirs")(fs.mkdirs(new Path(root, "d")))
    expectOne("put")(write(fs, f, Array.fill(4096)(1.toByte)))
    expectOne("head")(fs.getFileStatus(f))
    expectOne("list")(fs.listStatus(root))
    val in = fs.open(f)
    assert(RemoteStore.requests(RemoteStore.snapshot) == 4, "open must be free")
    expectOne("get")(in.readFully(0L, new Array[Byte](4096)))
    in.close()
    expectOne("rename")(fs.rename(f, new Path(root, "y.bin")))
    expectOne("delete")(fs.delete(new Path(root, "y.bin"), false))
    val s = RemoteStore.snapshot
    assert(s("read_bytes") == 4096 && s("write_bytes") == 4096)
  }

  test("the latency constants are applied per request and per byte") {
    assert(RemoteModel(10, 100).delayNanos(0) == 10000000L)
    assert(RemoteModel(10, 100).delayNanos(1L << 20) ==
      20000000L)
    val fs = modeled(requestMs = 20, mibPerS = 10)
    val root = tmp("lat")
    val f = new Path(root, "x.bin")
    def ms(body: => Any): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    assert(ms(fs.mkdirs(root)) >= 20.0)
    // 1 MiB at 10 MiB/s: 20 ms to first byte plus 100 ms of transfer
    assert(ms(write(fs, f, new Array[Byte](1 << 20))) >= 120.0)
    val in = fs.open(f)
    assert(ms(in.readFully(0L, new Array[Byte](1 << 20))) >= 120.0)
    in.close()
    RemoteStore.reset()
    fs.getFileStatus(f)
    assert(RemoteStore.busyNanos.get >= 20000000L)
  }

  test("PUTs stamp repeatable modification times") {
    val fs = modeled()
    val root = tmp("mtime")
    RemoteStore.reset()
    write(fs, new Path(root, "a"), Array[Byte](1))
    write(fs, new Path(root, "b"), Array[Byte](2))
    assert(fs.getFileStatus(new Path(root, "a")).getModificationTime ==
      RemoteModel.Epoch + 1000L)
    assert(fs.getFileStatus(new Path(root, "b")).getModificationTime ==
      RemoteModel.Epoch + 2000L)
  }
}
