package graft.perfbench

import java.io.File
import java.net.URI

import graft.fs.GraftCachingFileSystem
import org.apache.hadoop.conf.Configuration

/** Everything a workload needs from the command line. `scale` shrinks
  * the op list (the determinism self-test runs at a reduced count). */
final case class Ctx(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: File, model: RemoteModel, scale: Double) {
  /** graft:// URI of a local path under the work dir. */
  def graft(f: File): String = s"graft://local${f.getAbsolutePath}"
  def dir(name: String): File = new File(work, name)
}

/** One op of the fixed op list. `cls` is "read" or "write". */
trait Op { def kind: String; def cls: String }

/** What one executed op left behind. Failed ops (`ok` false) count as
  * slower than every successful op. */
final case class OpRec(n: Int, kind: String, cls: String, startNs: Long,
    endNs: Long, ok: Boolean, remote: Map[String, Long]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A benchmark workload: `prepare` makes the inputs and reference
  * answers before any clock runs, `setup` is the timed set-up a user
  * pays before the first request (run several times; the last one's
  * state serves the timed phase), `run` executes one op and checks its
  * output. */
trait Workload {
  def prepare(): Unit
  def setup(): Unit
  def teardown(): Unit
  def ops: IndexedSeq[Op]
  def run(op: Op): Boolean
  /** Logical bytes the ops asked to persist (the write-amplification
    * denominator). */
  def userBytes(done: Seq[OpRec]): Long
  /** The caching FS instance serving the timed phase. */
  def fs: GraftCachingFileSystem
  /** Workload-specific numbers for the detail record and the report. */
  def extra(done: Seq[OpRec]): Map[String, Double] = Map.empty
  /** Called after every op in the traced run (drains listeners). */
  def afterOp(): Unit = ()
  /** Whether a done read took the caches' hit path: it needed no remote
    * GET. */
  def hitRead(r: OpRec): Boolean = r.remote("get") == 0
}

object Harness {
  val MiB: Double = 1048576.0

  /** The graft:// configuration: only cache sizes and directories are
    * set; every other graft.fs knob keeps its default (synchronous close
    * included). The remote is the modeled store. */
  def fsConf(ctx: Ctx, memBytes: Long, diskBytes: Long,
      writeCacheBytes: Long): Map[String, String] = Map(
    "fs.graft.impl" -> (if (ctx.trace) classOf[TracedGraftFs].getName
      else classOf[GraftCachingFileSystem].getName),
    "graft.fs.remote.impl" -> classOf[ModeledRemoteFs].getName,
    "graft.fs.memory.cache.size" -> memBytes.toString,
    "graft.fs.disk.cache.size" -> diskBytes.toString,
    "graft.fs.disk.cache.dir" -> ctx.dir("cache/pages").getAbsolutePath,
    "graft.fs.write.cache.size" -> writeCacheBytes.toString,
    "graft.fs.write.cache.dir" -> ctx.dir("cache/write").getAbsolutePath,
    RemoteModel.RequestMsKey -> ctx.model.requestMs.toString,
    RemoteModel.MibPerSKey -> ctx.model.mibPerS.toString)

  /** A fresh caching FS over the modeled store, outside any Spark. */
  def newFs(ctx: Ctx, conf: Map[String, String]): GraftCachingFileSystem = {
    val c = new Configuration(false)
    conf.foreach { case (k, v) => c.set(k, v) }
    val fs = Class.forName(conf("fs.graft.impl")).getDeclaredConstructor()
      .newInstance().asInstanceOf[GraftCachingFileSystem]
    fs.initialize(URI.create("graft://local/"), c)
    fs
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Empty the cache directories between set-ups. */
  def clearCaches(ctx: Ctx): Unit = deleteTree(ctx.dir("cache"))

  /** Memory + disk tier + write cache bytes held at this moment. */
  def localCacheBytes(fs: GraftCachingFileSystem): Long =
    fs.pageCacheRef.memoryBytes + fs.pageCacheRef.diskTierBytes +
      fs.writeCacheRef.map(_.used).getOrElse(0L)

  /** Nearest-rank percentile; failed ops sort after every success. */
  def pct(recs: Seq[OpRec], q: Double): Double = {
    val v = recs.map(r => if (r.ok) r.ms else Double.PositiveInfinity)
      .sorted
    if (v.isEmpty) 0.0
    else v(math.min(v.size - 1, math.max(0, math.ceil(q * v.size).toInt - 1)))
  }

  /** Interquartile mean: the mean of the middle half of the values,
    * blind to the stalls a shared host adds to a few of them. */
  def iqm(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val mid = s.slice(s.size / 4, s.size - s.size / 4)
    if (mid.isEmpty) 0.0 else mid.sum / mid.size
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-insensitive fingerprint of a result: row count and the
    * wrapping sum of per-row hashes. */
  def fingerprint(rows: Array[org.apache.spark.sql.Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(r =>
      scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong * 0x9E3779B97F4A7C15L)
      .sum)
}
