package graft.perfbench

import graft.GraftExtensions
import graft.fs.GraftCachingFileSystem
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** Shared Spark plumbing: one local session per set-up, `local[4]`, the
  * repo's extensions installed, graft:// over the modeled store. */
abstract class SparkWorkload(ctx: Ctx) extends Workload {
  protected var spark: SparkSession = _
  private var probe: SparkProbe = _

  protected def memBytes: Long
  protected def diskBytes: Long
  protected def writeCacheBytes: Long

  def fs: GraftCachingFileSystem =
    GraftCachingFileSystem.instanceFor("graft://local/").getOrElse(
      throw new IllegalStateException("graft:// was never initialized"))

  def jobs: Seq[JobRec] = if (probe == null) Nil else probe.all

  protected def startSpark(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${SparkWorkload.Cores}]")
      .appName(s"perfbench-${ctx.workload}")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", SparkWorkload.Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", ctx.dir("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse").getAbsolutePath)
    Harness.fsConf(ctx, memBytes, diskBytes, writeCacheBytes)
      .foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (ctx.trace) {
      probe = new SparkProbe
      s.sparkContext.addSparkListener(probe)
    }
    s
  }

  def teardown(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    FileSystem.closeAll()
    spark = null
    probe = null
  }

  /** Forget the jobs of set-up and warm-up: the listener's record
    * starts with the timed phase. */
  def resetProbe(): Unit = if (probe != null) {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    probe.reset()
  }

  override def afterOp(): Unit =
    if (probe != null) org.apache.spark.ListenerBusDrain(spark.sparkContext)
}

object SparkWorkload {
  /** Spark's local parallelism: at most the 4 cores of the reference
    * host. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
}
