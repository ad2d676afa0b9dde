package graft.perfbench

import graft.SparkEntry
import org.apache.hadoop.fs.Path

import scala.util.Random

/** sql-hot: one client cycles a seeded order of eight declared queries
  * at sf0.1, read through graft:// from the modeled store. The memory
  * tier holds the whole 17 MiB dataset after the warm-up, so pages are
  * all hits and only metadata calls reach the remote; planning, Spark
  * scheduling and operator execution dominate. Each result must match
  * the row count and order-insensitive hash of the same query run over
  * the plain local path before any clock starts. */
final class SqlHot(ctx: Ctx) extends SparkWorkload(ctx) {
  import SqlHot._

  protected val memBytes: Long = 128L << 20
  protected val diskBytes: Long = 64L << 20
  protected val writeCacheBytes: Long = 256L << 20

  private val graftDir = s"graft://local$SfDir"
  private var expected = Map.empty[String, (Long, Long)]

  val ops: IndexedSeq[Op] = {
    val rnd = new Random(ctx.seed)
    val cycles = math.max(MinCycles,
      math.round(CyclesPerSecond * ctx.seconds * ctx.scale).toInt)
    (0 until cycles).flatMap(_ => rnd.shuffle(Queries)).map(Query)
  }

  /** Reference answers: the same queries over the plain local path. */
  def prepare(): Unit = {
    spark = startSpark()
    try expected = Queries.map { q =>
      q -> Harness.fingerprint(collect(q, SfDir))
    }.toMap
    finally teardown()
  }

  private def collect(q: String, dir: String) = {
    val df = SparkEntry.queries(q)(spark, dir).limit(RowCap)
    Tracer.span("sql.plan")(df.queryExecution.executedPlan)
    Tracer.span("sql.exec")(df.collect())
  }

  def setup(): Unit = {
    teardown()
    Harness.clearCaches(ctx)
    spark = startSpark()
    // warm-up: every dataset file read whole through graft://
    val dir = new Path(graftDir)
    val gfs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buf = new Array[Byte](1 << 20)
    gfs.listStatus(dir).filter(_.isFile).sortBy(_.getPath.getName).foreach { st =>
      val in = gfs.open(st.getPath)
      try {
        var off = 0L
        while (off < st.getLen) {
          val n = math.min(buf.length.toLong, st.getLen - off).toInt
          in.readFully(off, buf, 0, n)
          off += n
        }
      } finally in.close()
    }
    resetProbe()
  }

  def run(op: Op): Boolean = {
    val q = op.kind
    expected(q) == Harness.fingerprint(
      Tracer.span(s"sql.query.$q")(collect(q, graftDir)))
  }

  def userBytes(done: Seq[OpRec]): Long = 0L
}

object SqlHot {
  /** The repository's sf0.1 bench dataset (TESTDATA.md). */
  val SfDir: String =
    new java.io.File(sys.props("user.home"), "testdata/sf0.1").getPath
  /** The r22 bench_fs subset of SparkEntry.queries. */
  val Queries: Seq[String] = Seq("q01_scan_parquet", "q05_filter",
    "q06_join_inner", "q11_agg_pricing", "q17_topk", "q45_knn_brute",
    "q48_langid", "q52_sessionize")
  /** Result rows collected per query, as in graft.Bench. */
  val RowCap = 2000000
  /** 24 queries: enough reads for a median with ten beyond it. */
  val MinCycles = 3
  /** Query cycles per requested second (fixed work). */
  val CyclesPerSecond = 0.3

  final case class Query(kind: String) extends Op { def cls = "read" }
}
