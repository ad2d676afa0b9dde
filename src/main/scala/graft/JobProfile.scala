package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Measurement tool (optimization guide §1): per-query Spark JOB
  * accounting. At bench scale the declared queries are dominated by
  * fixed per-job costs (sampling passes, stats scans, manifest I/O),
  * so the job count and each job's callsite is the profile that tells
  * you which pass to delete — the UI is disabled in the bench, this is
  * the headless equivalent of its Jobs page.
  *
  * Usage: runMain graft.JobProfile <q1>[,<q2>...] [sfDir]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q46d_ann_indexed").split(",").toSeq
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class J(id: Int, start: Long, var end: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, site: String)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val listener = new CallsiteListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs(e.jobId) = J(e.jobId, e.time, site = siteOf(e))
        jobs(e.jobId).stages = e.stageInfos.size
        jobs(e.jobId).tasks = e.stageInfos.map(_.numTasks).sum
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm-up: classloading/codegen out of the measurement
      fn(spark, sfDir).limit(2000000).collect()
      spark.catalog.clearCache()
      jobs.synchronized(jobs.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      // listener event times are epoch milliseconds
      val startMs = System.currentTimeMillis()
      fn(spark, sfDir).limit(2000000).collect()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
      val js = jobs.synchronized(jobs.values.toSeq)
      val done = js.filter(_.end > 0)
      println(f"==== $name wall=$wall%.2fs jobs=${js.size} " +
        f"stages=${js.map(_.stages).sum} tasks=${js.map(_.tasks).sum} " +
        f"jobTimeSum=${done.map(j => j.end - j.start).sum / 1e3}%.2fs ====")
      // aggregate by callsite: which code path burns the jobs
      val bySite = done.groupBy(_.site).map { case (s, g) =>
        (s, g.size, g.map(j => j.end - j.start).sum / 1e3,
          g.map(_.tasks).sum)
      }.toSeq.sortBy(-_._3)
      bySite.foreach { case (s, n, t, tk) =>
        println(f"  $t%7.2fs  n=$n%-3d tasks=$tk%-5d $s")
      }
      // per-job timeline incl. the GAP to the previous job's end: the
      // gap is driver-side work (planning, manifest/footer I/O, AQE)
      println("  -- timeline (dur / gap-before / tasks / site) --")
      var prevEnd = startMs
      done.sortBy(_.start).foreach { j =>
        val gap = math.max(0L, j.start - prevEnd)
        prevEnd = math.max(prevEnd, j.end)
        println(f"  job${j.id}%-4d ${(j.end - j.start) / 1e3}%6.2fs gap=${gap / 1e3}%5.2fs t=${j.tasks}%-4d ${j.site.take(100)}")
      }
    }
    spark.stop()
  }

  /** Records each SQL execution's callsite, so [[siteOf]] can name the
    * jobs whose own stack holds only library frames. */
  class CallsiteListener extends SparkListener {
    private val execSites =
      new java.util.concurrent.ConcurrentHashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSites.put(s.executionId, callsite(s.details))
      case _ =>
    }

    /** A job's callsite: its first stage's [[callsite]] (local mode: the
      * callsite rides the stage infos, not the job properties), else the
      * callsite of the SQL execution it runs under. Adaptive execution
      * submits a query's stages from its own thread pool, so those jobs'
      * stacks start at the pool thread and hold no user frame. */
    def siteOf(e: SparkListenerJobStart): String =
      e.stageInfos.headOption.map(s => callsite(s.details)).filter(_ != "?")
        .orElse(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSites.get(id.toLong))))
        .getOrElse("?")
  }

  private val libraryFrames =
    Seq("org.apache.spark.", "java.", "jdk.", "sun.", "scala.")

  /** The first frame of a stage's `details` (its call stack, one frame
    * per line) outside Spark, the JDK and the Scala library, or `?`.
    * Frames are told apart by their class name: every frame of a Scala
    * source carries `.scala:` in its file name, so a substring test for
    * `scala.` would drop them all. */
  def callsite(details: String): String =
    details.linesIterator.map(_.trim)
      .find(l => l.nonEmpty && !libraryFrames.exists(l.startsWith))
      .getOrElse("?")
}
