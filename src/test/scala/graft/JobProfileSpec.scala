package graft

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.functions.col

import scala.jdk.CollectionConverters._

/** JobProfile's callsite attribution: each job is named by the first
  * frame of its first stage's call stack outside Spark, the JDK and the
  * Scala library. */
class JobProfileSpec extends TestBase {

  /** (first stage's `details`, attributed callsite) of every job `body`
    * starts. */
  private def jobsOf(body: => Unit): Seq[(String, String)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val l = new JobProfile.CallsiteListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.stageInfos.headOption.map(_.details).getOrElse(""), siteOf(e)))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    seen.asScala.toSeq
  }

  test("every job a graft.table commit starts is attributed to a graft frame") {
    val root = java.nio.file.Files.createTempDirectory("graft_jobprofile").toString
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val table = graft.table.GraftTable(spark, s"$root/data", s"$root/man",
      "o_orderkey").create(orders, 2)
    val jobs = jobsOf {
      table.commitAppend(orders.filter(col("o_orderkey") < 100), 1, 2)
    }
    assert(jobs.nonEmpty)
    val (details, sites) = jobs.unzip
    info(s"callsites: ${sites.mkString(" | ")}")
    assert(sites.forall(_.startsWith("graft.")), sites)
    assert(sites.exists(_.startsWith("graft.table.")), sites)
    // the former filter named every one of these jobs `?`: it dropped
    // each Scala-source frame (its file name `X.scala:` contains
    // "scala."), and adaptive execution submits the jobs from its own
    // pool, whose stacks hold no user frame at all
    val former = details.map(_.linesIterator.filterNot(l =>
      l.contains("org.apache.spark") || l.contains("java.") ||
        l.contains("scala.")).nextOption().getOrElse("?").trim)
    assert(former.forall(_ == "?"), former)
  }

  test("callsite skips library frames by class name, not by substring") {
    val details = Seq(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:3823)",
      "graft.table.GraftTable.fileStats(GraftTable.scala:195)",
      "graft.table.GraftTable.commitAppend(GraftTable.scala:1087)",
      "scala.collection.immutable.List.foreach(List.scala:334)").mkString("\n")
    assert(JobProfile.callsite(details) ==
      "graft.table.GraftTable.fileStats(GraftTable.scala:195)")
    assert(JobProfile.callsite(
      "java.lang.Thread.run(Thread.java:840)\njdk.internal.misc.Unsafe.park(Native Method)") == "?")
    assert(JobProfile.callsite("") == "?")
  }
}
