package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One Spark job as the listener saw it (times on the nanoTime clock). */
final class JobRec(val id: Int, val startNs: Long, val stageIds: Seq[Int]) {
  var endNs: Long = -1L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
}

/** The benchmark's SparkListener (traced run only): jobs with their
  * intervals, completed stages, tasks, executor CPU, GC, shuffle-write
  * and input bytes. Jobs are matched to ops afterwards by start time. */
final class SparkProbe extends SparkListener {
  // listener times are epoch milliseconds; map them onto nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  def all: Seq[JobRec] = synchronized(jobs.values.toSeq)
  def reset(): Unit = synchronized { jobs.clear(); stageJob.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, ns(e.time), e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endNs = ns(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
}
