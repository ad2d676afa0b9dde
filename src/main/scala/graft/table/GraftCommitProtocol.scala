package graft.table

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** The table format's direct-write commit protocol (Delta's
  * `DelayedCommitProtocol`): every task creates each file at its FINAL
  * name and reports the names in its commit message; neither the task
  * nor the job commit touches a file. The manifest rename that names
  * the files is the only commit, so a file no manifest names — a crash
  * before the rename, a failed or retried task attempt, a speculative
  * duplicate — is an orphan: no reader sees it, the vacuum grace
  * protects it, vacuum reclaims it.
  *
  * Used only through [[GraftCommitProtocol.write]], never as the
  * session's `spark.sql.sources.commitProtocolClass`.
  *
  * @param dir  the directory every file is created in
  * @param only when set, the job has exactly one task and writes
  *             exactly this file name (a single-file deletion vector)
  */
private[table] class GraftCommitProtocol(dir: String, only: Option[String])
    extends FileCommitProtocol with Serializable {

  // task side: this attempt's files, in creation order
  @transient private var created: ArrayBuffer[String] = _
  // driver side: the committed tasks' files
  @volatile @transient private var committed: Seq[String] = Nil

  /** The committed tasks' files, in partition order (driver side, after
    * the job). */
  def files: Seq[String] = committed

  override def setupJob(jobContext: JobContext): Unit = ()

  override def commitJob(jobContext: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit =
    committed = taskCommits.flatMap(_.obj.asInstanceOf[Seq[String]])

  // a failed job's files are orphans like a crashed writer's
  override def abortJob(jobContext: JobContext): Unit = ()

  override def setupTask(taskContext: TaskAttemptContext): Unit =
    created = ArrayBuffer.empty

  override def newTaskTempFile(taskContext: TaskAttemptContext,
      partDir: Option[String], ext: String): String = {
    require(partDir.isEmpty, "the table format writes no partition dirs")
    val name = only.getOrElse {
      val split = taskContext.getTaskAttemptID.getTaskID.getId
      f"part-$split%05d-${java.util.UUID.randomUUID()}$ext"
    }
    require(only.isEmpty || created.isEmpty,
      s"a single-file write opened a second file after $name")
    val p = new Path(dir, name).toString
    created += p
    p
  }

  override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext,
      absoluteDir: String, ext: String): String =
    throw new UnsupportedOperationException(
      "the table format writes no custom partition locations")

  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(created.toSeq)

  // best effort: a file this leaves behind is an orphan for vacuum
  override def abortTask(taskContext: TaskAttemptContext): Unit =
    if (created != null) created.foreach { f =>
      val p = new Path(f)
      scala.util.Try(p.getFileSystem(taskContext.getConfiguration)
        .delete(p, false))
    }
}

private[graft] object GraftCommitProtocol {
  import org.apache.spark.sql.execution.SQLExecution
  import org.apache.spark.sql.execution.datasources.FileFormatWriter
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

  /** Write `df` as parquet files directly under `dir` through
    * `FileFormatWriter` and this protocol; returns the committed files'
    * full paths. With `only`, `df` must have one partition and its one
    * file is `dir/<only>`. */
  def write(spark: SparkSession, df: DataFrame, dir: String,
      only: Option[String] = None): Seq[String] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    val committer = new GraftCommitProtocol(dir, only)
    // a single-file write must not split at maxRecordsPerFile
    val options = if (only.isDefined) Map("maxRecordsPerFile" -> "0")
                  else Map.empty[String, String]
    SQLExecution.withNewExecutionId(qe, Some("graft table write")) {
      FileFormatWriter.write(session, qe.executedPlan, new ParquetFileFormat,
        committer, FileFormatWriter.OutputSpec(dir, Map.empty, qe.analyzed.output),
        session.sessionState.newHadoopConf(), Nil, None, Nil, options)
    }
    committer.files
  }
}
