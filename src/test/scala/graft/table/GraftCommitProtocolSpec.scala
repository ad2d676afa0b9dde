package graft.table

import graft.{Tables, TestBase}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.{JobContextImpl, TaskAttemptContextImpl}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The direct-write commit protocol: tasks create their files at their
  * final names, the manifest rename is the only commit, and a file of a
  * failed or retried task attempt is an orphan no manifest names and
  * vacuum reclaims. */
class GraftCommitProtocolSpec extends TestBase {

  private def orders: DataFrame =
    Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")

  private def freshTable(tag: String): GraftTable = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_fcp_$tag").toString
    GraftTable(spark, s"$root/data", s"$root/man", "o_orderkey").create(orders, 2)
  }

  private def exists(f: String): Boolean =
    new java.io.File(new Path(f).toUri.getPath).exists()

  test("a task attempt that fails after writing its file: no manifest names it, vacuum reclaims what survives") {
    val table = freshTable("fail")
    val n1 = orders.count()
    val before = table.partFiles
    val dir = new Path(table.data).toUri.getPath
    FailingWrite.sawOwnFile = false
    // partition 1 (ids 500..999) fails on its last row, after its
    // writer created its file; partition 0 may commit its task first
    val fail = udf((id: Long) => FailingWrite.check(id, dir))
    val batch = spark.range(0, 1000, 1, 2)
      .select(fail(col("id")).as("o_orderkey"))
    val e = intercept[Exception](GraftCommitProtocol.write(spark, batch, table.data))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected task failure")), e)
    assert(FailingWrite.sawOwnFile, "the failing task had not created its file")

    assert(table.committedVersions == Seq(1))
    assert(table.readAsOf(1).count() == n1)
    val survivors = table.partFiles -- before
    assert(!table.files(1).exists(f => survivors(new Path(f).getName)),
      "the manifest names a file of the failed job")
    // abortTask deleted the failed attempt's own file
    assert(!survivors.exists(_.startsWith("part-00001-")),
      s"the failed attempt's file survived its abortTask: $survivors")
    val reclaimed = table.vacuum(1, 1)
    assert(reclaimed.toSet == survivors, s"vacuum reclaimed $reclaimed, want $survivors")
    assert(table.partFiles == before)
    assert(table.readAsOf(1).count() == n1)
  }

  test("a retried attempt writes a new name; only the committed attempt's file reaches the manifest") {
    val table = freshTable("retry")
    val n1 = orders.count()
    val before = table.partFiles
    // real parquet bytes with the table's schema, for both attempts
    val src = java.nio.file.Files.createTempDirectory("graft_fcp_src").toString
    orders.limit(50).coalesce(1).write.mode("overwrite").parquet(s"$src/b")
    val bytes = java.nio.file.Files.readAllBytes(new java.io.File(s"$src/b")
      .listFiles().find(_.getName.endsWith(".parquet")).get.toPath)
    def put(f: String): Unit =
      java.nio.file.Files.write(new java.io.File(new Path(f).toUri.getPath).toPath, bytes)

    val conf = spark.sessionState.newHadoopConf()
    val job = new JobContextImpl(conf, new JobID("graft", 0))
    def attempt(n: Int) = new TaskAttemptContextImpl(conf,
      new TaskAttemptID("graft", 0, TaskType.MAP, 3, n))
    val p = new GraftCommitProtocol(table.data, None)
    p.setupJob(job)

    // attempt 0 writes its file, then dies without abortTask (a lost
    // executor); attempt 1 of the same task writes and commits
    val a0 = attempt(0)
    p.setupTask(a0)
    val f0 = p.newTaskTempFile(a0, None, ".parquet")
    put(f0)
    val a1 = attempt(1)
    p.setupTask(a1)
    val f1 = p.newTaskTempFile(a1, None, ".parquet")
    put(f1)
    val msg = p.commitTask(a1)
    assert(f0 != f1)
    Seq(f0, f1).foreach { f =>
      assert(new Path(f).getParent.toUri.getPath == new Path(table.data).toUri.getPath,
        s"$f is not created in the data dir")
      assert(new Path(f).getName.matches("part-00003-[0-9a-f-]{36}\\.parquet"), f)
    }
    p.commitJob(job, Seq(msg))
    assert(p.files == Seq(f1))
    // the job commit touched no file: both attempts' files are where
    // the tasks created them
    assert(exists(f0) && exists(f1))

    val base = table.snapshot()
    table.commitManifest(table.unionEntries(base.entries, table.fileStats(p.files)), 2)
    assert(table.files(2).map(new Path(_).getName).contains(new Path(f1).getName))
    assert(!table.files(2).map(new Path(_).getName).contains(new Path(f0).getName),
      "the manifest names the lost attempt's file")
    assert(table.readAsOf(2).count() == n1 + 50)
    // the surviving attempt-0 file is the only orphan
    assert(table.vacuum(2, 2) == Seq(new Path(f0).getName))
    assert(table.partFiles == before + new Path(f1).getName)
    assert(table.readAsOf(2).count() == n1 + 50)
  }

  test("a manifest the driver-side writer cannot encode commits through the same protocol") {
    val table = freshTable("manfallback")
    val n1 = orders.count()
    val base = table.snapshot()
    // a date column is outside the driver-side writer's types
    table.commitManifest(base.entries.withColumn("d", current_date()), 2)
    assert(table.files(2).sorted == table.files(1).sorted)
    assert(table.readAsOf(2).count() == n1)
    val names = new java.io.File(new Path(table.snapshot().dir).toUri.getPath).list().toSeq
    assert(names.count(_.endsWith(".parquet")) == 1, names)
    assert(!names.exists(n => n == "_SUCCESS" || n == "_temporary"), names)
  }

  test("abortTask deletes its attempt's files; a single-file write has exactly one name") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fcp_abort").toString
    val conf = spark.sessionState.newHadoopConf()
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0))
    val p = new GraftCommitProtocol(dir, None)
    p.setupTask(ctx)
    val fs = Seq(p.newTaskTempFile(ctx, None, "-c000.parquet"),
      p.newTaskTempFile(ctx, None, "-c001.parquet"))
    fs.foreach(f => java.nio.file.Files.write(
      new java.io.File(new Path(f).toUri.getPath).toPath, Array[Byte](1)))
    p.abortTask(ctx)
    assert(fs.forall(f => !exists(f)), "abortTask left its files")

    val one = new GraftCommitProtocol(dir, Some("dv-0000abcd.parquet"))
    one.setupTask(ctx)
    assert(one.newTaskTempFile(ctx, None, ".parquet") ==
      new Path(dir, "dv-0000abcd.parquet").toString)
    intercept[IllegalArgumentException](one.newTaskTempFile(ctx, None, ".parquet"))
  }
}

/** Fails the write task holding id 999 on that row, after noting
  * whether the task's file already exists in the data dir. Tasks run in
  * the test JVM (local mode), so the flag is shared with the test. */
object FailingWrite {
  @volatile var sawOwnFile = false

  def check(id: Long, dir: String): Long = {
    if (id == 999L) {
      sawOwnFile = Option(new java.io.File(dir).list()).exists(
        _.exists(_.startsWith("part-00001-")))
      throw new IllegalStateException("injected task failure")
    }
    id
  }
}
