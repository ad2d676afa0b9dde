package graft.table

import graft.TestBase
import org.apache.hadoop.fs.{FileUtil, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.GreaterThan
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.util.ConcurrentModificationException
import java.util.concurrent.atomic.AtomicReference

/** A local filesystem with a publish hook: the next rename of a commit's
  * staging dir (`_tmp_v<N>_*`) onto its version dir `v=<N>` first runs
  * the armed hook with the destination. A hook that commits through
  * another table handle is a concurrent writer winning the version in
  * the window between the loser's plan and its publish. */
class RaceFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("race:///")

  override def rename(src: Path, dst: Path): Boolean = {
    if (src.getName.startsWith("_tmp_v") && dst.getName.startsWith("v="))
      Option(RaceFileSystem.hook.getAndSet(null)).foreach(_(dst))
    super.rename(src, dst)
  }
}

object RaceFileSystem {
  val hook = new AtomicReference[Path => Unit]()
}

/** The lost-race outcome of each commit kind that `TableConcurrencySpec`
  * leaves unpinned: which kinds rebase, which re-plan, which fail loudly
  * and with what. A race is either spelled deterministically (a commit
  * planned against an older version than the latest) or forced through
  * [[RaceFileSystem]]'s publish hook. */
class CommitRaceSpec extends TestBase {

  private def root(tag: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.race.impl", classOf[RaceFileSystem].getName)
    "race:" + java.nio.file.Files.createTempDirectory(s"graft_race_$tag")
  }

  /** v=1: ids 1..1000 in `parts` key-clustered files. */
  private def table(tag: String, parts: Int = 2): GraftTable = {
    val r = root(tag)
    val spark0 = spark
    import spark0.implicits._
    GraftTable(spark, s"$r/data", s"$r/man", "id")
      .create((1L to 1000L).map(i => (i, i, i * 2)).toDF("id", "v", "x"), parts)
  }

  /** Another writer's handle on the same table. */
  private def other(t: GraftTable): GraftTable =
    GraftTable(spark, t.data, t.man, "id")

  /** Run `winner` at the next publish, before its rename. */
  private def raceOnce(winner: => Unit): Unit =
    RaceFileSystem.hook.set(_ => winner)

  private def rows(lo: Long, hi: Long): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    (lo to hi).map(i => (i, i, i * 2)).toDF("id", "v", "x")
  }

  private def plus(t: GraftTable, v: Int, name: String): StructType =
    StructType(t.versionSchema(v).get.fields :+
      StructField(name, StringType, nullable = true))

  private def props(t: GraftTable): String =
    GraftTable.readText(t.manFs, new Path(t.man, GraftTable.PropsFile))

  test("tagged OCC append: a winner that committed the same tag stands in for it") {
    val t = table("tag")
    raceOnce(other(t).commitAppendOcc(rows(2001L, 2100L), tag = Some("b1")))
    val v = t.commitAppendOcc(rows(2001L, 2100L), tag = Some("b1"))
    assert(v == 2, s"the winner's version holds the batch, got $v")
    assert(t.committedVersions == Seq(1, 2))
    assert(t.readAsOf(2).count() == 1100L, "the batch landed twice or not at all")
    assert(t.versionWithTag("b1").contains(2))
  }

  test("compaction that loses the race re-packs against the winner's files") {
    val t = table("compact", parts = 4)
    raceOnce(other(t).commitAppendOcc(rows(2001L, 2100L)))
    val packed = t.commitCompaction(1, 1L << 30)
    assert(t.committedVersions == Seq(1, 2, 3))
    assert(t.files(2).size == 6, s"winner files: ${t.files(2)}")
    assert(packed == 6, s"the re-plan must pack the winner's files too: $packed")
    assert(t.files(3).size == 1)
    assert(t.files(3).toSet.intersect(t.files(2).toSet).isEmpty)
    assert(t.readAsOf(3).count() == 1100L, "the re-pack lost the winner's rows")
    assert(!t.dataChange(3), "a compaction is a layout-only commit")
  }

  test("COW and MoR DML planned before an ADD COLUMN fail on the schema rule") {
    val t = table("dmladd")
    t.commitWidenSchema(plus(t, 1, "extra"), 1) // v=2: same files, new schema
    val cow = intercept[ConcurrentModificationException] {
      t.commitDelete(Seq(GreaterThan("id", 990L)), col("id") > 990L, 1, 2, None)
    }
    assert(cow.getMessage.contains("schema"), cow.getMessage)
    val morDel = intercept[ConcurrentModificationException] {
      t.commitDeleteMor(Seq(GreaterThan("id", 990L)), col("id") > 990L, 1)
    }
    assert(morDel.getMessage.contains("schema"), morDel.getMessage)
    val morUpd = intercept[ConcurrentModificationException] {
      t.commitUpdateMor(col("id") <= 10L, Map("v" -> lit(0L)), 1)
    }
    assert(morUpd.getMessage.contains("schema"), morUpd.getMessage)
    assert(t.committedVersions == Seq(1, 2))
    assert(t.readAsOf(2).count() == 1000L)
  }

  test("schema changes, z-order and restore that lose the race fail loudly") {
    val t = table("layout")
    t.commitWidenSchema(plus(t, 1, "a"), 1) // v=2
    intercept[ConcurrentModificationException](
      t.commitWidenSchema(plus(t, 1, "b"), 1))
    intercept[ConcurrentModificationException](t.commitNarrowSchema(Seq("x"), 1))
    intercept[ConcurrentModificationException](t.commitRenameColumn("x", "y", 1))
    assert(!props(t).contains("rename.2.0"),
      s"a lost RENAME must drop its pending event: ${props(t)}")
    intercept[ConcurrentModificationException](
      t.commitZorder(1, 1L << 30, Seq("v", "x")))
    assert(t.committedVersions == Seq(1, 2))
    assert(t.versionSchema(2).get.fieldNames.toSeq == Seq("id", "v", "x", "a"))

    // RESTORE keeps the replay rule: a winner with other content is a
    // contract violation, never a silent drop of either commit
    raceOnce(other(t).commitAppendOcc(rows(2001L, 2100L)))
    val e = intercept[IllegalArgumentException](t.commitRestore(1))
    assert(e.getMessage.contains("DIFFERENT snapshot"), e.getMessage)
    assert(t.committedVersions == Seq(1, 2, 3))
    assert(t.readAsOf(3).count() == 1100L, "the winner's append must stand")
  }

  test("retry exhaustion: an OCC append that loses every race gives up") {
    val t = table("exhaust")
    // every publish of v=N finds v=N already committed: a copy of v=N-1
    // (a carry-forward winner), so the append rebases and loses again
    def arm(): Unit = RaceFileSystem.hook.set { dst =>
      val prev = new Path(dst.getParent, s"v=${dst.getName.drop(2).toInt - 1}")
      FileUtil.copy(t.manFs, prev, t.manFs, dst, false, t.manFs.getConf)
      arm()
    }
    arm()
    try {
      val e = intercept[IllegalStateException](
        t.commitAppendOcc(rows(2001L, 2100L)))
      assert(e.getMessage.contains("giving up"), e.getMessage)
    } finally RaceFileSystem.hook.set(null)
    val latest = t.committedVersions.max
    assert(latest > 40, s"the append gave up after ${latest - 1} races")
    assert(t.readAsOf(latest).count() == 1000L,
      "an exhausted append must not land")
  }

  test("COW merge against ADD, DROP and RENAME COLUMN winners") {
    val spark0 = spark
    import spark0.implicits._
    val batch = (1L to 10L).map(i => (i, -i, 0L)).toDF("id", "v", "x")

    // ADD: the merge rebases over it and commits exactly its rows; the
    // added column reads NULL in old and new files alike
    val a = table("mergeadd")
    raceOnce(other(a).commitWidenSchema(plus(a, 1, "extra"), 1))
    a.commitMerge(batch, 1)
    assert(a.committedVersions == Seq(1, 2, 3))
    val got = a.readAsOf(3)
    assert(got.columns.toSeq == Seq("id", "v", "x", "extra"))
    assert(got.count() == 1000L)
    assert(got.filter(col("extra").isNotNull).count() == 0L)
    assert(got.filter(col("id") <= 10L && col("v") === -col("id") &&
      col("x") === 0L).count() == 10L, "the merge's rows are missing")
    assert(got.filter(col("id") > 10L && col("v") === col("id") &&
      col("x") === col("id") * 2).count() == 990L, "untouched rows changed")

    // DROP: the rebased merge would re-record the dropped column from
    // its batch; the resurrection guard refuses it loudly
    val d = table("mergedrop")
    raceOnce(other(d).commitNarrowSchema(Seq("x"), 1))
    val ed = intercept[IllegalArgumentException](d.commitMerge(batch, 1))
    assert(ed.getMessage.contains("'x'"), ed.getMessage)
    assert(d.committedVersions == Seq(1, 2))
    assert(d.readAsOf(2).columns.toSeq == Seq("id", "v"))

    // RENAME: the batch still speaks the old name; the same guard
    // refuses it, and the winner's rename keeps reading its bytes
    val r = table("mergerename")
    raceOnce(other(r).commitRenameColumn("x", "y", 1))
    val er = intercept[IllegalArgumentException](r.commitMerge(batch, 1))
    assert(er.getMessage.contains("'x'"), er.getMessage)
    assert(r.committedVersions == Seq(1, 2))
    assert(r.readAsOf(2).filter(col("y") === col("id") * 2).count() == 1000L)
  }

  /** A `race.db.<name>` SQL table over a fresh v=1 table. */
  private def sqlTable(name: String): GraftTable = {
    val cat = java.nio.file.Files.createTempDirectory("graft_race_cat")
    spark.conf.set("spark.sql.catalog.race", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.race.dir", s"$cat/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS race.db")
    val t = table(s"sql$name")
    spark.sql(s"CREATE TABLE race.db.$name USING graft OPTIONS (man '${t.man}')")
    t
  }

  test("SQL MERGE INTO that loses the race names the statement") {
    val m = sqlTable("m")
    val spark0 = spark
    import spark0.implicits._
    (1L to 10L).map(i => (i, -i)).toDF("id", "nv")
      .createOrReplaceTempView("race_src")
    raceOnce(other(m).commitAppendOcc(rows(2001L, 2100L)))
    val e = intercept[ConcurrentModificationException](spark.sql(
      """MERGE INTO race.db.m t USING race_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin).collect())
    assert(e.getMessage.contains("MERGE INTO"), e.getMessage)
    assert(m.committedVersions == Seq(1, 2))
    assert(m.readAsOf(2).filter(col("v") < 0L).count() == 0L)
  }

  test("SQL DELETE FROM that loses the race names the statement") {
    val d = sqlTable("d")
    raceOnce(other(d).commitAppendOcc(rows(2001L, 2100L)))
    val e = intercept[ConcurrentModificationException](
      spark.sql("DELETE FROM race.db.d").collect())
    assert(e.getMessage.contains("DELETE FROM"), e.getMessage)
    assert(d.committedVersions == Seq(1, 2))
    assert(d.readAsOf(2).count() == 1100L)
  }
}
