package graft.table

import graft.TestBase
import org.apache.spark.sql.functions._

/** CHECK constraints — write-time data-quality enforcement (the Delta
  * `ALTER TABLE ADD CONSTRAINT` capability, spelled through table
  * properties): declared at CREATE (`check.<name>` option) or added
  * later (`ALTER TABLE ... SET TBLPROPERTIES ('check.<name>' =
  * '<boolean expr>')`), enforced inside EVERY commit path's stats scan
  * ([[GraftTable!.fileStats]] — the one distributed pass each commit
  * already runs over its newly-written files, so enforcement adds agg
  * columns, not a scan). A violation throws BEFORE the manifest
  * commit: no version burns, staged files are vacuum-reclaimable
  * orphans. SQL CHECK semantics: only FALSE violates — NULL satisfies. */
class CheckConstraintSpec extends TestBase {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_check").toString

  private def fullMsg(t: Throwable): String =
    Option(t.getMessage).getOrElse("") +
      Option(t.getCause).map(fullMsg).getOrElse("")

  private def registerCat(cat: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.dir", s"$root/catalog")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
  }

  test("append enforcement: violation throws naming the constraint, burns no version; NULL satisfies") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val ok = Seq((1L, Some(5.0)), (2L, Some(0.5)), (3L, None))
      .toDF("id", "price") // NULL price must SATISFY (SQL CHECK)
    val tbl = GraftTable(s, s"$root/data", s"$root/man", "id",
      checks = Seq("price_pos" -> "price > 0"))
    tbl.create(ok, 2)
    assert(tbl.readAsOf(1).count() == 3L)

    // valid append commits
    tbl.commitAppendOcc(Seq((4L, Some(1.0))).toDF("id", "price"))
    assert(tbl.committedVersions.max == 2)

    // violating append: loud, names the constraint, no version burned
    val e = intercept[Exception] {
      tbl.commitAppendOcc(
        Seq((5L, Some(2.0)), (6L, Some(-1.0))).toDF("id", "price"))
    }
    assert(fullMsg(e).contains("price_pos"), fullMsg(e))
    assert(fullMsg(e).contains("1 row"), fullMsg(e))
    assert(tbl.committedVersions.max == 2, "violation must not commit")
    assert(tbl.readAsOf(2).count() == 4L)
  }

  test("props round-trip: loadProps, DESCRIBE-properties, enforcement from a fresh instance") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    GraftTable(s, s"$root/data", s"$root/man", "id",
      checks = Seq("qty_range" -> "qty BETWEEN 0 AND 100"))
      .create(Seq((1L, 50)).toDF("id", "qty"), 1)
    val p = GraftTable.loadProps(s, s"$root/man").get
    assert(p.checks == Seq("qty_range" -> "qty BETWEEN 0 AND 100"))
    // a FRESH instance with no declared checks still enforces (live
    // props resolution — the production shape: writers hold only paths)
    val fresh = GraftTable(s, s"$root/data", s"$root/man", "id")
    val e = intercept[Exception] {
      fresh.commitAppendOcc(Seq((2L, 101)).toDF("id", "qty"))
    }
    assert(fullMsg(e).contains("qty_range"), fullMsg(e))
    // the catalog surfaces them through properties() (SHOW TBLPROPERTIES)
    val props = GraftV2Table("t", s"$root/man", pinned = None).properties()
    assert(props.get("check.qty_range") == "qty BETWEEN 0 AND 100")
  }

  test("SQL surface: CREATE with check option; INSERT/UPDATE/MERGE violations are loud and burn no version") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    registerCat("gchk", root)
    s.sql(s"""CREATE TABLE gchk.db.t (id BIGINT, v BIGINT) USING graft
             |OPTIONS (man '$root/man', data '$root/data', key 'id',
             |  'check.v_pos' 'v > 0')""".stripMargin)
    s.sql("INSERT INTO gchk.db.t VALUES (1, 10), (2, 20)")
    val tbl = GraftTable(s, s"$root/data", s"$root/man", "id")
    val vAfterInsert = tbl.committedVersions.max

    val ei = intercept[Exception] {
      s.sql("INSERT INTO gchk.db.t VALUES (3, 30), (4, -1)") }
    assert(fullMsg(ei).contains("v_pos"), fullMsg(ei))
    assert(tbl.committedVersions.max == vAfterInsert)
    assert(s.sql("SELECT count(*) AS c FROM gchk.db.t").head.getLong(0) == 2L)

    val eu = intercept[Exception] {
      s.sql("UPDATE gchk.db.t SET v = v - 100 WHERE id = 1") }
    assert(fullMsg(eu).contains("v_pos"), fullMsg(eu))
    assert(tbl.committedVersions.max == vAfterInsert)

    Seq((2L, -5L), (9L, 9L)).toDF("id", "v").createOrReplaceTempView("chk_src")
    val em = intercept[Exception] {
      s.sql("""MERGE INTO gchk.db.t t USING chk_src s ON t.id = s.id
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
    assert(fullMsg(em).contains("v_pos"), fullMsg(em))
    assert(tbl.committedVersions.max == vAfterInsert)
    assert(s.sql("SELECT sum(v) AS sv FROM gchk.db.t").head.getLong(0) == 30L)

    // valid statements still flow
    s.sql("UPDATE gchk.db.t SET v = v + 1 WHERE id = 1")
    assert(s.sql("SELECT v FROM gchk.db.t WHERE id = 1").head.getLong(0) == 11L)
  }

  test("ALTER SET TBLPROPERTIES: validates existing data, then enforces; UNSET re-allows") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    registerCat("gchk2", root)
    GraftTable(s, s"$root/data", s"$root/man", "id")
      .create(Seq((1L, 5L), (2L, -3L)).toDF("id", "v"), 1)
    s.sql(s"CREATE TABLE gchk2.db.t USING graft OPTIONS (man '$root/man')")

    // existing data violates -> loud, constraint NOT recorded
    val e1 = intercept[Exception] {
      s.sql("ALTER TABLE gchk2.db.t SET TBLPROPERTIES ('check.v_pos' = 'v > 0')") }
    assert(fullMsg(e1).contains("existing row"), fullMsg(e1))
    assert(GraftTable.loadProps(s, s"$root/man").get.checks.isEmpty)
    s.sql("INSERT INTO gchk2.db.t VALUES (3, -9)") // still unconstrained

    // a constraint the data satisfies records and enforces
    s.sql("ALTER TABLE gchk2.db.t SET TBLPROPERTIES ('check.v_big' = 'v > -100')")
    assert(GraftTable.loadProps(s, s"$root/man").get.checks ==
      Seq("v_big" -> "v > -100"))
    val e2 = intercept[Exception] {
      s.sql("INSERT INTO gchk2.db.t VALUES (4, -200)") }
    assert(fullMsg(e2).contains("v_big"), fullMsg(e2))

    // UNSET drops it; the same insert now commits
    s.sql("ALTER TABLE gchk2.db.t UNSET TBLPROPERTIES ('check.v_big')")
    assert(GraftTable.loadProps(s, s"$root/man").get.checks.isEmpty)
    s.sql("INSERT INTO gchk2.db.t VALUES (4, -200)")
    assert(s.sql("SELECT count(*) AS c FROM gchk2.db.t").head.getLong(0) == 4L)
  }

  test("widening: a check on an ALTER-added column treats a narrow-schema batch as NULL (satisfies)") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    registerCat("gchk3", root)
    GraftTable(s, s"$root/data", s"$root/man", "id")
      .create(Seq((1L, "a")).toDF("id", "txt"), 1)
    s.sql(s"CREATE TABLE gchk3.db.t USING graft OPTIONS (man '$root/man')")
    s.sql("ALTER TABLE gchk3.db.t ADD COLUMN score DOUBLE")
    s.sql("ALTER TABLE gchk3.db.t SET TBLPROPERTIES ('check.score_pos' = 'score > 0')")
    // a narrow batch (no score column) appends through the path surface:
    // enforcement must read the missing column as NULL = satisfied
    val tbl = GraftTable(s, s"$root/data", s"$root/man", "id")
    tbl.commitAppendOcc(Seq((2L, "b")).toDF("id", "txt"))
    assert(s.sql("SELECT count(*) AS c FROM gchk3.db.t WHERE score IS NULL")
      .head.getLong(0) == 2L)
    // while a WIDE batch with a bad score still fails
    val e = intercept[Exception] {
      tbl.commitAppendOcc(Seq((3L, "c", -1.0)).toDF("id", "txt", "score")) }
    assert(fullMsg(e).contains("score_pos"), fullMsg(e))
  }

  test("declaration loudness: non-boolean, unknown column, subquery, violating initial data") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val df = Seq((1L, 5L)).toDF("id", "v")
    def createWith(check: (String, String)) =
      GraftTable(s, s"$root/data", s"$root/man", "id",
        checks = Seq(check)).create(df, 1)

    val e1 = intercept[Exception] { createWith("bad" -> "v + 1") }
    assert(fullMsg(e1).contains("BOOLEAN"), fullMsg(e1))
    val e2 = intercept[Exception] { createWith("bad" -> "nope > 0") }
    assert(fullMsg(e2).contains("unknown column"), fullMsg(e2))
    val e3 = intercept[Exception] {
      createWith("bad" -> "v > (SELECT max(id) FROM x)") }
    assert(fullMsg(e3).toLowerCase.contains("subquery") ||
      fullMsg(e3).contains("parse"), fullMsg(e3))
    val e4 = intercept[Exception] { createWith("bad name" -> "v > 0") }
    assert(fullMsg(e4).contains("identifier"), fullMsg(e4))
    // violating INITIAL data: create's stats scan enforces too
    val e5 = intercept[Exception] {
      GraftTable(s, s"$root/data5", s"$root/man5", "id",
        checks = Seq("v_neg" -> "v < 0")).create(df, 1) }
    assert(fullMsg(e5).contains("v_neg"), fullMsg(e5))
  }

  test("casing: a batch spelled in a different case is the SAME column — never NULL-substituted") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val tbl = GraftTable(s, s"$root/data", s"$root/man", "id",
      checks = Seq("v_pos" -> "v > 0"))
    tbl.create(Seq((1L, 10L)).toDF("id", "v"), 1)
    // Spark's analyzer treats V as the same column as v
    // (spark.sql.caseSensitive=false default) — so the constraint must
    // too. Pre-fix, `V` was "absent" and substituted as NULL → a
    // violating batch committed silently.
    val e = intercept[Exception] {
      tbl.commitAppendOcc(Seq((2L, -5L)).toDF("id", "V"))
    }
    assert(fullMsg(e).contains("v_pos"), fullMsg(e))
    assert(tbl.committedVersions.max == 1, "violation must not commit")
    // a SATISFYING upper-cased batch still flows
    tbl.commitAppendOcc(Seq((3L, 7L)).toDF("id", "V"))
    assert(tbl.readAsOf(2).count() == 2L)
    // declaration-time resolution is case-insensitive the same way: a
    // check spelled `V` against schema column `v` validates + enforces
    val t2 = GraftTable(s, s"$root/data2", s"$root/man2", "id",
      checks = Seq("v_pos2" -> "V > 0"))
    t2.create(Seq((1L, 1L)).toDF("id", "v"), 1)
    val e2 = intercept[Exception] {
      t2.commitAppendOcc(Seq((2L, -1L)).toDF("id", "v")) }
    assert(fullMsg(e2).contains("v_pos2"), fullMsg(e2))
  }

  test("casing under spark.sql.caseSensitive=true: V and v ARE different columns again") {
    // the fix resolves via SQLConf.resolver, so it must FOLLOW the
    // session's sensitivity: in a case-sensitive session a batch
    // column `V` is NOT the checked column `v` — it widens the schema
    // and the check evaluates v as NULL (satisfies), exactly like any
    // other absent column
    val orig = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.GraftExtensions)
        .config("spark.sql.caseSensitive", "true")
        .getOrCreate()
      try {
        import s.implicits._
        val root = freshRoot()
        val tbl = GraftTable(s, s"$root/data", s"$root/man", "id",
          checks = Seq("v_pos" -> "v > 0"))
        tbl.create(Seq((1L, 10L)).toDF("id", "v"), 1)
        // a `V = -5` batch: v is ABSENT (case-sensitive), so the check
        // reads NULL -> satisfies, and V records as a NEW column
        tbl.commitAppendOcc(Seq((2L, -5L)).toDF("id", "V"))
        assert(tbl.committedVersions.max == 2)
        val sch = tbl.versionSchema(2).get.fieldNames.toSeq
        assert(sch.contains("v") && sch.contains("V"),
          s"case-sensitive schema must carry both spellings: $sch")
        // while a violating `v` batch still rejects
        val e = intercept[Exception] {
          tbl.commitAppendOcc(Seq((3L, -1L)).toDF("id", "v")) }
        assert(fullMsg(e).contains("v_pos"), fullMsg(e))
      } finally ()
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
    }
  }

  test("streaming + clone: the sink enforces; a shallow clone inherits constraints") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val tbl = GraftTable(s, s"$root/data", s"$root/man", "id",
      checks = Seq("v_pos" -> "v > 0"))
    tbl.create(Seq((1L, 10L)).toDF("id", "v"), 1)
    // MoR merge path enforces (commitMergeMor stats its batch files too)
    val em = intercept[Exception] {
      tbl.commitMergeMor(Seq((1L, -2L)).toDF("id", "v"),
        tbl.committedVersions.max) }
    assert(fullMsg(em).contains("v_pos"), fullMsg(em))
    // clone inherits the constraint through its own props
    val clone = tbl.shallowClone(1, s"$root/cdata", s"$root/cman")
    assert(GraftTable.loadProps(s, s"$root/cman").get.checks ==
      Seq("v_pos" -> "v > 0"))
    val ec = intercept[Exception] {
      clone.commitAppendOcc(Seq((9L, -1L)).toDF("id", "v")) }
    assert(fullMsg(ec).contains("v_pos"), fullMsg(ec))
  }
}
