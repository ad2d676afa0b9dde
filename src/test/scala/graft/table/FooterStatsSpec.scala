package graft.table

import graft.TestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Parity gate for the two r21 commit-path optimizations:
  *
  *  1. footer-based [[GraftTable!.fileStats]] (stats decoded from the
  *     parquet footers Spark's writer already recorded — no second
  *     distributed scan of freshly written files) must produce entries
  *     VALUE-IDENTICAL to the distributed-scan path across every codec
  *     family, including the stored-form normalizations (string box
  *     truncation, double signed-zero) and the NULL census;
  *  2. the driver-side manifest write ([[GraftTable.writeManifestRows]])
  *     must round-trip through both the direct manifest reader and
  *     `spark.read.parquet` exactly like the Spark-written form.
  *
  * Both fall back to the old paths when outside their envelope — the
  * fallback triggers (CHECK constraints, bloom columns, NaN bounds)
  * are pinned here too.
  */
class FooterStatsSpec extends TestBase {

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"footer_$tag")
    d.toString
  }

  /** fileStats under both settings, canonicalized for comparison. */
  private def bothPaths(t: GraftTable, files: Seq[String])
      : (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    def canon(rows: Array[Row]): Seq[Seq[Any]] =
      rows.map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }).sortBy(_.head.toString).toSeq
    spark.conf.set("spark.graft.stats.fromFooters", "true")
    val fast = t.fileStats(files)
    val fastRows = canon(fast.collect())
    val fastSchema = fast.schema
    spark.conf.set("spark.graft.stats.fromFooters", "false")
    val slow = t.fileStats(files)
    val slowRows = canon(slow.collect())
    assert(fastSchema == slow.schema,
      s"schema drift: $fastSchema vs ${slow.schema}")
    spark.conf.set("spark.graft.stats.fromFooters", "true")
    (fastRows, slowRows)
  }

  private def partsOf(t: GraftTable): Seq[String] =
    t.partFiles.toSeq.sorted.map(n => s"${t.data}/$n")

  test("footer stats == scan stats: long key + long/double/string/date/" +
      "timestamp stats columns, nulls included") {
    val s = spark
    import s.implicits._
    val root = tmp("types")
    val df = s.range(0, 1000).select(col("id").as("k"),
      (col("id") % 97).as("lv"),
      when(col("id") % 11 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double") / 7.0).as("dv"),
      when(col("id") % 13 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("value_with_a_long_tail_"),
          col("id").cast("string"))).as("sv"),
      to_date(lit("2024-01-01")).as("dt"),
      to_timestamp(lit("2024-01-01 12:34:56.789")).as("ts"))
    val t = GraftTable(s, s"$root/d", s"$root/m", "k",
      statsCols = Seq("lv", "dv", "sv", "dt", "ts"))
    t.create(df, 3)
    val (fast, slow) = bothPaths(t, partsOf(t))
    assert(fast == slow, s"\nfast=$fast\nslow=$slow")
    assert(fast.nonEmpty)
  }

  test("footer stats == scan stats: string KEY with >16-codepoint " +
      "truncation, and float/double signed zero") {
    val s = spark
    import s.implicits._
    val root = tmp("strkey")
    val df = Seq(
      ("a_very_long_string_key_that_exceeds_sixteen", -0.0f, 1.0),
      ("another_rather_long_key_beyond_the_prefix", 2.5f, -0.0),
      ("short", 0.0f, 0.0)).toDF("k", "fv", "dv")
    val t = GraftTable(s, s"$root/d", s"$root/m", "k",
      statsCols = Seq("fv", "dv"))
    t.create(df, 1)
    val (fast, slow) = bothPaths(t, partsOf(t))
    assert(fast == slow, s"\nfast=$fast\nslow=$slow")
  }

  test("footer stats: all-NULL stats column records a NULL box and " +
      "full census; NULL key still rejected loudly") {
    val s = spark
    import s.implicits._
    val root = tmp("nulls")
    val df = s.range(0, 50).select(col("id").as("k"),
      lit(null).cast("long").as("lv"))
    val t = GraftTable(s, s"$root/d", s"$root/m", "k",
      statsCols = Seq("lv"))
    t.create(df, 1)
    val (fast, slow) = bothPaths(t, partsOf(t))
    assert(fast == slow)
    // row layout: (file, lo, hi, n_rows, bytes, lo_lv, hi_lv, nulls_lv)
    assert(fast.head(5) == null && fast.head(6) == null) // NULL lv box
    assert(fast.head(7) == 50L) // full census
    assert(fast.head(1) != null && fast.head(2) != null) // key box real
    // NULL key rejection fires on the footer path with the same message
    val bad = s.range(0, 5).select(
      when(col("id") === 2, lit(null).cast("long"))
        .otherwise(col("id")).as("k"),
      col("id").as("lv"))
    val t2 = GraftTable(s, s"$root/d2", s"$root/m2", "k",
      statsCols = Seq("lv"))
    t2.createEmpty(Some(bad.schema))
    val e = intercept[Exception] { t2.commitAppend(bad, 1, 1) }
    assert(e.getMessage.contains("NULL 'k' key"))
  }

  test("footer path falls back: NaN double bound, decimal stats " +
      "column, bloom column, CHECK constraint — all still correct") {
    val s = spark
    import s.implicits._
    val root = tmp("fallback")
    // NaN in a double stats column: footer bound is unusable; the scan
    // path's Iceberg rule (NaN -> NULL box) must still apply
    val dfNan = Seq((1L, 1.0), (2L, Double.NaN), (3L, 2.0))
      .toDF("k", "dv")
    val tn = GraftTable(s, s"$root/dn", s"$root/mn", "k",
      statsCols = Seq("dv"))
    tn.create(dfNan, 1)
    val rows = tn.manifest(1).collect()
    assert(rows.length == 1 && rows.head.getAs[Any]("hi_dv") == null)
    // decimal stats column: fallback, boxes stay the widened doubles
    val dfDec = s.range(0, 10).select(col("id").as("k"),
      col("id").cast("decimal(10,2)").as("dec"))
    val td = GraftTable(s, s"$root/dd", s"$root/md", "k",
      statsCols = Seq("dec"))
    td.create(dfDec, 1)
    val dr = td.manifest(1).collect()
    assert(dr.head.getAs[Double]("lo_dec") < 0.0 + 1e-9)
    // bloom column: ineligible by construction; sketch still recorded
    val tb = GraftTable(s, s"$root/db", s"$root/mb", "k",
      bloomCols = Seq("sv"))
    tb.create(s.range(0, 20).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("sv")), 1)
    assert(tb.manifest(1).columns.contains("bloom_sv"))
    // CHECK constraint: ineligible; violation still rejected atomically
    val tc = GraftTable(s, s"$root/dc", s"$root/mc", "k",
      checks = Seq(("pos", "k >= 0")))
    tc.createEmpty(Some(new org.apache.spark.sql.types.StructType()
      .add("k", "long")))
    val e = intercept[Exception] {
      tc.commitAppend(Seq(-5L).toDF("k"), 1, 1)
    }
    assert(e.getMessage.contains("CHECK constraint 'pos'"))
  }

  test("driver-written manifest round-trips: direct reader AND " +
      "spark.read agree with entry content, empty manifest included") {
    val s = spark
    import s.implicits._
    val root = tmp("manwrite")
    val df = s.range(0, 100).select(col("id").as("k"),
      concat(lit("s"), col("id")).as("sv"))
    val t = GraftTable(s, s"$root/d", s"$root/m", "k",
      bloomCols = Seq("sv")) // binary sketch exercises the BINARY leg
    t.create(df, 2)
    val direct = t.manifest(1).collect()
    val viaSpark = s.read.parquet(t.manifestPath(1)).collect()
    def canon(rs: Array[Row]) = rs.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).sortBy(_.head.toString).toSeq
    assert(canon(direct) == canon(viaSpark))
    assert(direct.length == 2)
    assert(t.manifest(1).schema == s.read.parquet(t.manifestPath(1)).schema)
    // empty manifest (createEmpty) round-trips with its typed schema
    val te = GraftTable(s, s"$root/de", s"$root/me", "k")
    te.createEmpty(Some(df.schema))
    assert(te.manifest(1).collect().isEmpty)
    assert(s.read.parquet(te.manifestPath(1)).collect().isEmpty)
  }

  test("commit/read/DML cycle over footer-stat'd entries: merge, MoR " +
      "delete, prune and cdc behave identically") {
    val s = spark
    import s.implicits._
    val root = tmp("cycle")
    val df = s.range(0, 500).select(col("id").as("k"),
      (col("id") * 2).as("v"))
    val t = GraftTable(s, s"$root/d", s"$root/m", "k")
    t.create(df, 4)
    t.commitMerge(Seq((10L, 999L), (600L, 1L)).toDF("k", "v"), 1, 2)
    assert(t.readAsOf(2).filter(col("k") === 10).head.getLong(1) == 999L)
    assert(t.readAsOf(2).count() == 501)
    val del = t.commitDeleteMor(Seq(org.apache.spark.sql.sources
      .LessThan("k", 5L)), col("k") < 5, 2)
    assert(del == 5L)
    assert(t.readAsOf(3).count() == 496)
    val (kept, total) = t.prune(3, 100L, 110L)
    assert(kept.nonEmpty && kept.size < total)
    assert(t.cdc(1, 2).filter(col("op") === "insert").count() == 1)
  }

  test("footer stats == scan stats: int/short/byte stats columns, " +
      "dir and file args, all-NULL column") {
    val s = spark
    val root = tmp("narrow")
    val df = s.range(0, 1000).select(col("id").as("k"),
      (col("id") % 97).cast("int").as("iv"),
      (col("id") % 31).cast("smallint").as("sv"),
      (col("id") % 11).cast("tinyint").as("bv"),
      when(lit(true), lit(null).cast("long")).as("nv"))
    val t = GraftTable(s, s"$root/d", s"$root/m", "k",
      statsCols = Seq("iv", "sv", "bv", "nv"))
    t.create(df, 4)
    // directory arg (the create() shape)
    val (fastD, slowD) = bothPaths(t, Seq(t.data))
    assert(fastD == slowD && fastD.size == 4, s"\n$fastD\nvs\n$slowD")
    // explicit file list (the staged-append shape)
    val (fastF, slowF) = bothPaths(t, partsOf(t))
    assert(fastF == slowF && fastF == fastD)
    // row layout: (file, lo, hi, n_rows, bytes, 4 x (lo_c, hi_c),
    // 4 x nulls_c) — nv is all NULL: a NULL box and a full census
    assert(fastD.forall(r => r(11) == null && r(12) == null &&
      r.last == r(3)), "all-NULL column must record a NULL box")
  }

  test("footer stats == scan stats: a 0-row file records no entry; " +
      "an all-0-row batch falls back to the scan") {
    val s = spark
    val root = tmp("zero")
    val t = GraftTable(s, s"$root/d", s"$root/m", "k", statsCols = Seq("v"))
    def write(df: org.apache.spark.sql.Dataset[_]): Unit =
      df.select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(1).write.mode("append").parquet(s"$root/z")
    write(s.range(0, 10).filter(lit(false)))
    // 0-row parquet only: the footer path defers, the scan yields none
    val (fast0, slow0) = bothPaths(t, Seq(s"$root/z"))
    assert(fast0.isEmpty && slow0.isEmpty)
    // next to a real file, the 0-row file is skipped on both paths
    write(s.range(0, 10))
    val (fast1, slow1) = bothPaths(t, Seq(s"$root/z"))
    assert(fast1 == slow1 && fast1.size == 1, s"\n$fast1\nvs\n$slow1")
  }
}
