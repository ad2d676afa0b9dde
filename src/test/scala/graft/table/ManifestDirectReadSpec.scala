package graft.table

import graft.TestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The direct manifest reader ([[GraftTable.readManifestRows]]) must be
  * byte-for-byte interchangeable with `spark.read.parquet(...).collect()`
  * on every manifest shape the commit paths write — AND it must never
  * schedule a Spark job: manifest planning is driver-resident by
  * declared design (docs/TABLE.md), and before this reader existed each
  * "driver-side" prune actually queued a cluster job to fetch KBs. */
class ManifestDirectReadSpec extends TestBase {

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_direct_$tag").toString

  /** (rows, schema) via spark.read for parity comparison. */
  private def viaSpark(path: String): (Seq[Row], StructType) = {
    val df = spark.read.parquet(path)
    (df.collect().toSeq, df.schema)
  }

  private def sortKey(r: Row): String =
    Option(r.getAs[Any]("file")).map(_.toString).getOrElse(r.toString)

  /** Field-by-field equality that treats Array[Byte] by content. */
  private def assertSameRows(direct: Seq[Row], viaDf: Seq[Row]): Unit = {
    assert(direct.size == viaDf.size,
      s"row count: direct=${direct.size} spark=${viaDf.size}")
    direct.sortBy(sortKey).zip(viaDf.sortBy(sortKey)).foreach {
      case (a, b) =>
        assert(a.length == b.length, s"arity: $a vs $b")
        (0 until a.length).foreach { i =>
          (a.get(i), b.get(i)) match {
            case (x: Array[Byte], y: Array[Byte]) =>
              assert(java.util.Arrays.equals(x, y),
                s"binary field $i differs")
            case (x, y) => assert(x == y, s"field $i: $x vs $y")
          }
        }
    }
  }

  test("parity on a mainline single-key manifest (file/lo/hi/n_rows/bytes)") {
    import spark.implicits._
    val root = scratch("plain")
    val t = GraftTable(spark, s"$root/data", s"$root/man", "id")
    t.create((0L until 400L).map(i => (i, i * 3)).toDF("id", "v"), 4)
    val man = t.manifestPath(1)

    val (direct, schema) = GraftTable.readManifestRows(spark, man)
    val (viaDf, sparkSchema) = viaSpark(man)
    assert(schema.map(f => (f.name, f.dataType)) ==
      sparkSchema.map(f => (f.name, f.dataType)),
      s"schema: $schema vs $sparkSchema")
    assertSameRows(direct, viaDf)
    assert(direct.size == 4)
    // getAs-by-name works exactly as on collected Spark rows
    assert(direct.map(_.getAs[Number]("n_rows").longValue).sum == 400L)
  }

  test("parity on multi-stats + bloom manifest, incl. a NULL box") {
    import spark.implicits._
    val root = scratch("statsbloom")
    // v2 all-NULL in one file's id range -> that file records a NULL box
    val df = (0L until 300L).map { i =>
      (i, if (i < 100) None else Some(i * 7L), s"s${i % 5}")
    }.toDF("id", "v2", "tag")
    val t = GraftTable(spark, s"$root/data", s"$root/man", "id",
      statsCols = Seq("v2"), bloomCols = Seq("id"),
      bloomItems = 1024, bloomFpp = 0.01)
    t.create(df, 3)
    val man = t.manifestPath(1)

    val (direct, schema) = GraftTable.readManifestRows(spark, man)
    val (viaDf, sparkSchema) = viaSpark(man)
    assert(schema.map(f => (f.name, f.dataType)) ==
      sparkSchema.map(f => (f.name, f.dataType)))
    assert(schema.fieldNames.contains("bloom_id") &&
      schema.fieldNames.contains("lo_v2"))
    assertSameRows(direct, viaDf)
    assert(direct.exists(r => r.getAs[Any]("lo_v2") == null),
      "expected at least one NULL v2 box")
    // the binary sketches stay probe-able after the direct read
    val anyBloom = direct.map(_.getAs[Array[Byte]]("bloom_id"))
      .find(_ != null).get
    assert(anyBloom.length > 0)
  }

  test("parity on a multi-part manifest dir (several writer partitions)") {
    val root = scratch("multipart")
    val man = s"$root/man_flat"
    import spark.implicits._
    val entries = (0 until 57).map(i =>
      (s"file_$i", i.toLong, i + 10L, 100L, 1000L + i))
      .toDF("file", "lo", "hi", "n_rows", "bytes")
    entries.repartition(5).write.parquet(man) // 5 part files
    val (direct, _) = GraftTable.readManifestRows(spark, man)
    val (viaDf, _) = viaSpark(man)
    assertSameRows(direct, viaDf)
    assert(direct.size == 57)
  }

  test("parity across multiple row groups in one part file") {
    val root = scratch("rowgroups")
    val man = s"$root/man_big"
    import spark.implicits._
    // ~1.2 MB of rows in one writer partition with a 64 KiB row-group
    // target -> the single part file holds many row groups, so the
    // readNextRowGroup loop is actually exercised past its first pass
    val entries = (0 until 20000).map(i =>
      (s"file_$i", i.toLong, i + 10L,
        if (i % 7 == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(i * 3L), 1000L + i))
      .toDF("file", "lo", "hi", "n_rows", "bytes")
    entries.coalesce(1).write
      .option("parquet.block.size", 64 * 1024)
      .parquet(man)
    val (direct, _) = GraftTable.readManifestRows(spark, man)
    val (viaDf, _) = viaSpark(man)
    assertSameRows(direct, viaDf)
    assert(direct.size == 20000)
    assert(direct.count(_.getAs[Any]("n_rows") == null) == 20000 / 7 + 1)
  }

  test("reading a manifest schedules ZERO Spark jobs") {
    import spark.implicits._
    val root = scratch("zerojob")
    val t = GraftTable(spark, s"$root/data", s"$root/man", "id",
      statsCols = Seq("v2"))
    t.create((0L until 200L).map(i => (i, i * 2)).toDF("id", "v2"), 4)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(500) // drain any in-flight listener events
      jobs.set(0)
      // the full planning surface: raw rows, the DataFrame view, the
      // file list, and the prune/stats-only planners — all driver-only
      GraftTable.readManifestRows(spark, t.manifestPath(1))
      t.manifest(1).collect()           // local relation -> no job
      assert(t.files(1).size == 4)
      t.prune(1, 0L, 50L)
      t.statsOnlySplit(1, 0L, 199L)
      Thread.sleep(500) // let any job-start events surface before asserting
      assert(jobs.get() == 0,
        s"manifest planning scheduled ${jobs.get()} Spark job(s) — " +
          "the driver-resident contract is broken")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a missing or empty manifest dir fails loudly") {
    val root = scratch("missing")
    intercept[java.io.FileNotFoundException] {
      GraftTable.readManifestRows(spark, s"$root/nope")
    }
    val empty = new java.io.File(s"$root/empty_dir")
    assert(empty.mkdirs())
    val e = intercept[IllegalArgumentException] {
      GraftTable.readManifestRows(spark, empty.toString)
    }
    assert(e.getMessage.contains("no parquet files"))
  }

  test("parts with drifted column order are rejected, never decoded shifted") {
    import spark.implicits._
    val root = scratch("drift")
    val man = s"$root/man_drift"
    (0 until 5).map(i => (s"f$i", i.toLong)).toDF("file", "lo")
      .coalesce(1).write.parquet(man)
    // a second appended part with the columns SWAPPED: index-based
    // decoding would silently write lo values into `file`
    (0 until 5).map(i => (i.toLong, s"g$i")).toDF("lo", "file")
      .coalesce(1).write.mode("append").parquet(man)
    val e = intercept[IllegalArgumentException] {
      GraftTable.readManifestRows(spark, man)
    }
    assert(e.getMessage.contains("mixes writer schemas"), e.getMessage)
  }

  test("a nested-schema parquet is rejected as not-a-manifest") {
    import spark.implicits._
    val root = scratch("nested")
    val p = s"$root/nested"
    Seq((1L, Seq(1, 2, 3))).toDF("id", "xs").write.parquet(p)
    val e = intercept[IllegalArgumentException] {
      GraftTable.readManifestRows(spark, p)
    }
    assert(e.getMessage.contains("not a flat primitive") ||
      e.getMessage.contains("not a graft manifest"))
  }
}
