package graft.table

import graft.{Tables, TestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The table format addressed through the Hadoop FileSystem API — the
  * properties the java.io.File spelling could not offer (VERDICT r9
  * lead item):
  *
  *  1. a GraftTable runs END-TO-END through the repo's own `graft://`
  *     caching filesystem — the sidecar-equivalent cache below, the
  *     lakehouse format above, composed (the BASELINE north star);
  *  2. crash-point matrix for the commit protocol: a writer can die
  *     after ANY step (task files written / manifest staged but not
  *     renamed) and readers never see partial state, graced vacuum
  *     spares in-flight look-alikes, quiesced vacuum reclaims exactly
  *     the orphans;
  *  3. the single-writer lost-race fallback VERIFIES equivalence
  *     instead of assuming it;
  *  4. contract violations (NULL table keys, uninitialized tables)
  *     fail loudly with diagnosable errors;
  *  5. declared stats columns flow through the MAINLINE commit path
  *     (streamed ingest → OPTIMIZE → multi-dimension prune).
  */
class TableFsSpec extends TestBase {

  private def freshDirs(tag: String): (String, String) = (
    java.nio.file.Files.createTempDirectory(s"graft_${tag}_data").toString,
    java.nio.file.Files.createTempDirectory(s"graft_${tag}_man").toString)

  private def orders: DataFrame =
    Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")

  // ---- 1. the two halves of the repo compose ------------------------

  test("a GraftTable runs end-to-end through the graft:// caching filesystem") {
    val scratch = java.nio.file.Files.createTempDirectory("graft_tbl_fs").toString
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graft.impl", classOf[graft.fs.GraftCachingFileSystem].getName)
    if (hc.get("graft.fs.disk.cache.dir") == null) {
      hc.set("graft.fs.disk.cache.dir", s"$scratch/pages")
      hc.set("graft.fs.write.cache.dir", s"$scratch/wc")
    }
    val out = s"graft://local$scratch/tbl_data"
    val man = s"graft://local$scratch/tbl_man"
    val table = GraftTable(spark, out, man, "o_orderkey").create(orders, 4)
    val n1 = orders.count()

    val batch = orders.filter(col("o_orderkey").between(1, 500))
      .select((-col("o_orderkey")).as("o_orderkey"), col("o_custkey"),
        col("o_totalprice"))
    table.commitAppend(batch, 1)
    assert(table.committedVersions == Seq(1, 2))
    assert(table.readAsOf(1).count() == n1)
    assert(table.readAsOf(2).count() == n1 + batch.count())

    // manifest skipping plans and reads through the caching scheme too
    val (kept, total) = table.prune(2, 100L, 2000L)
    assert(kept.nonEmpty && kept.size < total,
      s"no pruning through graft:// ($kept of $total)")
    assert(kept.forall(_.startsWith("graft://")),
      s"manifest records non-graft paths: ${kept.take(2)}")
    val prunedN = spark.read.parquet(kept: _*)
      .filter(col("o_orderkey").between(100, 2000)).count()
    val fullN = table.readAsOf(2)
      .filter(col("o_orderkey").between(100, 2000)).count()
    assert(prunedN == fullN && fullN > 0)

    // compaction plans from the manifest's bytes column (no stat calls)
    // and commits through the same atomic rename
    val packed = table.commitCompaction(2, targetBytes = 1L << 30)
    assert(packed > 1, s"compaction packed $packed files")
    val v3 = table.committedVersions.max
    assert(table.readAsOf(v3).count() == n1 + batch.count())

    // vacuum reclaims the packed-away files through the FS API
    val reclaimed = table.vacuum(v3, v3)
    assert(reclaimed.nonEmpty, "vacuum found nothing after compaction")
    assert(table.readAsOf(v3).count() == n1 + batch.count())
  }

  // ---- 2. crash-point matrix ---------------------------------------

  test("crash after the task writes: orphans invisible, graced vacuum spares, quiesced vacuum reclaims exactly them") {
    val (out, man) = freshDirs("crash_moved")
    val table = GraftTable(spark, out, man, "o_orderkey").create(orders, 4)
    val n1 = orders.count()
    val before = table.partFiles

    // the writer dies HERE: files written at their final names in the
    // layout, manifest never committed — the exact window the commit
    // protocol must tolerate
    val orphaned = table.stagedAppend(orders.limit(100), 2)
    assert(orphaned.nonEmpty)
    val orphanNames = orphaned.map(p => new org.apache.hadoop.fs.Path(p).getName)

    // invisible to every reader (reads plan from committed manifests)
    assert(table.committedVersions == Seq(1))
    assert(table.readAsOf(1).count() == n1)
    // an in-flight commit is indistinguishable from this crash — the
    // grace window protects both
    assert(table.vacuum(1, 1, graceMs = 10 * 60 * 1000L).isEmpty,
      "graced vacuum deleted files younger than the grace")
    assert(table.partFiles == before ++ orphanNames)
    // quiesced vacuum reclaims EXACTLY the orphans, nothing committed
    val reclaimed = table.vacuum(1, 1)
    assert(reclaimed.sorted == orphanNames.sorted,
      s"vacuum reclaimed $reclaimed, want $orphanNames")
    assert(table.partFiles == before)
    assert(table.readAsOf(1).count() == n1)
  }

  test("crash before the manifest rename: staged manifest invisible, vacuum reclaims it") {
    val (out, man) = freshDirs("crash_staged")
    val table = GraftTable(spark, out, man, "o_orderkey").create(orders, 4)
    // the writer dies between writing the staging dir and the atomic
    // rename: simulate the residue it leaves
    val fs = new org.apache.hadoop.fs.Path(man)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(man, "_tmp_v2_deadbeef")
    fs.mkdirs(tmp)
    fs.create(new org.apache.hadoop.fs.Path(tmp, "part-crashed.parquet"),
      false).close()

    assert(table.committedVersions == Seq(1),
      "a staging dir leaked into the committed version list")
    assert(!table.isCommitted(2))
    table.vacuum(1, 1)
    assert(!fs.exists(tmp), "vacuum did not reclaim the crashed staging dir")
    assert(table.committedVersions == Seq(1))
  }

  // ---- 3. lost-race equivalence is verified, not assumed ------------

  test("single-writer lost race: byte-equivalent replay tolerated, different content fails loudly") {
    val (out, man) = freshDirs("race")
    val table = GraftTable(spark, out, man, "o_orderkey").create(orders, 4)
    val v1Entries = table.manifest(1)

    // a byte-equivalent REPLAY of v=1 (same entries) loses the rename
    // and is tolerated — the committed snapshot already carries it
    table.commitManifest(v1Entries, 1)

    // a DIFFERENT snapshot losing on the same version is a contract
    // violation (two plain writers raced) — silently accepting it would
    // drop a batch; it must throw, mirroring commitMerge
    val different = v1Entries.limit(1)
    val e = intercept[IllegalArgumentException] {
      table.commitManifest(different, 1)
    }
    assert(e.getMessage.contains("DIFFERENT snapshot"), e.getMessage)

    // same entry count but a missing tag is also a detected violation
    val e2 = intercept[IllegalArgumentException] {
      table.commitManifest(v1Entries, 1, tag = Some("never-committed"))
    }
    assert(e2.getMessage.contains("NOT carrying tag"), e2.getMessage)

    // SAME entry count, DIFFERENT file set: the guard is content-
    // complete (sorted file lists), so a same-size different snapshot
    // cannot slip through as an assumed replay
    val sameCountDifferent = v1Entries
      .withColumn("file", concat(lit("not/"), col("file")))
    val e3 = intercept[IllegalArgumentException] {
      table.commitManifest(sameCountDifferent, 1)
    }
    assert(e3.getMessage.contains("file sets differ"), e3.getMessage)
  }

  // ---- 4. loud contract failures -----------------------------------

  test("NULL table keys are rejected at append time; the rejected batch's files are vacuumable orphans") {
    val (out, man) = freshDirs("nullkey")
    val table = GraftTable(spark, out, man, "o_orderkey").create(orders, 4)
    val poisoned = orders.limit(50).select(
      when(col("o_orderkey") % 5 === 0, lit(null))
        .otherwise(col("o_orderkey")).cast("long").as("o_orderkey"),
      col("o_custkey"), col("o_totalprice"))
    val e = intercept[IllegalArgumentException] {
      table.commitAppend(poisoned, 1)
    }
    assert(e.getMessage.contains("NULL 'o_orderkey'"), e.getMessage)
    // nothing was committed; the staged-then-rejected files are exactly
    // what vacuum exists to reclaim
    assert(table.committedVersions == Seq(1))
    assert(table.vacuum(1, 1).nonEmpty,
      "the rejected batch left no orphans to reclaim?")
    assert(table.readAsOf(1).count() == orders.count())

    // the OCC path enforces the same contract
    val e2 = intercept[IllegalArgumentException] {
      table.commitAppendOcc(poisoned)
    }
    assert(e2.getMessage.contains("NULL 'o_orderkey'"), e2.getMessage)
  }

  test("an uninitialized table fails with a diagnosable error, not empty.max") {
    val (out, man) = freshDirs("uninit")
    val table = GraftTable(spark, out, man, "o_orderkey")
    val e = intercept[IllegalArgumentException] {
      table.commitAppendOcc(orders.limit(10))
    }
    assert(e.getMessage.contains("no committed versions"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] { table.vacuum(1, 1) }
    assert(e2.getMessage.contains("no committed versions"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      table.commitCompaction(1, 1L << 20)
    }
    assert(e3.getMessage.contains("no committed versions"), e3.getMessage)
  }

  // ---- 5. stats columns on the mainline commit path -----------------

  test("streamed ingest records declared stats columns; multi-dimension prune, then OPTIMIZE keeps it exact") {
    val (out, man) = freshDirs("multicol")
    // the STREAMED shape: the ingest sink's policy over commitAppendOcc,
    // with statsCols declared once on the sink
    val sink = new graft.streaming.GraftStreams.ManifestIngestSink(
      spark, out, man, "o_orderkey", appId = "mc-ingest",
      statsCols = Seq("o_custkey"))
    sink.init()
    // four batches = quadrants of the (o_orderkey, o_custkey) grid, so
    // EVERY file's box is tight in both dimensions — what gives each
    // dimension independent pruning power
    val med = orders.agg(
      percentile_approx(col("o_orderkey"), lit(0.5), lit(100)),
      percentile_approx(col("o_custkey"), lit(0.5), lit(100))).head
    val (mOk, mCk) = (med.getLong(0), med.getLong(1))
    var id = 0L
    for (okLow <- Seq(true, false); ckLow <- Seq(true, false)) {
      val q = orders.filter(
        (if (okLow) col("o_orderkey") <= mOk else col("o_orderkey") > mOk) &&
          (if (ckLow) col("o_custkey") <= mCk else col("o_custkey") > mCk))
      sink.apply(q, id); id += 1
    }
    val table = GraftTable(spark, out, man, "o_orderkey",
      statsCols = Seq("o_custkey"))
    val vIngested = table.committedVersions.max
    val total = table.files(vIngested).size
    assert(total >= 4, s"ingest produced only $total files")

    // each dimension prunes ON ITS OWN — the capability the r9 side
    // path (q112 fileStatsMulti) had but the mainline commits lacked
    val (okOnly, _) = table.pruneMulti(vIngested,
      Seq(("o_orderkey", 1L, mOk / 2)))
    val (ckOnly, _) = table.pruneMulti(vIngested,
      Seq(("o_custkey", 1L, mCk / 2)))
    assert(okOnly.nonEmpty && okOnly.size < total,
      s"o_orderkey alone kept ${okOnly.size} of $total")
    assert(ckOnly.nonEmpty && ckOnly.size < total,
      s"o_custkey alone kept ${ckOnly.size} of $total")
    val (both, _) = table.pruneMulti(vIngested,
      Seq(("o_orderkey", 1L, mOk / 2), ("o_custkey", 1L, mCk / 2)))
    assert(both.size <= math.min(okOnly.size, ckOnly.size))

    // no false skip, before and after OPTIMIZE: the pruned read equals
    // the full filter. (OPTIMIZE re-clusters on the PRIMARY key, so the
    // key dimension stays tight; secondary boxes may widen — tightness
    // under compaction is the z-order layout's job, q81/q112 — but
    // exactness must hold regardless.)
    def exact(v: Int): Unit = {
      val pred = col("o_orderkey").between(1, mOk / 2) &&
        col("o_custkey").between(1, mCk / 2)
      val (kept, _) = table.pruneMulti(v,
        Seq(("o_orderkey", 1L, mOk / 2), ("o_custkey", 1L, mCk / 2)))
      val pruned =
        (if (kept.isEmpty) table.readAsOf(v).where(lit(false))
         else spark.read.parquet(kept: _*)).filter(pred)
      val full = table.readAsOf(v).filter(pred)
      assert(pruned.count() == full.count() && full.count() > 0)
      assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    }
    exact(vIngested)
    assert(sink.optimize(1L << 30) > 1, "OPTIMIZE packed nothing")
    val vPacked = table.committedVersions.max
    assert(vPacked > vIngested)
    exact(vPacked)
    assert(table.readAsOf(vPacked).count() == table.readAsOf(vIngested).count())

    // a NULL box in a SECONDARY stats column (all-NULL file) is legal
    // and conservative: the file cannot be skipped on that dimension
    val nullCk = orders.limit(25).select(col("o_orderkey") + 90000000L,
      lit(null).cast("long").as("o_custkey"), col("o_totalprice"))
      .withColumnRenamed("(o_orderkey + 90000000)", "o_orderkey")
    table.commitAppendOcc(nullCk)
    val vNull = table.committedVersions.max
    val (keptAll, totalAll) = table.pruneMulti(vNull,
      Seq(("o_custkey", -100L, -50L))) // below the domain: no real box
    assert(keptAll.size < totalAll, "custkey prune lost all power")
    val nullFiles = table.manifest(vNull)
      .filter(col("lo_o_custkey").isNull).select("file")
      .collect().map(_.getString(0)).toSet
    assert(nullFiles.nonEmpty, "the all-NULL file recorded a non-NULL box?")
    assert(nullFiles.subsetOf(keptAll.toSet),
      "a NULL-box file was skipped — non-conservative pruning")
  }

  test("streamed ingest records bloom sketches; point probes prune, never falsely skip") {
    val (out, man) = freshDirs("bloomstream")
    val sink = new graft.streaming.GraftStreams.ManifestIngestSink(
      spark, out, man, "o_orderkey", appId = "bl-ingest",
      bloomCols = Seq("o_custkey"))
    sink.init()
    sink.apply(orders.filter(col("o_orderkey") % 2 === 0), 0L)
    sink.apply(orders.filter(col("o_orderkey") % 2 === 1), 1L)
    val table = GraftTable(spark, out, man, "o_orderkey",
      bloomCols = Seq("o_custkey"))
    val v = table.committedVersions.max
    val total = table.files(v).size
    assert(total >= 2, s"ingest produced only $total files")
    // no false skip: every row of a present key survives the prune
    val ck = orders.select("o_custkey").head.getLong(0)
    val (kept, _) = table.pruneBloom(v, "o_custkey", Seq(ck))
    assert(kept.nonEmpty)
    val got = spark.read.parquet(kept: _*)
      .filter(col("o_custkey") === ck).count()
    assert(got == orders.filter(col("o_custkey") === ck).count() && got > 0,
      "bloom prune dropped rows of a present key")
    // guaranteed skip: a key absent from the corpus keeps at most the
    // fpp share of files (1% each, independently — 0 w.h.p. here)
    val (none, _) = table.pruneBloom(v, "o_custkey", Seq(-987654321L))
    assert(none.size < total, "absent probe pruned nothing")
    // and the sketches survive OPTIMIZE (the repack re-stats through
    // the same fileStats path)
    if (sink.optimize(1L << 30) > 1) {
      val v2 = table.committedVersions.max
      val (kept2, _) = table.pruneBloom(v2, "o_custkey", Seq(ck))
      val got2 = spark.read.parquet(kept2: _*)
        .filter(col("o_custkey") === ck).count()
      assert(got2 == got, "bloom prune after OPTIMIZE dropped rows")
    }
  }
}
