package graft

import graft.streaming.GraftStreams
import org.apache.spark.sql.functions._

/** Real Structured Streaming execution (file source -> memory sink),
  * checked against the batch run of the same transformation. */
class StreamingSpec extends TestBase {

  /** Stage the single-file fixture into a directory (file sources only
    * accept directories; the read-only fixture stays untouched). */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streamed windowed counts equal the batch result") {
    val stream = GraftStreams.eventsStream(spark, eventsDir)
    val q = GraftStreams.windowedCounts(stream)
      .writeStream
      .format("memory")
      .queryName("win_counts")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("win_counts")
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = GraftStreams.windowedCounts(
      Tables.load(spark, sfDir, "events"))
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("streamed windowed heavy hitters equal the batch result") {
    // the sketch agg runs in its exact regime here, so stream must equal
    // batch row-for-row; at stream scale the same query holds constant
    // per-window state. Guard the regime assumption explicitly: past
    // ~0.75*maxMapSize distinct users per window the eviction regime
    // makes estimates merge-order-dependent and row-equality would be
    // an (unexplained) flake, so fail loudly here instead.
    import org.apache.spark.sql.functions.{col, countDistinct, date_trunc}
    val maxUsersPerWindow = Tables.load(spark, sfDir, "events")
      .groupBy(date_trunc("hour", col("ts")))
      .agg(countDistinct(col("user_id")).as("u"))
      .agg(org.apache.spark.sql.functions.max("u")).collect()(0).getLong(0)
    assert(maxUsersPerWindow < 768,
      s"fixture outgrew the sketch's exact regime ($maxUsersPerWindow users/window); raise maxMapSize")
    val stream = GraftStreams.eventsStream(spark, eventsDir)
    val q = GraftStreams.windowedTopUsers(stream)
      .writeStream
      .format("memory")
      .queryName("top_users")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("top_users")
      .orderBy("win_start", "rank")
      .collect().map(_.toSeq).toSeq
    val batch = GraftStreams.windowedTopUsers(
      Tables.load(spark, sfDir, "events"))
      .orderBy("win_start", "rank")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamed windowed KLL quantiles equal the batch result") {
    // under-capacity KLL retains every item, so quantiles are exact and
    // merge-order- (= micro-batch-boundary-) invariant; past capacity
    // the randomized compaction would make row equality a flake, so
    // guard the regime like the heavy-hitters test does.
    import org.apache.spark.sql.functions.{col, count, date_trunc}
    val maxPerGroup = Tables.load(spark, sfDir, "events")
      .groupBy(date_trunc("hour", col("ts")), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .agg(org.apache.spark.sql.functions.max("c")).collect()(0).getLong(0)
    assert(maxPerGroup < 200,
      s"fixture outgrew the sketch's exact regime ($maxPerGroup rows/group); raise k")
    val stream = GraftStreams.eventsStream(spark, eventsDir)
    val q = GraftStreams.windowedQuantiles(stream)
      .writeStream
      .format("memory")
      .queryName("win_quantiles")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("win_quantiles")
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = GraftStreams.windowedQuantiles(
      Tables.load(spark, sfDir, "events"))
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stream-static enrichment equals the batch join") {
    val stream = GraftStreams.eventsStream(spark, eventsDir)
    val customers = Tables.load(spark, sfDir, "customer")
    val q = GraftStreams.enrichedEvents(stream, customers)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enriched")
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val batch = GraftStreams.enrichedEvents(
      Tables.load(spark, sfDir, "events"), customers)
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // enrichment actually matched something (not all-unknown)
    assert(streamed.exists(r => r(5) != "unknown"))
  }

  test("streaming dedup drops duplicates within the watermark") {
    // stage the same file twice: every event is a duplicate once
    val d = java.nio.file.Files.createTempDirectory("graft_stream_dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      d.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      d.resolve("b.parquet"))
    val q = GraftStreams.dedupedEvents(
      GraftStreams.eventsStream(spark, d.toString, maxFilesPerTrigger = 2))
      .writeStream.format("memory").queryName("dedup_events")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_events").count()
    val batchDistinct = Tables.load(spark, sfDir, "events").count()
    assert(streamed == batchDistinct,
      s"streamed $streamed vs distinct $batchDistinct")
  }

  test("stream-stream interval join equals the batch interval join") {
    val signups = GraftStreams.eventsStream(spark, eventsDir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "signup")
    val purchases = GraftStreams.eventsStream(spark, eventsDir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
    val q = GraftStreams.purchasesAfterSignup(signups, purchases)
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("ss_join")
      .orderBy("user_id", "signup_id", "purchase_id")
      .collect().map(_.toSeq).toSeq
    val ev = Tables.load(spark, sfDir, "events")
    val batch = GraftStreams.purchasesAfterSignup(
      ev.filter(org.apache.spark.sql.functions.col("event_type") === "signup"),
      ev.filter(org.apache.spark.sql.functions.col("event_type") === "purchase"))
      .orderBy("user_id", "signup_id", "purchase_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("transformWithState running totals accumulate across micro-batches") {
    // two copies of the fixture, one per micro-batch: the second batch
    // must resume from RocksDB state, so every final total is exactly 2x
    // the single-file batch aggregate
    val d = java.nio.file.Files.createTempDirectory("graft_stream_tws")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), d.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), d.resolve("b.parquet"))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = GraftStreams.runningTotals(spark,
        GraftStreams.eventsStream(spark, d.toString, maxFilesPerTrigger = 1))
        .writeStream.format("memory").queryName("totals")
        .outputMode("update")
        .start()
      try q.processAllAvailable() finally q.stop()

      // last emission per user = the running total after both batches
      val finalTotals = spark.table("totals")
        .groupBy("user_id")
        .agg(max("n_events").as("n"), max("total_value").as("v"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      val batch = Tables.load(spark, sfDir, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("value").as("v"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(finalTotals.keySet == batch.keySet)
      finalTotals.foreach { case (u, (n, v)) =>
        assert(n == 2 * batch(u)._1, s"user $u count $n != 2x batch")
        assert(math.abs(v - 2 * batch(u)._2) < 1e-6, s"user $u sum $v")
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming temporal as-of join equals the batch as-of join (q53)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Append mode only emits lefts the watermark has FINALIZED, so both
    // sides get a far-future sentinel row staged as a later file: the
    // sentinel batches push both watermarks past all real data and the
    // triggered no-data batch flushes every buffered left event.
    val evDir = java.nio.file.Files.createTempDirectory("graft_stream_taj_ev")
    // stage via a Spark write (not a raw copy) so the directory stays
    // single-encoding when the sentinel below is appended to it
    Tables.load(spark, sfDir, "events")
      .coalesce(1).write.mode("append").parquet(evDir.toString)
    val ordDir = java.nio.file.Files.createTempDirectory("graft_stream_taj_ord")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/orders.parquet"),
      ordDir.resolve("orders.parquet"))
    val maxUs = Tables.load(spark, sfDir, "events")
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val farUs = maxUs + 2L * 3600 * 1000000
    // sentinel staged in the LOGICAL events schema: eventsStream sniffs
    // the footer unit per directory, so Spark-written timestamp files
    // read back identically whatever unit the fixture itself uses
    spark.createDataFrame(
      java.util.List.of(Row(-1L, new java.sql.Timestamp(farUs / 1000L),
        -1L, "sentinel", 0.0, "")),
      Tables.schemas("events"))
      .coalesce(1).write.mode("append").parquet(evDir.toString)
    spark.createDataFrame(
      java.util.List.of(Row(-1L, -1L, "F", 0.0,
        new java.sql.Timestamp(farUs / 1000L), "0-none")),
      Tables.schemas("orders"))
      .coalesce(1).write.mode("append").parquet(ordDir.toString)

    val leftStream = GraftStreams.eventsStream(spark, evDir.toString,
      maxFilesPerTrigger = 1)
      .select("user_id", "event_id", "ts")
    val rightStream = spark.readStream
      .schema(Tables.schemas("orders"))
      .option("maxFilesPerTrigger", 1)
      .parquet(ordDir.toString)
      .select(col("o_custkey").as("user_id"), col("o_orderdate").as("rt"))
    val q = GraftStreams.temporalAsOfJoin(spark, leftStream, rightStream)
      .writeStream.format("memory").queryName("temporal_asof")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("temporal_asof")
      .filter(col("event_id") >= 0) // drop the sentinel's own left row
      .select(col("event_id"), col("user_id"), col("last_right_ts"))
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q53_asof_join")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}")
  }

  test("stateful streaming sessionization emits sessions") {
    val stream = GraftStreams.eventsStream(spark, eventsDir)
    val q = GraftStreams.sessionize(spark, stream)
      .writeStream
      .format("memory")
      .queryName("sessions")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    // Append mode only emits closed sessions; with a single input file
    // the watermark never advances past the last event, so in-flight
    // sessions stay in state. Batch-equivalence of the gap logic is
    // oracle-checked via q52; here we assert the stateful plan runs.
    assert(spark.table("sessions").columns.toSeq ==
      Seq("user_id", "session_start", "n_events", "sum_value"))
  }

  test("timer sessionization (transformWithState) matches v1 and the batch gap logic") {
    // three time-ordered files arriving one per trigger: the watermark
    // advances between batches, so closure TIMERS actually fire and
    // Append-mode sessions are emitted (a single file would leave every
    // session in state, as the v1 test notes)
    val d = java.nio.file.Files.createTempDirectory("graft_tws_sess")
    // slices are Spark-written in the LOGICAL events schema; eventsStream
    // sniffs the footer unit per directory so this stays correct whatever
    // physical unit the driver's fixture uses
    val ev = Tables.load(spark, sfDir, "events")
    def cut(d: String) = lit(java.sql.Timestamp.from(
      java.time.Instant.parse(s"${d}T00:00:00Z")))
    val (c1, c2) = (cut("2024-01-11"), cut("2024-01-21"))
    Seq(("a", col("ts") < c1),
        ("b", col("ts") >= c1 && col("ts") < c2),
        ("c", col("ts") >= c2)).foreach { case (name, pred) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_slice_$name")
      ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = d.resolve(s"$name.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      // strictly increasing mtimes fix the arrival order
      dst.toFile.setLastModified(System.currentTimeMillis()
        + (name.head - 'a') * 2000L)
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(tag: String,
          f: (org.apache.spark.sql.SparkSession, org.apache.spark.sql.DataFrame)
            => org.apache.spark.sql.DataFrame): Set[(Long, java.sql.Timestamp, Long, Double)] = {
        val q = f(spark,
          GraftStreams.eventsStream(spark, d.toString, maxFilesPerTrigger = 1))
          .writeStream.format("memory").queryName(tag)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        spark.table(tag).collect().map(r => (r.getLong(0), r.getTimestamp(1),
          r.getLong(2), r.getDouble(3))).toSet
      }
      val v1 = run("v1_sessions", GraftStreams.sessionize)
      val v2 = run("tws_sessions", GraftStreams.sessionizeV2)
      assert(v2.nonEmpty, "no timers fired — watermark never advanced")
      assert(v2 == v1,
        s"v2-only: ${(v2 -- v1).take(3)}; v1-only: ${(v1 -- v2).take(3)}")
      // every closed session agrees with the oracle-checked batch gap
      // logic (q52): same (user, start, count), sum within fp noise
      // SessionState keeps millis (ts.getTime); truncate the batch's
      // micro-precision starts to the same grain for the key compare
      val batch = SparkEntry.queries("q52_sessionize")(spark, sfDir)
        .collect().map { r =>
          val start = r.getAs[java.sql.Timestamp]("session_start")
          (r.getLong(0), new java.sql.Timestamp(start.getTime),
            r.getAs[Long]("n_events")) -> r.getAs[Double]("sum_value")
        }.toMap
      v2.foreach { case (u, start, n, sum) =>
        val key = (u, start, n)
        assert(batch.contains(key), s"streamed session $key not in batch")
        assert(math.abs(batch(key) - sum) < 0.005, s"sum mismatch for $key")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming manifest ingest: a snapshot per batch, replay-proof, orphans vacuumable") {
    import graft.operators.CurationQueries
    // three time-ordered slice files -> three micro-batches
    val d = java.nio.file.Files.createTempDirectory("graft_ingest_src")
    val ev = Tables.load(spark, sfDir, "events")
    def cut(day: String) = lit(java.sql.Timestamp.from(
      java.time.Instant.parse(s"${day}T00:00:00Z")))
    val (c1, c2) = (cut("2024-01-11"), cut("2024-01-21"))
    val slices = Seq(("a", col("ts") < c1),
      ("b", col("ts") >= c1 && col("ts") < c2),
      ("c", col("ts") >= c2))
    slices.foreach { case (name, pred) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_ing_$name")
      ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = d.resolve(s"$name.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(System.currentTimeMillis()
        + (name.head - 'a') * 2000L)
    }
    val out = java.nio.file.Files.createTempDirectory("graft_ingest_out").toString
    val man = java.nio.file.Files.createTempDirectory("graft_ingest_man").toString
    val sink = new GraftStreams.ManifestIngestSink(spark, out, man, "event_id",
      appId = "ingest-e2e")
    sink.init()
    val q = GraftStreams.manifestIngest(
      GraftStreams.eventsStream(spark, d.toString, maxFilesPerTrigger = 1), sink)
    try q.processAllAvailable() finally q.stop()

    // one committed snapshot per micro-batch, on top of the empty v1
    assert(sink.committedVersions == Seq(1, 2, 3, 4),
      s"versions ${sink.committedVersions}")
    // each snapshot is the batch prefix: slice a, a+b, a+b+c
    val sliceCounts = slices.map { case (_, pred) => ev.filter(pred).count() }
    val prefixCounts = sliceCounts.scanLeft(0L)(_ + _).drop(1)
    (2 to 4).zip(prefixCounts).foreach { case (v, want) =>
      val got = CurationQueries.readAsOf(spark, (out, man), v).count()
      assert(got == want, s"snapshot v=$v has $got rows, want $want")
    }
    // the latest snapshot's content equals the whole fixture
    val total = CurationQueries.readAsOf(spark, (out, man), 4)
      .agg(sum("value")).head.getDouble(0)
    val want = Tables.load(spark, sfDir, "events")
      .agg(sum("value")).head.getDouble(0)
    assert(math.abs(total - want) < 1e-6, "latest snapshot content off")

    // replay of a committed batch — even with different data — is a no-op
    def partFiles: Set[String] =
      graft.table.GraftTable(spark, out, man, "event_id").partFiles
    val filesBefore = partFiles
    sink.apply(ev.limit(7).select("event_id", "user_id", "value"), 0L)
    assert(partFiles == filesBefore,
      "replay of a committed batch wrote data")

    // crash window: data written, manifest never committed -> the files
    // are orphans no snapshot references; reads are unaffected; vacuum
    // reclaims exactly them
    ev.limit(5).select("event_id", "user_id", "value")
      .coalesce(1).write.mode("append").parquet(out)
    val orphans = partFiles -- filesBefore
    assert(orphans.nonEmpty, "crash simulation wrote nothing")
    assert(CurationQueries.readAsOf(spark, (out, man), 4).count() ==
      prefixCounts.last, "orphans leaked into a committed snapshot")
    val deleted = CurationQueries.vacuum(spark, (out, man), 1, 4)
    assert(deleted.toSet == orphans, s"vacuum deleted $deleted, want $orphans")
    assert(CurationQueries.readAsOf(spark, (out, man), 4).count() ==
      prefixCounts.last, "vacuum broke the committed snapshot")

    // crash BETWEEN data-write and manifest-commit, then replay: only an
    // atomically-renamed v=N dir counts as committed, so the replay must
    // RE-COMMIT the batch (write data + manifest), not skip it; the first
    // attempt's files stay orphans and vacuum reclaims exactly them
    val replay = ev.limit(5).select("event_id", "user_id", "value")
    val preCrash = partFiles
    replay.coalesce(1).write.mode("append").parquet(out) // attempt 1 data
    val attempt1 = partFiles -- preCrash
    assert(attempt1.nonEmpty && !sink.committedVersions.contains(5),
      "crash simulation precondition failed")
    sink.apply(replay, 3L) // batchId 3 -> v=5: the replay after the crash
    assert(sink.committedVersions.contains(5), "replay did not re-commit")
    assert(CurationQueries.readAsOf(spark, (out, man), 5).count() ==
      prefixCounts.last + 5, "re-committed snapshot content off")
    val deleted2 = CurationQueries.vacuum(spark, (out, man), 1, 5)
    assert(deleted2.toSet == attempt1,
      s"vacuum deleted $deleted2, want $attempt1")
    assert(CurationQueries.readAsOf(spark, (out, man), 5).count() ==
      prefixCounts.last + 5, "vacuum broke the re-committed snapshot")

    // OPTIMIZE: bin-pack the per-batch small files into one target-size
    // file as a NEW snapshot; content identical, old versions still
    // time-travel, vacuum then reclaims exactly the packed-away files
    val filesPre = partFiles
    val v5Sum = CurationQueries.readAsOf(spark, (out, man), 5)
      .agg(sum("value")).head.getDouble(0)
    val packed = sink.optimize(targetBytes = 64L * 1024 * 1024)
    assert(packed == filesPre.size,
      s"expected all ${filesPre.size} small files packed, got $packed")
    assert(sink.committedVersions.contains(6), "compaction did not commit v=6")
    val v6 = CurationQueries.readAsOf(spark, (out, man), 6)
    assert(v6.count() == prefixCounts.last + 5 &&
      math.abs(v6.agg(sum("value")).head.getDouble(0) - v5Sum) < 1e-6,
      "compaction changed the snapshot's content")
    val v6Files = v6.select(col("_metadata.file_path")).distinct().count()
    assert(v6Files < filesPre.size,
      s"compaction did not reduce files ($v6Files vs ${filesPre.size})")
    // pre-compaction versions still read the OLD files (time travel)
    assert(CurationQueries.readAsOf(spark, (out, man), 4).count() ==
      prefixCounts.last, "old snapshot broken by compaction")
    // vacuum retaining only v=6 reclaims exactly the packed-away files
    val reclaimed = CurationQueries.vacuum(spark, (out, man), 6, 6)
    assert(reclaimed.toSet == filesPre,
      s"vacuum reclaimed $reclaimed, want $filesPre")
    assert(CurationQueries.readAsOf(spark, (out, man), 6).count() ==
      prefixCounts.last + 5, "vacuum broke the compacted snapshot")

    // a batch arriving AFTER the maintenance commit must still land:
    // replay detection is tag-keyed, so the optimize snapshot occupying
    // the next version number cannot make batch 4 look committed
    val postOpt = ev.limit(3).select("event_id", "user_id", "value")
    sink.apply(postOpt, 4L)
    assert(sink.committedVersions.contains(7),
      s"post-optimize batch not committed: ${sink.committedVersions}")
    assert(CurationQueries.readAsOf(spark, (out, man), 7).count() ==
      prefixCounts.last + 5 + 3, "post-optimize batch rows missing")
    // and replaying THAT batch is still a no-op
    val before7 = partFiles
    sink.apply(postOpt, 4L)
    assert(partFiles == before7,
      "replay of a tag-committed batch wrote data")

    // replaying a batch whose VERSION was vacuumed away (v=2..5 expired
    // above) must ALSO be a no-op: the _tags ledger outlives the
    // version, or a restored checkpoint would re-append duplicate rows
    val versionsNow = sink.committedVersions
    sink.apply(ev.filter(col("event_id") % 97 === 0)
      .select("event_id", "user_id", "value"), 1L) // batch 1: vacuumed tag
    assert(sink.committedVersions == versionsNow &&
      partFiles == before7,
      "replay of a vacuumed batch re-appended data")
  }

  test("committed-rows stream: commits become micro-batches, orphans never appear") {
    import org.apache.spark.sql.types._
    val out = java.nio.file.Files.createTempDirectory("graft_cdf_data").toString
    val man = java.nio.file.Files.createTempDirectory("graft_cdf_man").toString
    val sink = new GraftStreams.ManifestIngestSink(spark, out, man, "event_id",
      appId = "cdf-src")
    sink.init()
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "value")
    // two committed batches, plus CRASH ORPHANS (data written, never
    // committed) that the stream must not deliver
    sink.apply(ev.filter(col("event_id") % 3 === 0), 0L) // v=2
    sink.apply(ev.filter(col("event_id") % 3 === 1), 1L) // v=3
    ev.filter(col("event_id") % 3 === 2).limit(10)
      .coalesce(1).write.mode("append").parquet(out)

    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val seen = scala.collection.mutable.Set[Long]()
    val q = GraftStreams.committedRowsStream(spark, man, schema) { (rows, _) =>
      val ids = rows.select("event_id").collect().map(_.getLong(0))
      seen.synchronized { ids.foreach(seen += _) }
    }
    try {
      q.processAllAvailable()
      val committed = (0 to 1).flatMap(m => ev.filter(col("event_id") % 3 === m)
        .select("event_id").collect().map(_.getLong(0))).toSet
      assert(seen.synchronized(seen.toSet) == committed,
        s"initial replay delivered ${seen.size} of ${committed.size} committed rows")
      // a NEW commit streams incrementally — and exactly once, despite
      // its (cumulative) manifest re-listing every older file
      sink.apply(ev.filter(col("event_id") % 3 === 2), 2L) // v=4
      q.processAllAvailable()
      val all = ev.select("event_id").collect().map(_.getLong(0)).toSet
      assert(seen.synchronized(seen.toSet) == all,
        "new commit not delivered exactly once")
    } finally q.stop()
  }

  test("foreachBatch upsert sink: exactly-once state, replay-proof") {
    import org.apache.spark.sql.expressions.Window
    val root = java.nio.file.Files
      .createTempDirectory("graft_upsert").toString
    val sink = new GraftStreams.IdempotentUpsertSink(spark, root)
    val stream = GraftStreams.eventsStream(spark, eventsDir)
    val q = GraftStreams.upsertLatestPerUser(stream, sink)
    try q.processAllAvailable() finally q.stop()

    def state(): Seq[Seq[Any]] = sink.latest.get
      .orderBy("user_id").collect().map(_.toSeq).toSeq

    // 1. final state == batch latest-event-per-user
    val byKey = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val want = Tables.load(spark, sfDir, "events")
      .select("user_id", "event_id", "ts", "value")
      .withColumn("rn", row_number().over(byKey))
      .filter(col("rn") === 1).drop("rn")
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    val got = state()
    assert(got.nonEmpty && got == want)

    // 2. replaying an already-committed batchId — even with different
    // data — must be a no-op (the commit-riding tag, not the data,
    // decides; the sink is now a policy over GraftTable.commitMerge)
    val stateTable = graft.table.GraftTable(
      spark, s"$root/data", s"$root/man", "user_id")
    val committedId = (0L to 1000L).filter(b =>
      stateTable.tagCommitted(s"upsert-batch$b")).max
    val garbage = Tables.load(spark, sfDir, "events")
      .select("user_id", "event_id", "ts", "value").limit(5)
      .withColumn("value", lit(-1.0))
    sink.apply(garbage, committedId)
    assert(state() == want, "replay of a committed batch mutated state")

    // 3. crash-window replay: a crashed attempt moved data files into
    // the layout but died BEFORE the manifest commit (the only crash
    // window the atomic tag+state publish leaves). Its orphans are
    // invisible to readers, and re-applying a NEW batch converges:
    // the upsert is last-writer-wins under a total order, so replaying
    // the same rows cannot change the state
    val vBefore = stateTable.committedVersions.max
    val lastBatch = Tables.load(spark, sfDir, "events")
      .select("user_id", "event_id", "ts", "value").limit(50)
    // simulate the crashed attempt: bytes in the data dir that no
    // manifest references
    lastBatch.limit(7).write.mode("overwrite")
      .parquet(s"$root/data/_stage_crashed")
    val crashedFs = new org.apache.hadoop.fs.Path(s"$root/data")
      .getFileSystem(spark.sessionState.newHadoopConf())
    crashedFs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/data/_stage_crashed"))
      .filter(_.getPath.getName.startsWith("part-")).foreach { st =>
        assert(crashedFs.rename(st.getPath, new org.apache.hadoop.fs.Path(
          s"$root/data", "part-crashed-" + st.getPath.getName.drop(5))))
      }
    assert(state() == want, "unreferenced orphans leaked into the state")
    sink.apply(lastBatch, committedId + 1)
    assert(state() == want, "replay of already-applied rows did not converge")
    assert(stateTable.committedVersions.max == vBefore + 1)
  }

  test("MoR upsert sink: O(churn) per-batch writes on a big state; same result as COW") {
    import spark.implicits._
    // a LARGE keyed state (50k users) + SMALL scattered update batches
    // (1-in-100 users, spanning the whole key domain) — the workload
    // MoR exists for: the COW path's envelope covers every file, so
    // each small batch rewrites the whole state; the MoR path masks a
    // few rows per file and appends only the batch
    val nUsers = 50000
    val initial = (0 until nUsers).map(u =>
      (u.toLong, u.toLong, new java.sql.Timestamp(1700000000000L + u),
        1.0)).toDF("user_id", "event_id", "ts", "value")
    def smallBatch(b: Int): org.apache.spark.sql.DataFrame =
      (0 until nUsers).filter(_ % 100 == b).map(u =>
        (u.toLong, (nUsers + b * 1000 + u).toLong,
          new java.sql.Timestamp(1700000000000L + 1000000L * b + u),
          b.toDouble)).toDF("user_id", "event_id", "ts", "value")
    def drive(root: String, appId: String, mor: Boolean)
        : GraftStreams.IdempotentUpsertSink = {
      val sink = new GraftStreams.IdempotentUpsertSink(
        spark, root, appId, mor)
      sink.apply(initial, 0L)
      (1 to 3).foreach(b => sink.apply(smallBatch(b), b.toLong))
      sink
    }
    val rCow = java.nio.file.Files.createTempDirectory("graft_up_cow").toString
    val rMor = java.nio.file.Files.createTempDirectory("graft_up_mor").toString
    val cowSink = drive(rCow, "cowup", mor = false)
    val morSink = drive(rMor, "morup", mor = true)

    // 1. identical final state on both paths
    def state(s: GraftStreams.IdempotentUpsertSink): Seq[Seq[Any]] =
      s.latest.get.orderBy("user_id").collect().map(_.toSeq).toSeq
    val want = state(cowSink)
    assert(want.size == nUsers)
    assert(state(morSink) == want, "MoR state differs from the COW state")

    // 2. the bytes each SMALL batch wrote: every file added after v2
    // (initial state is v2: createEmpty v1 + batch0 commit) plus the
    // DV files. COW rewrote the ~50k-row state per batch; MoR wrote
    // only the ~500-row batches + vectors — require a 5x gap, the
    // asymptotic claim with generous slack
    def smallBatchBytes(root: String): Long = {
      val t = graft.table.GraftTable(
        spark, s"$root/data", s"$root/man", "user_id")
      val vs = t.committedVersions
      val baseline = t.manifest(vs.min + 1).select("file").collect()
        .map(_.getString(0)).toSet // batch0's state files
      val added = vs.filter(_ > vs.min + 1).flatMap { v =>
        t.manifest(v).select("file", "bytes").collect()
          .map(r => r.getString(0) -> r.getLong(1))
      }.toMap.view.filterKeys(!baseline(_)).values.sum
      val fs = new org.apache.hadoop.fs.Path(s"$root/data")
        .getFileSystem(spark.sessionState.newHadoopConf())
      val dvBytes = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
        .filter(_.getPath.getName.startsWith("dv-")).map(_.getLen).sum
      added + dvBytes
    }
    val (cowB, morB) = (smallBatchBytes(rCow), smallBatchBytes(rMor))
    assert(morB * 5 < cowB,
      s"small batches cost $morB bytes under MoR vs $cowB under COW — " +
        "expected at least a 5x gap (MoR must write O(churn), not O(state))")

    // 3. no pre-existing data file is ever rewritten by a MoR batch
    val mt = graft.table.GraftTable(
      spark, s"$rMor/data", s"$rMor/man", "user_id")
    val vs = mt.committedVersions
    vs.sliding(2).foreach {
      case Seq(a, b) =>
        assert((mt.files(a).toSet -- mt.files(b).toSet).isEmpty,
          s"v$a->v$b lost a file — a MoR batch rewrote pre-existing data")
      case _ =>
    }

    // 4. optimize() folds the DVs; state unchanged; raw scans work again
    assert(mt.hasLiveDvs(vs.max), "expected live DVs before optimize")
    assert(morSink.optimize() > 0)
    assert(!mt.hasLiveDvs(mt.committedVersions.max), "optimize left DVs")
    assert(state(morSink) == want, "optimize changed the state")
    assert(spark.read.format("graft").load(s"$rMor/man").count()
      == nUsers, "post-optimize raw-scan read differs")
  }
}
