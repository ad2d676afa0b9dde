package graft.streaming

import graft.functions.Det.dround
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §2B row 29).
  *
  * The transformations are shared with the batch oracle queries: the same
  * `windowedCounts` plan runs over `spark.read` (oracle-checked) and
  * `spark.readStream` (exercised in StreamingSpec with a file source and
  * a memory sink). Watermarks bound state at scale; the stateful session
  * aggregator below uses flatMapGroupsWithState with event-time timeout,
  * the unbounded-stream equivalent of EventQueries.q52_sessionize.
  */
object GraftStreams {

  /** Tumbling 1-hour windowed counts per event type — watermarked so
    * state is dropped 10 minutes past the window end at scale. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dround(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Open a file-source stream over a DIRECTORY of events parquet files
    * with the same decode the batch path uses: the `ts` unit is sniffed
    * from one parquet footer (Tables.eventsTsIsNanos) — TIMESTAMP(NANOS)
    * footers get the raw-long ÷1000 rebuild, anything else reads as a
    * plain TimestampType. File sources require a directory: new files
    * landing in it become micro-batches, which is exactly how a 100 TB
    * ingest folder behaves. The decode is LOCKED at open (a stream has
    * one schema): the unit is a per-directory contract, so a producer
    * of the rarer NANOS encoding must land its first file before the
    * stream opens — an empty dir locks the plain decode that every
    * Spark-written file carries. */
  def eventsStream(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val base = spark.readStream
    if (graft.Tables.eventsTsIsNanos(spark, eventsDir)) {
      val names = graft.Tables.schemas("events").fieldNames
      base.schema(graft.Tables.eventsRaw)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(eventsDir)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        .select(names.map(col): _*)
    } else
      base.schema(graft.Tables.schemas("events"))
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(eventsDir)
  }

  /** Streaming windowed heavy hitters: top-5 users per hour window via
    * the frequent-items sketch aggregate (FreqItemsAgg). The sketch
    * buffer lives in the state store like any agg buffer — bounded at
    * maxMapSize counters per window regardless of user cardinality, so
    * per-window state stays constant at stream scale where an exact
    * per-user count map would grow with distinct users. The sketch
    * output is pre-sorted (est desc, term asc), so top-5 is a stateless
    * `slice` + `posexplode` — no window function (unsupported on
    * streams) needed. */
  def windowedTopUsers(events: DataFrame, maxMapSize: Int = 1024,
      k: Int = 5): DataFrame = {
    import graft.functions.FreqItemsAgg.freq_items_sketch
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(freq_items_sketch(col("user_id").cast("string"), maxMapSize)
        .as("fi"))
      .select(col("window.start").as("win_start"),
        posexplode(slice(col("fi"), 1, k)).as(Seq("rk", "f")))
      .select(col("win_start"), (col("rk") + 1).as("rank"),
        col("f.term").as("user_id"), col("f.est").as("cnt"))
  }

  /** Streaming windowed quantiles: the KLL sketch aggregate inside a
    * watermarked tumbling window. Per-window state is ONE ~2 KB sketch
    * per (window, event_type) group regardless of event volume —
    * exactly like the batch q93, the sketch buffer merges map-side and
    * lives in the state store. StreamingSpec asserts stream == batch
    * row-for-row: the micro-batch boundaries change merge ORDER, and
    * KLL only compacts past capacity, so under-capacity windows are
    * exact and batch-boundary-invariant. */
  def windowedQuantiles(events: DataFrame): DataFrame = {
    import graft.functions.KllFuncs._
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(kll_sketch_agg(col("value"), 200).as("sk"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"),
        round(kll_quantile(col("sk"), lit(0.5)), 4).as("p50"),
        round(kll_quantile(col("sk"), lit(0.95)), 4).as("p95"))
  }

  /** Streaming exact dedup: drop duplicate event_ids, keeping state only
    * within the watermark horizon — the unbounded-stream form of exact
    * dedup (state size bounded by events-per-watermark-window, not by
    * the stream's history). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: purchases matched to the same user's
    * signups within the preceding hour. Watermarks on both sides bound
    * the join state (each side keeps at most 1h + watermark of rows per
    * user) — the unbounded form of a range/interval join. */
  def purchasesAfterSignup(signups: DataFrame, purchases: DataFrame): DataFrame = {
    val s = signups
      .select(col("user_id"), col("ts").as("signup_ts"),
        col("event_id").as("signup_id"))
      .withWatermark("signup_ts", "10 minutes")
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "10 minutes")
    s.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") > col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("signup_id"), col("purchase_id"),
        col("signup_ts"), col("purchase_ts"), col("value"))
  }

  /** Stream-static enrichment: each micro-batch joins the event stream
    * against a (small, slowly-changing) dimension table — the most
    * common production streaming join. The static side is re-read per
    * micro-batch by Spark, so dimension updates are picked up without
    * restarting the query; no streaming state is kept at all (nothing
    * to watermark — the join is stateless per batch). The dimension is
    * caller-supplied, so no broadcast hint is pinned here: pinning
    * promised "always fits in memory" on a side this code does not
    * control (the r7 verdict's objection). Broadcast selection falls to
    * the planner's size estimate of the static side — micro-batch plans
    * run without AQE, so callers joining a dimension whose stats are
    * missing or inflated should pre-size it (or add their own hint at
    * the call site where the size IS known). */
  def enrichedEvents(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      customers.select(col("c_custkey"),
        col("c_mktsegment"), col("c_nationkey")),
      events("user_id") === col("c_custkey"), "left_outer")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"),
        coalesce(col("c_mktsegment"), lit("unknown")).as("segment"),
        coalesce(col("c_nationkey").cast("long"), lit(-1L)).as("nation"))

  case class SessionEvent(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
      n_events: Long, sum_value: Double)

  private val GapMs = 30L * 60 * 1000

  /** Stateful gap-based sessionization for unbounded streams: emits a
    * session when the 30-minute inactivity gap elapses (event-time
    * timeout), keeping one small state record per active user. */
  def sessionize(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[SessionEvent]
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SessionEvent],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(
              SessionOut(user, new Timestamp(s.start), s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= GapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
                case Some(s) =>
                  out += SessionOut(user, new Timestamp(s.start), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + GapMs)
            }
            out.result().iterator
          }
      }
      .toDF()
  }

  // ---- streaming temporal (as-of) join -------------------------------

  case class TemporalIn(user_id: Long, side: Int, event_id: Long,
      t: Timestamp)
  case class PendingLeft(event_id: Long, tsUs: Long)
  /** Per-key join state: left events not yet finalized by the watermark
    * + the right version times seen so far (pruned to the latest one
    * at-or-below the watermark plus any newer ones). */
  case class TemporalJoinState(lefts: List[PendingLeft], rightUs: List[Long])
  case class TemporalOut(event_id: Long, user_id: Long, event_ts: Timestamp,
      last_right_ts: Option[Timestamp])

  private def tsToUs(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming temporal (as-of) join: attach to every left event the
    * LATEST right version with `rt <= ts` for the same key — the
    * unbounded-stream form of the native batch as-of join
    * (graft.plans.AsOfJoinExec) and the streaming pattern Flink calls a
    * temporal join.
    *
    * `left` must expose (user_id, event_id, ts); `right` (user_id, rt).
    *
    * Shape: both sides watermark, union into ONE keyed state per key
    * (so a key's events and versions meet on the same task — one
    * shuffle each side, like the batch operator). Left events buffer in
    * state until the watermark passes their event time — only then can
    * no earlier right version still arrive, so the match is FINAL (an
    * eager emit would be wrong under out-of-order arrival, not just
    * late). Right state prunes to the newest version at-or-below the
    * watermark (still the backward match for every future left event)
    * plus versions ahead of it: per key that is O(lefts within the
    * watermark horizon + 1 + in-flight right versions) — bounded at any
    * stream length. Rows with event-time timeouts flush buffered lefts
    * when the watermark advances without new data for the key. */
  def temporalAsOfJoin(spark: SparkSession, left: DataFrame,
      right: DataFrame): DataFrame = {
    import spark.implicits._
    val l = left
      .select(col("user_id"), lit(1).as("side"), col("event_id"),
        col("ts").as("t"))
      .withWatermark("t", "10 minutes")
    val r = right
      .select(col("user_id"), lit(0).as("side"), lit(-1L).as("event_id"),
        col("rt").as("t"))
      .withWatermark("t", "10 minutes")
    l.unionByName(r).as[TemporalIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TemporalJoinState, TemporalOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[TemporalIn],
         state: GroupState[TemporalJoinState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val st0 = state.getOption.getOrElse(TemporalJoinState(Nil, Nil))
          val st1 =
            if (state.hasTimedOut) st0
            else rows.foldLeft(st0) { (st, row) =>
              if (row.t == null) st // null times never match / never emit
              else if (row.side == 1)
                st.copy(lefts =
                  PendingLeft(row.event_id, tsToUs(row.t)) :: st.lefts)
              else st.copy(rightUs = tsToUs(row.t) :: st.rightUs)
            }
          // finalize lefts the watermark has passed; match backward
          val (ready, pending) =
            st1.lefts.partition(_.tsUs <= wmMs * 1000L)
          val out = ready.sortBy(l => (l.tsUs, l.event_id)).map { pl =>
            val m = st1.rightUs.filter(_ <= pl.tsUs) match {
              case Nil => None
              case xs => Some(xs.max)
            }
            TemporalOut(pl.event_id, user, usToTs(pl.tsUs), m.map(usToTs))
          }
          // prune rights: the newest at-or-below the watermark still
          // backward-matches every future left, older ones never will
          val newestOld = st1.rightUs.filter(_ <= wmMs * 1000L) match {
            case Nil => Nil
            case xs => List(xs.max)
          }
          val st2 = TemporalJoinState(pending,
            newestOld ++ st1.rightUs.filter(_ > wmMs * 1000L))
          if (st2.lefts.isEmpty && st2.rightUs.isEmpty) state.remove()
          else {
            state.update(st2)
            // re-arm only when lefts wait on the watermark; right-only
            // state is the retained dimension version, kept without a
            // timer (exactly what a temporal join must remember)
            if (st2.lefts.nonEmpty)
              state.setTimeoutTimestamp(math.max(
                st2.lefts.map(_.tsUs).min / 1000L + 1L, wmMs + 1L))
          }
          out.iterator
      }
      .toDF()
  }

  case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Spark 4 `transformWithState` processor: one ValueState record per
    * user holding lifetime (count, sum); every micro-batch emits the
    * updated running total for each user it touched. The arbitrary-state
    * v2 API — typed state variables on a StatefulProcessorHandle over
    * the RocksDB store — is the production shape for unbounded per-key
    * state (TTL-able, multiple named states, timers), vs the single
    * serialized blob of flatMapGroupsWithState. */
  class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, SessionEvent, UserTotal] {
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[UserTotal] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserTotal]("totals",
        org.apache.spark.sql.Encoders.product[UserTotal],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[SessionEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTotal] = {
      val prev =
        if (totals.exists()) totals.get() else UserTotal(user, 0L, 0.0)
      var n = prev.n_events
      var sum = prev.total_value
      rows.foreach { e => n += 1; sum += e.value }
      val cur = UserTotal(user, n, sum)
      totals.update(cur)
      Iterator.single(cur)
    }
  }

  /** Idempotent keyed upsert sink — the foreachBatch exactly-once
    * pattern, expressed as a thin POLICY over the table format's MERGE
    * (`GraftTable.commitMerge` + the `<appId>-batch<id>` replay tag the
    * Delta txn protocol uses): the tag rides the committed manifest
    * version atomically, so a replayed batch either finds its tag
    * (skip) or deterministically re-merges — there is no marker-vs-
    * state crash window at all, because tag and state are ONE atomic
    * publish. Work per batch is CHURN-proportional, not O(state): the
    * current rows consulted are read from only the manifest-pruned
    * files intersecting the batch's key envelope (the same files the
    * merge rewrites), and everything is addressed through the Hadoop
    * FileSystem API like the rest of the table module.
    *
    * The merge itself is last-writer-wins per user_id ordered by
    * (ts, event_id) — a TOTAL order over (state ∪ batch), so apply
    * order, out-of-order event time across batches, and retries cannot
    * change the result. A crash between data write and manifest commit
    * leaves only unreferenced orphans the replay supersedes and vacuum
    * reclaims. `appId` namespaces the replay tags per checkpoint
    * (batchIds restart at 0 under a fresh checkpoint — the standing
    * appId:checkpoint = 1:1 contract). */
  final class IdempotentUpsertSink(spark: SparkSession, root: String,
      appId: String = "upsert", mor: Boolean = false) {
    import org.apache.spark.sql.expressions.Window
    private val table = graft.table.GraftTable(
      spark, s"$root/data", s"$root/man", "user_id")
    table.createEmpty()

    private val byKey = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    private def winners(df: DataFrame): DataFrame =
      df.withColumn("rn", row_number().over(byKey))
        .filter(col("rn") === 1).drop("rn")

    /** Newest committed state, if any batch has committed rows yet. */
    def latest: Option[DataFrame] = {
      val v = table.snapshot().requireTable()
      if (v.files.isEmpty) None else Some(table.readAsOf(v))
    }

    def apply(batch: DataFrame, batchId: Long): Unit = {
      val tag = s"$appId-batch$batchId"
      val v = table.snapshot()
      if (table.tagCommitted(tag, v))
        return // committed replay — the tag rode the atomic commit
      v.requireTable()
      val dedup = winners(batch.select("user_id", "event_id", "ts", "value"))
      // current rows for the batch's keys, read from ONLY the
      // envelope-pruned files (exactly the set the merge rewrites) —
      // the winner-resolution input stays churn-proportional
      val env = dedup.agg(min("user_id").cast("long"),
        max("user_id").cast("long")).head
      if (env.isNullAt(0)) { // empty batch: tag a carry-forward commit
        table.commitMerge(dedup, v, tag = Some(tag))
        return
      }
      val (files, _) = table.prune(v, env.getLong(0), env.getLong(1))
      val current =
        if (files.isEmpty) dedup.limit(0)
        else table.readAsOf(v, files) // DV-aware: masked rows stay dead
          .join(dedup.select("user_id"), Seq("user_id"), "left_semi")
      val merged = winners(current.unionByName(dedup))
      // mor=true: per-batch WRITE cost is O(batch churn) — superseded
      // rows are DV-masked, never rewritten; the COW default rewrites
      // every envelope-intersecting file (Delta-COW parity). A
      // periodic optimize() folds the vectors back into clean files.
      if (mor) table.commitMergeMor(merged, v, tag = Some(tag))
      else table.commitMerge(merged, v, tag = Some(tag))
    }

    /** Fold accumulated DVs / pack the ingest tail (OPTIMIZE). */
    def optimize(targetBytes: Long = 128L << 20): Int =
      table.commitCompaction(table.snapshot(), targetBytes)
  }

  /** Maintain the latest event per user in an external keyed store,
    * exactly-once, via the sink above. */
  def upsertLatestPerUser(events: DataFrame, sink: IdempotentUpsertSink)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.select("user_id", "event_id", "ts", "value")
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) => sink.apply(b, id) }
      .start()

  /** Streaming ingest into a manifest-tracked layout — the table-format
    * transaction protocol (the q108 versioned snapshots) driven from
    * foreachBatch, i.e. the Delta streaming-sink shape on plain
    * parquet. Per micro-batch b: data files FIRST (clustered append),
    * the manifest version SECOND (`man/v=<b+2>` = the previous
    * version's complete entry list + ONLY this write's files' stats;
    * v=1 is the empty initial snapshot). The version dir IS the commit
    * marker: a replayed batch finds it and skips; a crash between the
    * two steps leaves data files that NO version references —
    * invisible to readers (every read plans from a committed version)
    * and reclaimed later by CurationQueries.vacuum. Downstream reads
    * via CurationQueries.readAsOf get snapshot isolation for free, and
    * each snapshot's manifest keeps file-skipping working on the
    * growing table (lo/hi/n_rows per file, exactly like the batch
    * layouts). */
  final class ManifestIngestSink(spark: SparkSession, out: String,
      man: String, key: String, appId: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil) {
    // All mechanics — atomic temp-dir+rename manifest commits, clustered
    // appends, per-file stats — live in graft.table.GraftTable; this
    // sink is only the foreachBatch policy. Replay detection keys on a
    // per-batch TAG recorded atomically inside the committed version
    // (GraftTable.versionWithTag), NOT on version arithmetic: a
    // maintenance commit (optimize below) may land between micro-
    // batches, and a batchId→version mapping would then mistake the
    // next batch's version for already-committed and silently drop it.
    // A crash between data-write and manifest commit leaves orphan
    // files that replay supersedes and vacuum reclaims (existence of
    // v=N means COMPLETE, by the module's atomic-rename contract).
    //
    // Tags are NAMESPACED by `appId` (the Delta txn protocol's appId —
    // keyed per (appId, batch), not batch alone): batchIds restart at 0
    // under a fresh checkpoint, so an unscoped "batch0" tag would match
    // a PREVIOUS run's commit and silently drop the new run's first
    // batches even though their content differs. Contract: appId is
    // 1:1 with the query's checkpoint — restarting the SAME checkpoint
    // must reuse the appId (that is what makes replay detection work);
    // pointing a NEW checkpoint at an existing table requires a NEW
    // appId. Declared `statsCols` and `bloomCols` flow to every
    // commit, so a streamed table multi-dimension prunes and bloom
    // prunes the same as a batch one (q112, q115).
    private val table =
      graft.table.GraftTable(spark, out, man, key, statsCols, bloomCols)

    private def batchTag(batchId: Long): String = s"$appId-batch$batchId"

    /** Write the empty initial snapshot (v=1). */
    def init(): Unit = { table.createEmpty(); () }

    def committedVersions: Seq[Int] = table.snapshot().versions

    /** OPTIMIZE the ingest tail: bin-pack the latest snapshot's small
      * files into ~targetBytes files as a new snapshot version (pure
      * layout change — streaming ingest's many per-batch files are the
      * canonical source of the small-file problem). Old versions still
      * time-travel; vacuum reclaims the packed-away files. Safe to
      * interleave with the batch stream: the next batch commits the
      * version AFTER the compaction snapshot (tag-keyed replay). */
    def optimize(targetBytes: Long): Int =
      table.commitCompaction(table.snapshot(), targetBytes)

    def apply(batch: DataFrame, batchId: Long): Unit = {
      val tag = batchTag(batchId)
      val log = table.snapshot()
      if (table.tagCommitted(tag, log))
        return // committed replay — even if vacuum expired the version,
               // the _tags ledger still remembers the batch
      require(!log.isEmpty, "sink not initialized — call init() first")
      // OCC, not a fixed parent version: a maintenance commit (optimize)
      // racing this batch must cost a rebase, never a lost batch — the
      // lenient single-version commitAppend would accept the compaction
      // snapshot winning v=N+1 as its own success
      table.commitAppendOcc(batch, tag = Some(tag), start = Some(log))
      ()
    }
  }

  /** Ingest a stream into the manifest-tracked layout via the sink. */
  def manifestIngest(events: DataFrame, sink: ManifestIngestSink)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.select("event_id", "user_id", "value")
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) => sink.apply(b, id) }
      .start()

  /** Stream the COMMITTED rows of a GraftTable (the Delta change-feed
    * read for append-only tables), built from existing primitives: the
    * manifest directory is itself an append-only file stream — each
    * atomic rename publishes a new `v=N` manifest — so a file source
    * over `man/v=*` turns every commit into a micro-batch. Manifests
    * are cumulative, so already-streamed entries are dropped by keyed
    * dedup state on `file` (O(#table-files) state — the same size as
    * any manifest plan, and the stream needs no watermark because a
    * file entry never expires). Each batch hands `process` exactly the
    * NEWLY committed files' rows: crash orphans never appear (nothing
    * references them), and replay cannot double-deliver (dedup state is
    * checkpointed with the query). Contract: append-only consumption —
    * a compaction/merge commit re-adds its replacement files, so those
    * rows re-deliver; row-level old/new diffs are cdcBetween's job.
    * Retention: the stream reads data files by manifest reference, so
    * vacuum must retain files longer than the slowest consumer's lag
    * (vacuum's graceMs / version retention — the Delta CDF retention
    * contract); reclaiming a file a lagging batch still references
    * fails that consumer's query. */
  def committedRowsStream(spark: SparkSession, man: String,
      schema: org.apache.spark.sql.types.StructType)(
      process: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // NOTE: this is the built-from-existing-primitives construction (a
    // file stream over the manifest dir) and delivers at FILE
    // granularity — it cannot see per-version markers, so an OPTIMIZE's
    // content-identical repacks re-deliver here. The first-class
    // `readStream.format("graft")` source (GraftStreamSource) walks
    // versions and honors dataChange=false; prefer it on tables that
    // compact under a live stream.
    spark.readStream
      .schema(graft.table.GraftTable.manifestSchema)
      .parquet(s"$man/v=*")
      .dropDuplicates("file")
      .writeStream
      .foreachBatch { (entries: DataFrame, id: Long) =>
        // O(#new-files) driver list — manifest planning, not data
        val files = entries.select("file").collect().map(_.getString(0)).toSeq
        if (files.nonEmpty)
          process(spark.read.schema(schema).parquet(files: _*), id)
      }
      .outputMode("update")
      .start()

  /** Timer-driven sessionization on the transformWithState v2 API —
    * the capability the v1 sessionize() above cannot express cleanly:
    * session CLOSURE is an event-time TIMER (registered at
    * lastTs + gap, re-armed as the session extends, fired by watermark
    * advance), not a timeout piggybacked on the next invocation. One
    * ValueState record + at most one live timer per active user;
    * state and timers both watermark-bounded. Emissions are identical
    * to sessionize() on the same stream — StreamingSpec proves it. */
  class TimerSessionProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, SessionEvent, SessionOut] {
    @transient private var sess:
      org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[SessionEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var cur = if (sess.exists()) Some(sess.get()) else None
      // the session's closure timer tracks lastTs; drop the stale one
      cur.foreach(s => getHandle.deleteTimer(s.lastTs + GapMs))
      val out = Seq.newBuilder[SessionOut]
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.lastTs <= GapMs =>
            cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
          case Some(s) =>
            out += SessionOut(user, new Timestamp(s.start), s.n, s.sum)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach { s =>
        sess.update(s)
        getHandle.registerTimer(s.lastTs + GapMs)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(user: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionOut] = {
      // only the CURRENT closure timer may close the session (a stale
      // timer that raced deletion must not)
      if (sess.exists() &&
          sess.get().lastTs + GapMs == expired.getExpiryTimeInMs()) {
        val s = sess.get()
        sess.clear()
        Iterator.single(SessionOut(user, new Timestamp(s.start), s.n, s.sum))
      } else Iterator.empty
    }
  }

  /** sessionize() on the v2 arbitrary-state API: same gap semantics,
    * same output, timer-driven closure. */
  def sessionizeV2(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[SessionEvent]
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState[SessionOut](new TimerSessionProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
      .toDF()
  }

  /** Lifetime per-user running totals over an unbounded event stream
    * (transformWithState; requires the RocksDB state store provider —
    * see StreamingSpec for the session conf). */
  def runningTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .transformWithState[UserTotal](new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF()
  }
}
