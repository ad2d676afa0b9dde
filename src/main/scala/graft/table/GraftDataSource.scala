package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit,
  ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl,
  SupportsTriggerAvailableNow, Offset => V2Offset}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, RelationProvider, StreamSinkProvider,
  StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** GraftTable as a first-class Spark data source — `format("graft")`:
  *
  * {{{
  *   spark.read.format("graft").load(manifestDir)                  // latest snapshot
  *   spark.read.format("graft").option("versionAsOf", 2).load(man) // time travel
  *   spark.read.format("graft").option("timestampAsOf", "2026-08-13 12:00:00").load(man)
  *   df.write.format("graft").mode("append").save(man)             // OCC append commit
  *   df.write.format("graft").mode("overwrite")
  *     .option("key", "id").option("data", dataDir).save(man)      // (re)create
  * }}}
  *
  * READ: the relation is a native parquet [[HadoopFsRelation]] whose
  * [[FileIndex]] is the committed manifest ([[GraftManifestFileIndex]] —
  * the Delta `TahoeFileIndex` shape): `listFiles` receives the query's
  * pushed-down data filters at PHYSICAL planning and answers with only
  * the files whose manifest boxes/bloom sketches survive them, so
  * file-level skipping rides the same seam partition pruning uses, and
  * everything below — column pruning, parquet row-group pushdown,
  * vectorized reading, whole-stage codegen — is stock Spark. No data
  * dir is ever listed: the manifest alone names the files, sizes
  * included, which is also what makes the scan snapshot-isolated.
  *
  * WRITE: `mode(append)` is a [[GraftTable.commitAppendOcc]] — the
  * multi-writer OCC commit, so concurrent `format("graft")` writers
  * rebase instead of colliding; `mode(overwrite)` (re)creates the
  * table. The table's shape (key, stats/bloom columns, data dir) comes
  * from `_table_props`, so appending needs only the manifest path;
  * creating declares the shape via options (`key`, `data`, optional
  * `stats`/`bloom` comma-lists, `numFiles`).
  */
final class GraftDataSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def manifestOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "format(\"graft\") needs the manifest directory: .load(<manifestDir>) / .save(<manifestDir>)"))

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val opts = CaseInsensitiveMap(parameters)
    val spark = ctx.sparkSession
    val man = manifestOf(opts)
    val probe = GraftTable(spark, data = "", man = man, key = "")
    val log = probe.snapshot().requireTable()
    val snap = opts.get("versionasof").map(v => log.at(v.trim.toInt))
      .orElse(opts.get("timestampasof").map(ts =>
        log.asOfTime(parseTimestampMs(ts))))
      .getOrElse(log)
    val v = snap.version
    val entries = snap.rows.toSeq // O(#files) planning
    // format("graft") reads plan as a native parquet HadoopFsRelation —
    // a pure file-list scan that CANNOT apply deletion vectors. A
    // snapshot with live DVs must fail loudly here (reading raw files
    // would resurrect masked rows): read it via graft_snapshot /
    // readAsOf, or run graft_optimize to fold the DVs back in.
    require(!snap.hasLiveDvs,
      s"snapshot v=$v of $man carries live deletion vectors (MoR " +
        "merges pending compaction) — format(\"graft\") plans a raw " +
        "parquet scan that cannot apply them; read through " +
        "graft_snapshot(...)/GraftTable.readAsOf, or run " +
        "graft_optimize to fold the DVs into clean files first")
    // a raw HadoopFsRelation likewise cannot apply the RENAME COLUMN
    // logical->physical aliasing — the mapped surfaces can
    require(probe.logicalToPhysical(v).isEmpty,
      s"snapshot v=$v of $man has renamed columns (column mapping) — " +
        "format(\"graft\") plans a raw parquet scan that cannot alias " +
        "the frozen physical names; read through graft_snapshot(...), " +
        "the catalog table name, or GraftTable.readAsOf")
    val props = GraftTable.loadProps(spark, man)
      .getOrElse(GraftTable.TableProps(None, Nil, Nil, None))
    val manCols = entries.head.schema.fieldNames.toSet
    val index = new GraftManifestFileIndex(man, v, entries,
      props.key.filter(_ => manCols("lo") && manCols("hi")),
      props.statsCols.filter(c => manCols(s"lo_$c") && manCols(s"hi_$c")),
      props.bloomCols.filter(c => manCols(s"bloom_$c")))
    HadoopFsRelation(index, partitionSchema = new StructType(),
      // the commit's _schema.ddl: planning opens ZERO data files (the
      // footer read remains only as the pre-round-11 fallback)
      dataSchema = snap.dataSchema, bucketSpec = None,
      fileFormat = new ParquetFileFormat(), options = Map.empty)(spark)
  }

  /** Accept epoch millis or a `java.sql.Timestamp`-parsable local
    * instant (the same two spellings DataFrameReader users expect). */
  private def parseTimestampMs(s: String): Long = {
    val t = s.trim
    if (t.forall(_.isDigit)) t.toLong
    else java.sql.Timestamp.valueOf(t).getTime
  }

  // ---- streaming read: spark.readStream.format("graft").load(man) ----

  private def latestSchema(spark: SparkSession, man: String): StructType =
    GraftTable(spark, data = "", man = man, key = "").snapshot()
      .requireTable().dataSchema

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : (String, StructType) = {
    val opts = CaseInsensitiveMap(parameters)
    // a user schema that is NOT change-feed-shaped is ignored when
    // readChangeFeed is set: the by-name streaming path
    // (readStream.table through V2TableWithV1Fallback) always supplies
    // the TABLE schema, which is the wrong shape for the feed
    val given = schema.filter(s =>
      !wantsChangeFeed(opts) || s.fieldNames.contains("op"))
    (shortName(),
      given.getOrElse(
        if (wantsChangeFeed(opts)) cdfSchema(ctx.sparkSession, manifestOf(opts))
        else latestSchema(ctx.sparkSession, manifestOf(opts))))
  }

  private def wantsChangeFeed(opts: Map[String, String]): Boolean =
    opts.get("readchangefeed").exists(_.trim.equalsIgnoreCase("true"))

  /** The row-level change-feed schema: key, `old_<c>` and `new_<c>`
    * value columns, op, _commit_version — `GraftTable.cdc`'s shape plus
    * the commit version, derived from the latest snapshot's data schema
    * and the props-declared key (CDF pairs old/new rows on the key). */
  private def cdfSchema(spark: SparkSession, man: String): StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val dataSchema = latestSchema(spark, man)
    val key = GraftTable.loadProps(spark, man).flatMap(_.key).getOrElse(
      throw new IllegalArgumentException(
        s"readChangeFeed needs the table key, but $man's _table_props " +
          "records none — CDF pairs old/new rows on the key"))
    val keyField = dataSchema(dataSchema.fieldIndex(key))
    val values = dataSchema.filterNot(_.name == key)
    StructType(
      keyField +:
        (values.map(f => StructField(s"old_${f.name}", f.dataType)) ++
          values.map(f => StructField(s"new_${f.name}", f.dataType)) ++
          Seq(StructField("op", StringType),
            StructField("_commit_version", LongType))))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val opts = CaseInsensitiveMap(parameters)
    val man = manifestOf(opts)
    val spark = ctx.sparkSession
    val startingVersion = opts.get("startingversion").map { s =>
      val v = s.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"startingVersion must be an integer snapshot version; got '$s'"))
      require(v >= 1, s"startingVersion must be >= 1, got $v")
      v
    }
    def posIntOpt(name: String): Option[Int] = opts.get(name).map { s =>
      val v = s.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer; got '$s'"))
      require(v > 0, s"$name must be > 0, got $v")
      v
    }
    if (wantsChangeFeed(opts))
      new GraftChangeFeedSource(spark, man,
        schema.filter(_.fieldNames.contains("op"))
          .getOrElse(cdfSchema(spark, man)), startingVersion,
        posIntOpt("maxversionspertrigger"))
    else {
      require(startingVersion.isEmpty,
        "startingVersion is a change-feed option — pair it with " +
          ".option(\"readChangeFeed\", \"true\") (the committed-rows " +
          "stream always begins from the current snapshot)")
      val maxBytes = opts.get("maxbytespertrigger").map { s =>
        val v = s.trim.toLongOption.getOrElse(
          throw new IllegalArgumentException(
            s"maxBytesPerTrigger must be a positive byte count; got '$s'"))
        require(v > 0, s"maxBytesPerTrigger must be > 0, got $v")
        v
      }
      new GraftStreamSource(spark, man,
        schema.getOrElse(latestSchema(spark, man)),
        posIntOpt("maxfilespertrigger"), maxBytes)
    }
  }

  private def declaredTable(spark: SparkSession, man: String,
      opts: Map[String, String], props: Option[GraftTable.TableProps])
      : GraftTable = {
    val key = opts.get("key").orElse(props.flatMap(_.key)).getOrElse(
      throw new IllegalArgumentException(
        "creating a graft table needs .option(\"key\", <column>) — an " +
          "integral, timestamp, date or string cluster/skip key"))
    val data = opts.get("data").orElse(props.flatMap(_.data)).getOrElse(
      throw new IllegalArgumentException(
        "creating a graft table needs .option(\"data\", <data dir>)"))
    def list(o: String) =
      opts.get(o).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    // CHECK constraints: .option("check.<name>", "<boolean expr>") —
    // option keys are case-insensitive, so constraint names normalize
    // to lowercase; validation (parse/type/columns) runs at create
    // against the batch schema, enforcement inside every future
    // commit's stats scan
    val checks = opts.toSeq.flatMap { case (k0, v) =>
      val k = k0.toLowerCase(java.util.Locale.ROOT)
      if (k.startsWith("check.") && v.trim.nonEmpty)
        Some(k.stripPrefix("check.") -> v.trim)
      else None
    }.sortBy(_._1)
    GraftTable(spark, data, man, key, list("stats"), list("bloom"),
      opts.get("bloomitems").map(_.trim.toLong)
        .getOrElse(GraftTable.DefaultBloomItems),
      opts.get("bloomfpp").map(_.trim.toDouble)
        .getOrElse(GraftTable.DefaultBloomFpp),
      checks = checks)
  }

  private def existingTable(spark: SparkSession, man: String,
      opts: Map[String, String], props: Option[GraftTable.TableProps])
      : GraftTable = {
    val p = props.getOrElse(throw new IllegalArgumentException(
      s"$man carries no _table_props — appending needs a table created " +
        "through GraftTable/format(\"graft\") (or recreate with mode(\"overwrite\"))"))
    val key = p.key.getOrElse(throw new IllegalArgumentException(
      s"$man's _table_props records no key — cannot append"))
    val data = opts.get("data").orElse(p.data).getOrElse(
      throw new IllegalArgumentException(
        s"$man's _table_props records no data dir (pre-round-10 table) — " +
          "pass .option(\"data\", <data dir>)"))
    GraftTable(spark, data, man, key, p.statsCols, p.bloomCols,
      p.bloomItems, p.bloomFpp)
  }

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], df: DataFrame): BaseRelation = {
    val opts = CaseInsensitiveMap(parameters)
    val spark = ctx.sparkSession
    val man = manifestOf(opts)
    val nParts = opts.get("numfiles").map(_.trim.toInt).getOrElse(8)
    val props = GraftTable.loadProps(spark, man)
    val exists = props.isDefined &&
      !GraftTable(spark, data = "", man = man, key = "").snapshot().isEmpty

    def declaredTable(): GraftTable = this.declaredTable(spark, man, opts, props)
    def existingTable(): GraftTable = this.existingTable(spark, man, opts, props)

    mode match {
      case SaveMode.Overwrite => declaredTable().create(df, nParts)
      case SaveMode.Append =>
        if (exists) existingTable().commitAppendOcc(df, nParts)
        else declaredTable().create(df, nParts)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft table at $man already exists (mode ErrorIfExists)")
        else declaredTable().create(df, nParts)
      case SaveMode.Ignore =>
        if (!exists) declaredTable().create(df, nParts)
    }
    createRelation(ctx, parameters)
  }

  // ---- streaming write: df.writeStream.format("graft").start(man) ----

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val opts = CaseInsensitiveMap(parameters)
    val spark = ctx.sparkSession
    val man = manifestOf(opts)
    require(partitionColumns.isEmpty,
      "format(\"graft\") streaming writes do not take partitionBy — file " +
        "layout comes from the table's cluster key")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"format(\"graft\") streaming writes are append-only snapshot " +
        s"commits (got $outputMode) — aggregate upstream with " +
        "foreachBatch + commitMerge for update semantics")
    val appId = opts.getOrElse("appid",
      throw new IllegalArgumentException(
        "format(\"graft\") streaming writes need .option(\"appId\", <id>) — " +
          "replay-detection tags are namespaced per checkpoint (the Delta " +
          "txn appId): appId is 1:1 with the query's checkpoint; a NEW " +
          "checkpoint against an existing table needs a NEW appId"))
    val props = GraftTable.loadProps(spark, man)
    val exists = props.isDefined &&
      !GraftTable(spark, data = "", man = man, key = "").snapshot().isEmpty
    val table =
      if (exists) existingTable(spark, man, opts, props)
      else declaredTable(spark, man, opts, props).createEmpty()
    new GraftStreamSink(spark, table, appId,
      opts.get("numfiles").map(_.trim.toInt).getOrElse(2))
  }
}

/** Manifest-committed streaming ingest as a v1 [[Sink]] — the
  * `writeStream.format("graft")` face of `GraftStreams.
  * ManifestIngestSink`, sharing its exactly-once contract verbatim:
  * each micro-batch is one OCC append commit (new clustered files +
  * one atomic manifest rename), replay detection keys on the
  * `<appId>-batch<id>` tag recorded atomically inside the committed
  * version — never on version arithmetic, so maintenance commits
  * (OPTIMIZE) interleave without shifting a batch onto an
  * already-committed version — and a crash between data-write and
  * manifest commit leaves only unreferenced orphans that the replay
  * supersedes and vacuum reclaims. Declared stats/bloom columns flow
  * through every commit, so the streamed table prunes like a batch
  * one. */
final class GraftStreamSink(spark: SparkSession, table: GraftTable,
    appId: String, nParts: Int)
    extends org.apache.spark.sql.execution.streaming.Sink
    with org.apache.spark.internal.Logging {

  /** Max batchId this appId ever committed (live tags + vacuum
    * ledger) — the high-water mark a legitimate replay sits AT, never
    * below: Spark only ever re-delivers the latest possibly-uncommitted
    * batch. O(#versions) driver-side, computed only on the skip path. */
  private def highWater(): Option[Long] =
    table.committedTags(s"$appId-batch")
      .flatMap(t => t.stripPrefix(s"$appId-batch").toLongOption)
      .maxOption

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val tag = s"$appId-batch$batchId"
    if (table.tagCommitted(tag)) {
      // committed replay — even if vacuum expired the version, the
      // _tags ledger still remembers the batch. A batchId BELOW the
      // appId's high-water mark is NOT a replay: batchIds restarted
      // (a new checkpoint reusing this appId), and silently skipping
      // would drop the new run's data — fail loudly instead.
      val hw = highWater()
      hw.filter(batchId < _).foreach { h =>
        throw new IllegalStateException(
          s"appId '$appId' batch $batchId is far below its committed " +
            s"high-water mark $h — batchIds restarted (a NEW checkpoint " +
            "is reusing this appId); appId must be 1:1 with the " +
            "query's checkpoint: pick a new appId for a new checkpoint")
      }
      logWarning(s"skipping replayed batch $batchId of appId '$appId' " +
        s"(tag '$tag' already committed)")
      return
    }
    // the incoming DataFrame is bound to the micro-batch's incremental
    // execution and cannot be re-planned by the batch write inside
    // commitAppendOcc — rebind its rows as a batch DataFrame first
    val batch = org.apache.spark.sql.GraftSqlBridge.asBatch(spark, data)
    table.commitAppendOcc(batch, nParts, tag = Some(tag))
    ()
  }

  override def toString: String =
    s"GraftStreamSink(man=${table.man}, appId=$appId)"
}

/** The committed-rows CHANGE FEED of a GraftTable as a v1 streaming
  * [[Source]] — `spark.readStream.format("graft").load(man)`: the
  * stream offset IS the committed snapshot version (one atomic rename
  * = one offset increment), and a micro-batch delivers the rows of
  * exactly the files each DATA-CHANGING commit in (start, end] newly
  * references. Crash orphans never deliver (no manifest references
  * them); recovery recomputes the same file diff from the same
  * immutable manifests, so delivery is exactly-once per file. A
  * layout-only commit (OPTIMIZE) carries the `dataChange=false` marker
  * and delivers NOTHING — its repacked files are content-identical by
  * construction, so compaction can run under a live stream without
  * re-delivering the table (the Delta CDF rule). Contract is
  * append-only consumption (a MERGE's rewritten files re-deliver their
  * rows; row-level diffs are `cdc`'s job), and vacuum retention must
  * exceed the slowest
  * consumer's lag — reading a vacuumed start version fails loudly
  * rather than silently re-delivering the whole table. Planning per
  * trigger is O(#files) driver-side, the module contract. */
final class GraftStreamSource(spark: SparkSession, man: String,
    override val schema: StructType,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  import GraftStreamSource.Pos

  private val probe = GraftTable(spark, data = "", man = man, key = "")

  /** `Trigger.AvailableNow` fence: the latest committed version,
    * captured when Spark prepares the run — the query drains up TO the
    * fence in paced micro-batches and then terminates; commits landing
    * MID-run wait for the next run (the FileStreamSource/Delta
    * contract). Without the fence a paced source under AvailableNow
    * would be wrapped by Spark around its FIRST offer — one budget
    * slice — and a 100 TB backfill would silently stop at a fraction
    * of the table. 0 = prepared against a still-empty table (deliver
    * nothing); None = not an AvailableNow run. */
  private var fence: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    fence = Some(probe.snapshot().version)

  /** The declared pacing options as Spark's admission-control limits —
    * MicroBatchExecution hands them back to [[latestOffset]] on every
    * trigger (including AvailableNow's drain, which keeps pacing). */
  override def getDefaultReadLimit: ReadLimit = {
    val ls = maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).toSeq ++
      maxBytesPerTrigger.map(b => ReadLimit.maxBytes(b)).toSeq
    ls match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def initialOffset(): V2Offset = Pos(0, 0, 0).offset

  override def deserializeOffset(json: String): V2Offset =
    org.apache.spark.sql.execution.streaming.runtime.SerializedOffset(json)

  private def posOf(o: V2Offset, log: LogSnapshot): Pos = o match {
    case v1: V1Offset => Pos.parse(v1, log)
    case other => Pos.parse(
      org.apache.spark.sql.execution.streaming.runtime
        .SerializedOffset(other.json), log)
  }

  /** (file budget, byte budget) a trigger may admit under `limit`. */
  private def budgets(limit: ReadLimit): (Long, Long) = limit match {
    case f: ReadMaxFiles => (f.maxFiles.toLong, Long.MaxValue)
    case b: ReadMaxBytes => (Long.MaxValue, b.maxBytes)
    case c: CompositeReadLimit =>
      c.getReadLimits.foldLeft((Long.MaxValue, Long.MaxValue)) {
        case ((f, b), l: ReadMaxFiles) => (math.min(f, l.maxFiles.toLong), b)
        case ((f, b), l: ReadMaxBytes) => (f, math.min(b, l.maxBytes))
        case (acc, _) => acc
      }
    case _ => (Long.MaxValue, Long.MaxValue) // ReadAllAvailable & co.
  }

  /** Version v's fresh (file, manifest bytes) list for a stream
    * anchored at `anchor`: the anchor version contributes its FULL
    * snapshot (sorted for a deterministic, restart-stable slicing
    * order); a later DATA-CHANGING version contributes its newly
    * referenced files (the diff against its predecessor — layout-only
    * repacks deliver nothing but still advance the walk, the
    * OPTIMIZE-under-a-live-stream contract); manifests are immutable,
    * so the list is the same on every recomputation. Bytes come from
    * the manifest's own per-file stats — rate limiting never stats a
    * data file. */
  private val freshMemo =
    scala.collection.mutable.LinkedHashMap[(Int, Int), Seq[(String, Long)]]()

  private def entriesOf(s: LogSnapshot): Seq[(String, Long)] =
    s.rows.map { r =>
      val b = r.getAs[java.lang.Long]("bytes")
      r.getAs[String]("file") -> (if (b == null) 0L else b.longValue)
    }.toSeq

  private def freshList(log: LogSnapshot, v: Int,
      anchor: Int): Seq[(String, Long)] =
    freshMemo.getOrElseUpdate((v, anchor), {
      // manifests are immutable once committed, so memoizing is safe;
      // the bound keeps a paced multi-version walk from re-reading
      // each manifest on every trigger while staying O(1) memory
      if (freshMemo.size > 8) freshMemo.remove(freshMemo.head._1)
      val cur = log.at(v) // fails once vacuum expired it
      if (v == anchor) entriesOf(cur).sortBy(_._1)
      else if (!probe.dataChange(cur)) Nil
      else {
        val prev = log.at(v - 1).files.toSet
        entriesOf(cur).filterNot(e => prev(e._1)).sortBy(_._1)
      }
    })

  /** Admission-controlled offset walk (Spark calls this, not
    * [[getOffset]], because the source declares admission control):
    * advance from `start` toward the latest committed version —
    * AvailableNow-fenced — taking whole files against the trigger's
    * file/byte budgets. The byte budget is a soft max (Delta
    * semantics): a trigger's FIRST file always delivers, else a file
    * above the budget would stall the stream forever. */
  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    val log = probe.snapshot()
    val latest = fence.fold(log.version)(math.min(_, log.version))
    if (latest <= 0) return null // nothing committed yet (or an
                                 // AvailableNow run prepared against a
                                 // still-empty table)
    // Spark's v1 bridge passes null (not initialOffset()) before the
    // first batch — both spell "nothing delivered yet"
    val startPos = if (start == null) Pos(0, 0, 0) else posOf(start, log)
    val cur = if (startPos.anchor == 0) {
      // fresh stream: anchor the snapshot at the CURRENT latest and
      // start with nothing delivered (the first trigger never mixes
      // the snapshot with later deltas, so the anchor is always
      // recoverable from the offset itself)
      Pos(latest, latest, 0)
    } else startPos
    if (cur.v > latest) return start // fenced below the checkpoint —
                                     // nothing admissible this run
    var (v, i) = (cur.v, cur.i)
    var (files, bytes) = budgets(limit)
    var took = 0L
    var list = freshList(log, v, cur.anchor)
    while (files > 0 && bytes > 0 && (i < list.size || v < latest)) {
      if (i < list.size) {
        val sz = list(i)._2
        if (took == 0L || sz <= bytes) {
          i += 1; took += 1; files -= 1
          bytes = math.max(0L, bytes - sz)
        } else bytes = 0L
      } else { v += 1; i = 0; list = freshList(log, v, cur.anchor) }
    }
    // close out trailing empty versions so a no-op trigger does not
    // keep re-offering the same offset with work "pending"
    while (i == list.size && v < latest &&
        freshList(log, v + 1, cur.anchor).isEmpty) {
      v += 1; list = Nil; i = 0
    }
    Pos(cur.anchor, v, i).offset
  }

  override def getOffset: Option[V1Offset] =
    throw new UnsupportedOperationException(
      "GraftStreamSource declares admission control — Spark drives it " +
        "through latestOffset(start, limit), never getOffset")

  /** Raw fresh-file read in the stream's LOGICAL schema: files store
    * frozen physical names (column mapping), so the scan reads those
    * and aliases back — identity on never-renamed tables. */
  private def readLogical(files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val m = probe.logicalToPhysical(Int.MaxValue)
    if (m.isEmpty) spark.read.schema(schema).parquet(files: _*)
    else {
      val phys = StructType(schema.fields.map(f =>
        f.copy(name = m.getOrElse(f.name, f.name))))
      spark.read.schema(phys).parquet(files: _*)
        .select(schema.fieldNames.toIndexedSeq.map(n =>
          col(m.getOrElse(n, n)).as(n)): _*)
    }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val log = probe.snapshot()
    val to = Pos.parse(end, log)
    val from = start.map(Pos.parse(_, log))
    // the slice of each version's fresh list between the two offsets;
    // planning is O(#versions-in-range x #files) driver-side — the
    // module contract, 1-2 versions per trigger in steady state
    val fromV = from.map(_.v).getOrElse(to.anchor)
    val pieces: Seq[(Int, Seq[String])] = (fromV to to.v).map { v =>
      val list = freshList(log, v, to.anchor)
      val lo = from.filter(_.v == v).map(_.i).getOrElse(0)
      val hi = if (v == to.v) to.i else list.size
      v -> list.slice(lo, hi).map(_._1)
    }.filter(_._2.nonEmpty)
    val fresh = pieces.flatMap(_._2)
    // the ANCHOR snapshot may carry live deletion vectors (MoR merges
    // pending compaction): its files must deliver LIVE rows, per-file
    // DVs applied; later versions' fresh files are DV-free at their
    // own version by construction
    val anchorFiles = pieces.filter(_._1 == to.anchor).flatMap(_._2)
    lazy val anchor = log.at(to.anchor)
    val batch =
      if (fresh.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          schema)
      else if (anchorFiles.nonEmpty && anchor.hasLiveDvs) {
        val anchorDf = probe.readAsOf(anchor, anchorFiles)
          .select(schema.fieldNames.map(org.apache.spark.sql.functions.col)
            .toIndexedSeq: _*)
        val rest = fresh.filterNot(anchorFiles.toSet)
        if (rest.isEmpty) anchorDf
        else anchorDf.unionByName(readLogical(rest))
      } else readLogical(fresh)
    org.apache.spark.sql.GraftSqlBridge.asStreaming(spark, batch)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$man]"
}

object GraftStreamSource {
  /** Stream position: `anchor` = the snapshot version the stream began
    * at (its full file list is the stream's first content), `v` = the
    * version currently being delivered, `i` = how many of v's
    * fresh-file list (sorted, deterministic) have been delivered.
    * Encoded as JSON so rate limiting can stop MID-version; legacy
    * plain-integer offsets (pre-rate-limiting checkpoints) decode as
    * "version fully delivered, anchored at itself" — the anchor is
    * only consulted while v == anchor, which a legacy checkpoint is
    * past by definition. */
  private[table] final case class Pos(anchor: Int, v: Int, i: Int) {
    def offset: V1Offset =
      org.apache.spark.sql.execution.streaming.runtime
        .SerializedOffset(s"""{"a":$anchor,"v":$v,"i":$i}""")
  }
  private[table] object Pos {
    def parse(o: V1Offset, log: => LogSnapshot): Pos = {
      val s = o.json.trim
      if (s.startsWith("{")) {
        def field(n: String): Int = {
          val m = s"""\"$n\":(-?\\d+)""".r.findFirstMatchIn(s).getOrElse(
            throw new IllegalStateException(s"malformed stream offset $s"))
          m.group(1).toInt
        }
        Pos(field("a"), field("v"), field("i"))
      } else {
        // legacy long offset: version fully delivered
        val v = s.toInt
        Pos(v, v, log.at(v).files.size)
      }
    }
  }
}

/** ROW-LEVEL change feed as a stream — `spark.readStream.format("graft")
  * .option("readChangeFeed", "true").load(man)` (Delta's streaming
  * `table_changes`): each data-changing commit becomes a micro-batch of
  * `GraftTable.cdc(v-1, v)` rows — (key, old_*, new_*, op) — stamped
  * with `_commit_version`. The initial snapshot delivers as `insert`
  * ops (Delta's starting-snapshot rule). The cdc read touches only each
  * commit's churned files (the COW symmetric difference), layout-only
  * commits (OPTIMIZE, `dataChange=false`) deliver nothing, and recovery
  * recomputes the same diffs from the same immutable manifests —
  * exactly-once per commit. Vacuum retention must exceed consumer lag;
  * an expired version fails loudly. */
final class GraftChangeFeedSource(spark: SparkSession, man: String,
    override val schema: StructType,
    startingVersion: Option[Int] = None,
    maxVersionsPerTrigger: Option[Int] = None) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with org.apache.spark.internal.Logging {

  private val table: GraftTable = {
    val p = GraftTable.loadProps(spark, man)
    val key = p.flatMap(_.key).getOrElse(
      throw new IllegalArgumentException(
        s"readChangeFeed needs the table key, but $man's _table_props " +
          "records none"))
    GraftTable(spark, data = p.flatMap(_.data).getOrElse(""), man = man,
      key = key)
  }

  private def version(o: V1Offset): Int = o.json.trim.toInt

  /** One-slot manifest memo: the walk reuses each version's entry list
    * as the next step's `from`, and across triggers the previous end
    * offset's list is still warm — so a steady-state trigger reads each
    * NEW manifest exactly once (the contract was being paid ~3x:
    * files(v), files(v-1), then cdc's own reads). Manifests are
    * immutable once committed, so the memo can never go stale. Entries
    * are (file, dv) PAIRS: a MoR merge changes a file's effective
    * content by changing only its deletion vector, and a file-set-only
    * walk would deliver nothing for such a commit. */
  private var memo: Option[(Int, Seq[(String, Option[String])])] = None

  private def pairsOf(log: LogSnapshot,
      v: Int): Seq[(String, Option[String])] = memo match {
    case Some((mv, ps)) if mv == v => ps
    case _ =>
      val ps = log.at(v).pairs
      memo = Some((v, ps))
      ps
  }

  /** `Trigger.AvailableNow` fence — see [[GraftStreamSource.fence]]:
    * the run delivers commits up TO the prepare-time latest in paced
    * batches and terminates; 0 = prepared against an empty table. */
  private var fence: Option[Int] = None
  @volatile private var holdWarned = false

  override def prepareForTriggerAvailableNow(): Unit =
    fence = Some(table.snapshot().version)

  // the per-trigger budget is maxVersionsPerTrigger, a unit Spark's
  // ReadLimit vocabulary lacks — the source self-paces in latestOffset
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): V2Offset = LongOffset(0L)

  override def deserializeOffset(json: String): V2Offset =
    org.apache.spark.sql.execution.streaming.runtime.SerializedOffset(json)

  /** Admission-controlled walk (Spark calls this, not [[getOffset]]):
    * advance from the checkpointed `start` version toward the latest —
    * AvailableNow-fenced — at most maxVersionsPerTrigger commits per
    * trigger. start=0 means nothing delivered yet: snapshot mode
    * delivers the whole starting snapshot in its first batch, while a
    * startingVersion resume bounds even its first batch. */
  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    val log = table.snapshot()
    val latest = fence.fold(log.version)(math.min(_, log.version))
    if (latest <= 0) return null
    // Spark's v1 bridge passes null (not initialOffset()) before the
    // first batch — both spell "nothing delivered yet"
    val cur = if (start == null) 0 else start.json.trim.toInt
    if (cur > latest) return start // fenced below the checkpoint
    // startingVersion ahead of the log: advancing the checkpoint now
    // would mark the intermediate commits as delivered, and once the
    // log catches up changesIn(cur, ...) would hand the user versions
    // BELOW the one they asked to start at. Hold at no-progress until
    // the log reaches startingVersion — warned once, so a typo'd huge
    // startingVersion is a diagnosable stall, not a silent one
    if (cur == 0 && startingVersion.exists(_ > latest)) {
      if (!holdWarned) {
        holdWarned = true
        logWarning(s"change feed on $man holding at no-progress: " +
          s"startingVersion=${startingVersion.get} is ahead of the " +
          s"latest committed version ($latest); nothing will deliver " +
          "until the table log reaches it")
      }
      return null
    }
    val target = (cur, maxVersionsPerTrigger) match {
      case (0, Some(n)) if startingVersion.isDefined =>
        // resuming from a watermark: the first batch too is bounded
        math.min(latest, startingVersion.get - 1 + n)
      case (0, _) => latest // snapshot-mode first batch delivers whole;
                            // the committed-rows source rate-limits by
                            // FILES
      case (l, Some(n)) => math.min(latest, l + n)
      case (_, None) => latest
    }
    LongOffset(target.toLong)
  }

  override def getOffset: Option[V1Offset] =
    throw new UnsupportedOperationException(
      "GraftChangeFeedSource declares admission control — Spark drives " +
        "it through latestOffset(start, limit), never getOffset")

  /** Align a cdc/insert-shaped frame to the declared CDF schema (column
    * order + the version stamp). */
  private def shape(df: DataFrame, v: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    df.withColumn("_commit_version", lit(v.toLong))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Snapshot v's LIVE rows as `insert` ops (DVs applied, old_* NULL) —
    * the starting-snapshot delivery, and version 1's "diff". */
  private def snapshotInserts(log: LogSnapshot, v: Int): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    val at = log.at(v) // fails once vacuum expired it
    if (at.files.isEmpty) Nil
    else {
      val snap = table.readAsOf(at)
      val values = snap.columns.filterNot(_ == table.key).toSeq
      Seq(shape(snap.select(
        col(table.key) +:
          (values.map(c => lit(null).cast(snap.schema(c).dataType)
            .as(s"old_$c")) ++
            values.map(c => col(c).as(s"new_$c")) :+
            lit("insert").as("op")): _*), v))
    }
  }

  /** Per-commit row-level diffs of versions (vFrom, vEnd], walked so
    * each manifest reads once (the memo contract). */
  private def changesIn(log: LogSnapshot, vFrom: Int,
      vEnd: Int): Seq[DataFrame] = {
    log.at(vFrom) // fails once vacuum expired it
    var prev = pairsOf(log, vFrom)
    ((vFrom + 1) to vEnd).flatMap { v =>
      val snap = log.at(v)
      val cur = snap.pairs
      memo = Some((v, cur)) // warm for the next trigger's v0
      // a no-op commit (e.g. an empty streamed batch) changes no
      // entries — skipping it also keeps cdc away from its
      // empty-diff-of-an-empty-table loud path
      val out =
        if (table.dataChange(snap) && cur.toSet != prev.toSet)
          Some(shape(table.cdcOf(prev, snap, v - 1), v))
        else None // OPTIMIZE/no-op: nothing to deliver
      prev = cur
      out
    }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val vEnd = version(end)
    val log = table.snapshot()
    val pieces: Seq[DataFrame] = start match {
      case None => startingVersion match {
        case None => snapshotInserts(log, vEnd) // Delta's default: snapshot
                                           // as inserts, then tail
        case Some(v0s) if v0s > vEnd => Nil // ahead of the log: deliver
                                            // nothing until it catches up
        case Some(v0s) =>
          // resume from a known watermark: deliver commits v0s..vEnd as
          // row-level diffs, NOT the whole snapshot. v=1 has no
          // predecessor — its "diff" is snapshot 1 as inserts.
          log.at(v0s)
          if (v0s == 1) snapshotInserts(log, 1) ++ changesIn(log, 1, vEnd)
          else {
            if (!log.contains(v0s - 1))
              throw new IllegalStateException(
                s"startingVersion=$v0s of $man needs predecessor " +
                  s"v=${v0s - 1} to compute commit $v0s's row-level " +
                  "diff, but vacuum expired it — start at or above the " +
                  "retained horizon's successor, or omit startingVersion " +
                  "to begin from the current snapshot")
            changesIn(log, v0s - 1, vEnd)
          }
      }
      case Some(o) => changesIn(log, version(o), vEnd)
    }
    val batch = pieces.reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
    org.apache.spark.sql.GraftSqlBridge.asStreaming(spark, batch)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftChangeFeedSource[$man]"
}

/** The committed manifest AS a [[FileIndex]] — nothing is ever listed
  * from the filesystem: `inputFiles`, per-file sizes, and `sizeInBytes`
  * all answer from the manifest rows, and [[listFiles]] folds the
  * pushed-down data filters into box + bloom pruning through the same
  * [[SnapshotPruning]] core the `graft_snapshot` TVF uses. Planning is
  * O(#files) driver-resident, the module's standing contract. */
final class GraftManifestFileIndex(man: String, version: Int,
    entries: Seq[org.apache.spark.sql.Row], key: Option[String],
    statsCols: Seq[String], bloomCols: Seq[String])
  extends FileIndex {

  private val prunable: Set[String] = (key.toSeq ++ statsCols).toSet
  private val bloomable: Set[String] = bloomCols.toSet

  private def statusOf(r: org.apache.spark.sql.Row): FileStatus =
    new FileStatus(r.getAs[Long]("bytes"), false, 1, 128L << 20, 0L,
      new Path(r.getAs[String]("file")))

  override def rootPaths: Seq[Path] =
    entries.map(r => new Path(r.getAs[String]("file")).getParent)
      .distinct

  override def partitionSchema: StructType = new StructType()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = SnapshotPruning.keepTest(dataFilters, key, prunable, bloomable)
      .map(test => entries.filter(test)).getOrElse(entries)
    Seq(PartitionDirectory(InternalRow.empty, kept.map(statusOf).toArray))
  }

  override def inputFiles: Array[String] =
    entries.map(_.getAs[String]("file")).toArray

  override def refresh(): Unit = () // a committed manifest is immutable

  override def sizeInBytes: Long = entries.map(_.getAs[Long]("bytes")).sum

  override def toString: String =
    s"GraftManifestFileIndex($man v=$version files=${entries.size})"
}
