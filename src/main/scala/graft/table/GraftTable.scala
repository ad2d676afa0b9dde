package graft.table

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE table format behind the operator surface: q100
  * (file-skipping manifest), q105 (COW merge), q106 (stats-only
  * planning), q107 (MoR deletion vectors), q108 (time travel), q110
  * (merge + vacuum), q111 (incremental CDC), q112 (multi-column boxes)
  * and the streaming ManifestIngestSink are all commits and reads on a
  * versioned table of this class.
  *
  * Scale contract, shared by every operation here:
  *  - DATA work (scans, stats aggregation, survivor anti-joins,
  *    clustered rewrites) is distributed Spark over only the files a
  *    manifest names — never the whole table.
  *  - PLANNING work (manifest reads, box pruning, reference-set math,
  *    commit bookkeeping) is O(#files) and driver-resident by declared
  *    design, exactly like a Delta log replay. Compaction plans from
  *    the manifest's own per-file `bytes` — no file is ever stat-ed.
  *  - COMMITS are atomic: a manifest version is written to a `_tmp_*`
  *    staging dir and RENAMED into `v=N` in one filesystem op, so
  *    `v=N` existing means `v=N` is complete. Data and deletion-vector
  *    files are created at their final names in the data dir
  *    ([[GraftCommitProtocol]]) and never renamed, so that rename is
  *    the ONLY commit — a crash can leave only unreferenced data files
  *    / manifest staging dirs, both invisible to readers and reclaimed
  *    by [[vacuum]].
  *
  * STORAGE: every path is addressed through the Hadoop
  * [[org.apache.hadoop.fs.FileSystem]] API, resolved from the path's
  * own scheme — local `file:`, `hdfs:`, or the repo's `graft://`
  * caching scheme all work (TableFsSpec runs a table end-to-end
  * through the caching FS). The commit protocol additionally REQUIRES
  * a store with atomic, fail-if-destination-exists directory rename
  * (POSIX/HDFS). Object stores whose rename is copy+delete (raw S3)
  * need a putIfAbsent-style log store instead — the seam is
  * [[GraftTable.atomicPublish]], the single place the publish decision
  * lives, exactly like Delta's LogStore abstraction.
  *
  * SNAPSHOTS: a statement resolves the log ONCE. [[snapshot]] returns a
  * [[LogSnapshot]] (Delta's `DeltaLog.update()` → `Snapshot`) from at
  * most one listing of the committed versions: the version, its
  * manifest dir and — each read once, on first use — its entries,
  * files, (file, dv) pairs and recorded schema. Every read and commit
  * takes a [[SnapshotRef]] (that snapshot, or an Int version), and
  * retry loops re-snapshot per attempt; the atomic publish stays the
  * only arbiter, so a stale snapshot costs a retry, never a wrong
  * commit.
  *
  * A table is (data dir, manifest dir, cluster/skip key [, extra stats
  * columns][, bloom columns]). The manifest schema is `(file, lo, hi,
  * n_rows, bytes)` — per-file key boxes + row counts + sizes — plus
  * `(lo_c, hi_c)` for each declared `statsCols` column and a
  * `bloom_<c>` sketch (~5 KiB/file, point-lookup skipping on columns
  * the layout is NOT clustered by) for each declared `bloomCols`
  * column, recorded by EVERY commit path (append, OCC append, merge,
  * compaction, streaming ingest), so a streamed table can
  * multi-dimension and bloom prune the same as a batch one.
  * Commit timestamps are recorded IN the commit (a `_ts_<epochMs>`
  * marker riding the atomic rename), so TIMESTAMP AS OF survives
  * file-system surgery (copy/restore/rsync) that rewrites mtimes.
  */
final case class GraftTable(spark: SparkSession, data: String, man: String,
    key: String, statsCols: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil,
    bloomItems: Long = GraftTable.DefaultBloomItems,
    bloomFpp: Double = GraftTable.DefaultBloomFpp,
    logStore: String = "",
    checks: Seq[(String, String)] = Nil,
    dmlModes: Map[String, String] = Map.empty)
    extends org.apache.spark.internal.Logging {

  import GraftTable.{Actions, Rule, entryDvOf => entryDv, listStatusSafe, touch}

  @transient private lazy val hconf =
    spark.sessionState.newHadoopConf()
  @transient private[table] lazy val manFs: FileSystem =
    new Path(man).getFileSystem(hconf)
  @transient private lazy val dataFs: FileSystem =
    new Path(data).getFileSystem(hconf)

  /** The active commit/publish strategy (the LogStore seam). Explicitly
    * declared on the instance, else whatever `_table_props` recorded at
    * creation (so a reader holding only the manifest path resolves
    * pointer-committed tables correctly), else the rename default. */
  @transient private[table] lazy val store: GraftTable.LogStore =
    GraftTable.logStoreOf(
      if (logStore.nonEmpty) logStore
      else GraftTable.loadProps(spark, man).flatMap(_.logStore)
        .getOrElse(GraftTable.RenameLogStore.name))

  // ---- physical layout ---------------------------------------------

  /** Data files currently in the layout (names only — commit
    * bookkeeping, not planning; no data is read). */
  def partFiles: Set[String] =
    listStatusSafe(dataFs, new Path(data))
      .filter(_.getPath.getName.startsWith("part-"))
      .map(_.getPath.getName).toSet

  /** Per-file manifest entries for `files`, built by ONE distributed
    * partial-agg scan of exactly those files: key box (lo, hi), row
    * count, file size (from `_metadata.file_size` — free, no FS stat),
    * and a (lo_c, hi_c) box per declared stats column. The scan also
    * takes the null-key census: a NULL table key can never be matched
    * by a merge's anti join and min/max-based skipping would silently
    * drop its rows, so any NULL key is rejected loudly (same contract
    * [[commitMerge]] enforces on its batch). NULLs in NON-key stats
    * columns are legal — an all-NULL file records a NULL box there,
    * which pruning treats as "cannot skip on this dimension". No files
    * (an empty batch) yield [[emptyEntries]]. */
  def fileStats(files: Seq[String]): DataFrame = {
    if (files.isEmpty) return emptyEntries
    // FOOTER fast path (the Delta/Iceberg shape: stats come from write
    // metadata, never a re-read): every file here was just written by
    // Spark through GraftCommitProtocol, and its parquet footer
    // already carries exact per-column min/max/null-count/row-count —
    // the distributed stats scan re-reads every newly-written byte to
    // recompute what the writer already recorded. Driver-side footer
    // reads are O(#files) planning work, the same class as the
    // manifest read. Falls back to the scan whenever anything is
    // outside the provable-exact envelope: CHECK constraints and bloom
    // sketches need row-level evaluation; INT96 timestamps, decimals
    // and NaN float bounds have footer semantics the box codecs do not
    // share; absent/unset footer stats prove nothing. Scan/footer
    // parity (values, file strings, NULL boxes, census, the NULL-key
    // rejection) is locked by FooterStatsSpec.
    if (bloomCols.isEmpty &&
        spark.conf.get("spark.graft.stats.fromFooters", "true").toBoolean) {
      footerStats(files) match {
        case Some(out) =>
          // CHECK constraints still need one row-level pass, but it
          // prunes to the REFERENCED columns only (the footer decode
          // covers key/stats boxes + the NULL-key census) — at scale
          // the commit re-reads check-column bytes, not the key +
          // every stats column as the combined scan did
          validateChecksAgainst(files)
          return out
        case None => () // ineligible — fall through to the scan
      }
    }
    val df = spark.read.parquet(files: _*)
    val codecs = (key +: statsCols).map(c =>
      c -> GraftTable.codecFor(df.schema(c).dataType, c, forKey = c == key))
      .toMap
    bloomCols.foreach(c => GraftTable.requireBloomable(df, c))
    val extra = statsCols.flatMap(c => Seq(
      codecs(c).loAgg(c).as(s"lo_$c"), codecs(c).hiAgg(c).as(s"hi_$c"))) ++
      // per-file bloom sketch per declared bloom column: point-lookup
      // skipping on columns the layout is NOT clustered by (the q102
      // idea, recorded by EVERY commit path since they all stat through
      // here). Sized by the TABLE's declared (bloomItems, bloomFpp) —
      // ~9.6 bits per expected item at 1% fpp, so ~78 KiB/file/column
      // at the 65536-item default; see docs/TABLE.md for the
      // driver-memory x per-file-NDV sizing math
      bloomCols.map(c => graft.functions.BloomAgg
        .bloom_agg(col(c), bloomItems, bloomFpp).as(s"bloom_$c")) ++
      // per-file NULL census per stats column (the Iceberg nullCount
      // stat): `c IS NULL` skips files whose census is 0, and the
      // IsNotNull conjunct Catalyst pushes alongside every comparison
      // skips ALL-null files — exactly the files whose NULL min/max
      // box can rule nothing out. Write-time counts (a deletion vector
      // does not update them — the IS NOT NULL skip therefore applies
      // only to DV-free entries; see SnapshotPruning)
      statsCols.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    // CHECK constraints piggyback on this scan — the ONE distributed
    // pass every commit path already runs over its newly-written files
    // (append, OCC, COW/MoR merge, UPDATE/MERGE rewrites, streaming
    // ingest, CTAS) — as extra violation-count aggregates: near-zero
    // marginal cost, and a violation throws BEFORE the manifest commit,
    // so no version burns and the staged files are vacuum-reclaimable
    // orphans (the same contract as the NULL-key rejection below). A
    // column the batch lacks evaluates as NULL (parquet-by-name
    // widening semantics), and SQL CHECK semantics hold: only FALSE
    // violates — NULL satisfies.
    val liveChecks = activeChecks
    // staged files carry PHYSICAL names: checks declared against a
    // renamed logical name map through the column mapping (identity
    // for never-renamed tables)
    val chkMap = logicalToPhysical(Int.MaxValue)
    val checkAggs = liveChecks.zipWithIndex.map { case ((_, text), i) =>
      sum(when(coalesce(GraftTable.checkColumn(spark, text,
        df.columns.toSet, chkMap), lit(true)) === lit(false), 1L)
        .otherwise(0L)).as(s"__chk$i")
    }
    val aggs = (Seq(codecs(key).loAgg(key).as("lo"),
      codecs(key).hiAgg(key).as("hi"), count(lit(1)).as("n_rows"),
      max(col("_metadata.file_size")).as("bytes")) ++ extra :+
      count(col(key)).as("__nn")) ++ checkAggs
    val rows = df.groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*).collect() // O(#files) — planning
    val nNull = rows.map(r =>
      r.getAs[Long]("n_rows") - r.getAs[Long]("__nn")).sum
    require(nNull == 0,
      s"batch has $nNull NULL '$key' key(s) — the table key must be " +
        "non-null (NULL keys cannot be merge-matched and min/max " +
        "skipping would silently drop their rows)")
    liveChecks.zipWithIndex.foreach { case ((name, text), i) =>
      val bad = rows.map { r =>
        val idx = r.fieldIndex(s"__chk$i")
        if (r.isNullAt(idx)) 0L else r.getLong(idx)
      }.sum
      require(bad == 0,
        s"CHECK constraint '$name' ($text) violated by $bad row(s) in " +
          "the batch — nothing was committed (drop or fix the rows, or " +
          s"remove the constraint with ALTER TABLE ... UNSET " +
          s"TBLPROPERTIES ('check.$name'))")
    }
    import scala.jdk.CollectionConverters._
    // driver-side store normalization: exact aggregated bounds become
    // their stored form — identity for long boxes, the bounded-prefix
    // truncation for string boxes (conservative by construction)
    val stored = rows.map { r =>
      // drop the census + check-violation columns
      val vals = r.toSeq.dropRight(1 + liveChecks.length).toArray
      vals(1) = codecs(key).storeLo(vals(1))
      vals(2) = codecs(key).storeHi(vals(2))
      statsCols.zipWithIndex.foreach { case (c, i) =>
        vals(5 + 2 * i) = codecs(c).storeLo(vals(5 + 2 * i))
        vals(6 + 2 * i) = codecs(c).storeHi(vals(6 + 2 * i))
      }
      Row.fromSeq(vals.toIndexedSeq)
    }
    spark.createDataFrame(stored.toList.asJava, entriesSchema(codecs))
  }

  /** Row-level CHECK validation over exactly `files`, column-pruned to
    * the constraints' REFERENCED columns — the footer fast path's
    * companion pass (the combined stats scan evaluates checks inline;
    * with boxes/census from footers this is the only row-level work
    * left, and it reads check-column bytes instead of the key plus
    * every declared stats column). Same semantics as the scan path:
    * checks speak logical names mapped through the column mapping,
    * columns the batch lacks evaluate as NULL, SQL CHECK three-valued
    * logic holds (only FALSE violates), and a violation throws BEFORE
    * the manifest commit so no version burns. */
  private def validateChecksAgainst(files: Seq[String]): Unit = {
    val liveChecks = activeChecks
    if (liveChecks.isEmpty) return
    val df = spark.read.parquet(files: _*)
    val chkMap = logicalToPhysical(Int.MaxValue)
    val aggs = liveChecks.zipWithIndex.map { case ((_, text), i) =>
      sum(when(coalesce(GraftTable.checkColumn(spark, text,
        df.columns.toSet, chkMap), lit(true)) === lit(false), 1L)
        .otherwise(0L)).as(s"__chk$i")
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head
    liveChecks.zipWithIndex.foreach { case ((name, text), i) =>
      val idx = r.fieldIndex(s"__chk$i")
      val bad = if (r.isNullAt(idx)) 0L else r.getLong(idx)
      require(bad == 0,
        s"CHECK constraint '$name' ($text) violated by $bad row(s) in " +
          "the batch — nothing was committed (drop or fix the rows, or " +
          s"remove the constraint with ALTER TABLE ... UNSET " +
          s"TBLPROPERTIES ('check.$name'))")
    }
  }

  /** [[fileStats]] from parquet FOOTERS — per-file (box, row count,
    * size, null census) decoded from the chunk statistics Spark's own
    * writer recorded, merged across row groups on the driver. Returns
    * None (fall back to the scan) unless every needed column in every
    * file is provably exact: a supported primitive+annotation shape,
    * stats present with a set null count, and no NaN float/double
    * bound. Output is value-identical to the scan path — same file
    * strings (qualified, like `_metadata.file_path`), same box codecs,
    * same stored normalization, same NULL-key rejection. */
  private def footerStats(files: Seq[String]): Option[DataFrame] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.types._
    import scala.util.Try

    val need = (key +: statsCols).distinct
    val sts: Seq[FileStatus] = files.map { f =>
      val p = new Path(f)
      p.getFileSystem(hconf).getFileStatus(p)
    }

    def sparkTypeOf(p: org.apache.parquet.schema.PrimitiveType)
        : Option[DataType] = {
      import LogicalTypeAnnotation._
      p.getPrimitiveTypeName match {
        case INT64 => p.getLogicalTypeAnnotation match {
          case null => Some(LongType)
          case t: TimestampLogicalTypeAnnotation
            if t.getUnit == TimeUnit.MICROS && t.isAdjustedToUTC =>
            Some(TimestampType)
          // SIGNED required explicitly: Spark reads UINT32 as LongType /
          // UINT64 as DecimalType, so an unsigned annotation decoded as
          // the signed type would record wrong boxes on foreign-written
          // files — the provably-exact envelope must not rest on the
          // "all files are self-written" assumption alone
          case i: IntLogicalTypeAnnotation
            if i.getBitWidth == 64 && i.isSigned => Some(LongType)
          case _ => None
        }
        case INT32 => p.getLogicalTypeAnnotation match {
          case null => Some(IntegerType)
          case _: DateLogicalTypeAnnotation => Some(DateType)
          case i: IntLogicalTypeAnnotation
            if i.getBitWidth <= 32 && i.isSigned => Some(IntegerType)
          case _ => None
        }
        case BINARY => p.getLogicalTypeAnnotation match {
          case _: StringLogicalTypeAnnotation => Some(StringType)
          case _ => None
        }
        case DOUBLE => Some(DoubleType)
        case FLOAT => Some(FloatType)
        case _ => None // INT96 / FIXED (decimal) / BOOLEAN keys: scan
      }
    }
    // the agg-output value the scan path's loAgg/hiAgg would produce
    def decode(dt: DataType, v: AnyRef): Option[Any] = (dt, v) match {
      case (LongType, l: java.lang.Long) => Some(l)
      case (IntegerType, i: java.lang.Integer) =>
        Some(java.lang.Long.valueOf(i.longValue))
      case (TimestampType, l: java.lang.Long) => Some(l) // already micros
      case (DateType, i: java.lang.Integer) =>
        Some(java.lang.Long.valueOf(i.longValue))
      case (StringType, b: Binary) => Some(b.toStringUsingUTF8)
      case (DoubleType, d: java.lang.Double) =>
        if (d.isNaN) None else Some(d)
      case (FloatType, f: java.lang.Float) =>
        if (f.isNaN) None
        else Some(java.lang.Double.valueOf(f.doubleValue))
      case _ => None
    }
    def mergeMin(dt: DataType, a: Any, b: Any): Any = (a, b) match {
      case (null, x) => x
      case (x, null) => x
      case (x: java.lang.Long, y: java.lang.Long) =>
        if (x <= y) x else y
      case (x: java.lang.Double, y: java.lang.Double) =>
        if (java.lang.Double.compare(x, y) <= 0) x else y
      case (x: String, y: String) =>
        if (GraftTable.utf8Cmp(x, y) <= 0) x else y
      case _ => throw new IllegalStateException(s"merge $a $b")
    }
    def mergeMax(dt: DataType, a: Any, b: Any): Any = (a, b) match {
      case (null, x) => x
      case (x, null) => x
      case (x: java.lang.Long, y: java.lang.Long) =>
        if (x >= y) x else y
      case (x: java.lang.Double, y: java.lang.Double) =>
        if (java.lang.Double.compare(x, y) >= 0) x else y
      case (x: String, y: String) =>
        if (GraftTable.utf8Cmp(x, y) >= 0) x else y
      case _ => throw new IllegalStateException(s"merge $a $b")
    }

    // per-file footer decode, parallel (footers are independent I/O;
    // at scale this is the Iceberg manifest-building shape).
    // Outcome per file: Left(()) = ineligible (forces the scan for the
    // whole set); Right(None) = legal 0-row file (no entry — scan
    // parity: groupBy produces no group for it); Right(Some) = entry.
    case class FileAgg(file: String, bytes: Long, nRows: Long,
      lo: Map[String, Any], hi: Map[String, Any],
      nulls: Map[String, Long], types: Map[String, DataType])
    import scala.jdk.CollectionConverters._
    if (sts.isEmpty) return None
    def decodeFile(st: FileStatus): Either[Unit, Option[FileAgg]] =
      Try[Either[Unit, Option[FileAgg]]] {
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromStatus(st, hconf))
        try {
          val msg = reader.getFooter.getFileMetaData.getSchema
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val nRows = blocks.map(_.getRowCount).sum
          if (nRows == 0) Right(None)
          else if (need.exists(c => !msg.containsField(c) ||
              !msg.getType(msg.getFieldIndex(c)).isPrimitive)) Left(())
          else {
            val types = need.map(c =>
              c -> sparkTypeOf(msg.getType(msg.getFieldIndex(c))
                .asPrimitiveType())).toMap
            if (types.values.exists(_.isEmpty)) Left(())
            else {
              var lo = Map.empty[String, Any]
              var hi = Map.empty[String, Any]
              var nulls = need.map(_ -> 0L).toMap
              var ok = true
              blocks.foreach { b =>
                val byCol = b.getColumns.asScala
                  .map(cc => cc.getPath.toDotString -> cc).toMap
                need.foreach { c =>
                  if (ok) {
                    val stats = byCol.get(c).map(_.getStatistics).orNull
                    if (stats == null || stats.isEmpty ||
                        !stats.isNumNullsSet) ok = false
                    else {
                      nulls = nulls.updated(c, nulls(c) + stats.getNumNulls)
                      if (stats.hasNonNullValue) {
                        val dt = types(c).get
                        (decode(dt,
                            stats.genericGetMin.asInstanceOf[AnyRef]),
                          decode(dt,
                            stats.genericGetMax.asInstanceOf[AnyRef])) match {
                          case (Some(mn), Some(mx)) =>
                            lo = lo.updated(c,
                              mergeMin(dt, lo.getOrElse(c, null), mn))
                            hi = hi.updated(c,
                              mergeMax(dt, hi.getOrElse(c, null), mx))
                          case _ => ok = false // NaN bound etc.
                        }
                      }
                    }
                  }
                }
              }
              if (!ok) Left(())
              else Right(Some(FileAgg(st.getPath.toString, st.getLen,
                nRows, lo, hi, nulls,
                types.map { case (c, t) => c -> t.get })))
            }
          }
        } finally reader.close()
      }.getOrElse(Left(()))
    val decoded: Seq[Either[Unit, Option[FileAgg]]] =
      sts.toList.asJava.parallelStream()
        .map[Either[Unit, Option[FileAgg]]](st => decodeFile(st))
        .collect(java.util.stream.Collectors
          .toList[Either[Unit, Option[FileAgg]]]).asScala.toSeq
    if (decoded.exists(_.isLeft)) return None
    val aggs: Seq[FileAgg] = decoded.flatMap(_.toOption.get)
    if (aggs.isEmpty) return None // all files 0-row: let the scan
                                  // derive the typed empty shape
    // one codec set for the whole batch (files share the writer schema)
    if (aggs.exists(a => need.exists(c => a.types(c) != aggs.head.types(c))))
      return None // mixed writer schemas: let the scan reconcile/fail
    val codecs = need.map(c => c -> GraftTable.codecFor(
      aggs.head.types(c), c, forKey = c == key)).toMap
    val nNull = aggs.map(_.nulls(key)).sum
    require(nNull == 0,
      s"batch has $nNull NULL '$key' key(s) — the table key must be " +
        "non-null (NULL keys cannot be merge-matched and min/max " +
        "skipping would silently drop their rows)")
    val stored = aggs.map { a =>
      val vals: Seq[Any] =
        Seq(a.file,
          codecs(key).storeLo(a.lo.getOrElse(key, null)),
          codecs(key).storeHi(a.hi.getOrElse(key, null)),
          java.lang.Long.valueOf(a.nRows),
          java.lang.Long.valueOf(a.bytes)) ++
        statsCols.flatMap(c => Seq(
          codecs(c).storeLo(a.lo.getOrElse(c, null)),
          codecs(c).storeHi(a.hi.getOrElse(c, null)))) ++
        statsCols.map(c => java.lang.Long.valueOf(a.nulls(c)))
      Row.fromSeq(vals)
    }
    Some(spark.createDataFrame(stored.toList.asJava,
      entriesSchema(codecs)))
  }

  private def entriesSchema(codecs: Map[String, GraftTable.BoxCodec])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{BinaryType, LongType, StringType,
      StructField, StructType}
    StructType(
      Seq(StructField("file", StringType),
        StructField("lo", codecs(key).boxType),
        StructField("hi", codecs(key).boxType),
        StructField("n_rows", LongType), StructField("bytes", LongType)) ++
      statsCols.flatMap(c => Seq(StructField(s"lo_$c", codecs(c).boxType),
        StructField(s"hi_$c", codecs(c).boxType))) ++
      bloomCols.map(c => StructField(s"bloom_$c", BinaryType)) ++
      statsCols.map(c => StructField(s"nulls_$c", LongType)))
  }

  /** prev-manifest ∪ new-stats with box-type reconciliation: an EMPTY
    * side adopts the other's schema (a createEmpty() v=1 carries
    * default long boxes until the first batch declares the real key
    * type); non-empty sides whose box columns differ in type mean the
    * key type changed mid-table — fail loudly (a silent unionByName
    * would coerce long boxes to strings and corrupt skipping forever). */
  private[table] def unionEntries(prev0: DataFrame, stats0: DataFrame): DataFrame = {
    // OPTIONAL manifest columns — `dv` (the MoR deletion-vector
    // pointer: fresh stats never carry it, pre-MoR manifests don't
    // either) and the `nulls_<c>` census columns (absent from
    // manifests written before the stat existed): a side missing one
    // aligns with a NULL column rather than tripping the shape check.
    // A NULL census is conservatively unprunable, so old entries keep
    // reading exactly as before.
    val optional: Seq[(String, String)] =
      Seq("dv" -> "string") ++
        (prev0.columns ++ stats0.columns).distinct
          .filter(_.startsWith("nulls_")).map(_ -> "long")
    var prev = prev0
    var stats = stats0
    optional.foreach { case (c, t) =>
      if (prev.columns.contains(c) != stats.columns.contains(c)) {
        def fill(df: DataFrame): DataFrame =
          if (df.columns.contains(c)) df
          else df.withColumn(c, lit(null).cast(t))
        prev = fill(prev); stats = fill(stats)
      }
    }
    def shape(df: DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    if (shape(prev) == shape(stats)) {
      // DRIVER-side union: both sides are local relations by
      // construction (manifests read driver-side, stats built from
      // collected rows), so a Union plan here would only force the
      // commit's collect back into a Spark job (Union of local
      // relations does not fold). Name-aligned like unionByName.
      import scala.jdk.CollectionConverters._
      val aligned = stats.select(prev.columns.toIndexedSeq.map(col): _*)
      spark.createDataFrame(
        (prev.collect() ++ aligned.collect()).toList.asJava, prev.schema)
    }
    else if (prev.isEmpty) stats // local relations — driver-cheap checks
    else if (stats.isEmpty) prev
    else throw new IllegalStateException(
      s"manifest schema changed mid-table: committed entries are " +
        s"${prev.schema.simpleString}, the new batch computed " +
        s"${stats.schema.simpleString} — a table's key/stats box types " +
        "are fixed at creation")
  }

  // ---- commit protocol ---------------------------------------------

  /** The statement's view of the log, pinned at `v` (default: the
    * latest, from ONE listing of the committed versions; a named version
    * is proven by its own manifest read instead). The only place a
    * version is resolved — every read and commit below takes the
    * snapshot it is handed, or resolves its [[SnapshotRef]] here. A log
    * with no version yields an EMPTY snapshot (version 0) rather than a
    * failure, so existence probes need no second path. */
  def snapshot(v: Option[Int] = None): LogSnapshot = v match {
    case Some(named) => new LogSnapshot(this, None, named)
    case None =>
      val vs = store.committedVersions(manFs, new Path(man))
      new LogSnapshot(this, Some(vs), vs.lastOption.getOrElse(0))
  }

  private[table] def resolve(ref: SnapshotRef): LogSnapshot = ref match {
    case s: LogSnapshot => s
    case SnapshotRef.Version(v) => snapshot(Some(v))
  }

  /** `ref`'s own listing when it is a snapshot, else a fresh one. */
  private def listing(ref: SnapshotRef): LogSnapshot = ref match {
    case s: LogSnapshot => s
    case _ => snapshot()
  }

  def manifestPath(v: Int): String = snapshot(Some(v)).dir
  def isCommitted(v: Int): Boolean = snapshot().contains(v)
  def committedVersions: Seq[Int] = snapshot().versions

  /** Attempt to commit `entries` as manifest version `v`: write to a
    * staging dir, rename into place ([[GraftTable.atomicPublish]] — the
    * log-store seam; requires a rename-atomic filesystem). Returns
    * false (staging dropped) if another writer committed `v` first —
    * the rename is the ONE atomic op that decides the race. Three
    * underscore-hidden markers ride INSIDE the version dir, atomically
    * with the commit itself: `_ts_<epochMs>` (the commit timestamp
    * [[versionAsOfTime]] resolves — recorded in the commit, not as dir
    * mtime, so history survives a copy/restore that rewrites mtimes),
    * `_commit_<id>` (the publish witness atomicPublish verifies), and
    * optionally `_tag_<tag>` — provenance a caller can query with
    * [[versionWithTag]] (the ingest sink keys replay detection on the
    * batch tag, never on version arithmetic, so maintenance commits
    * like OPTIMIZE can interleave without shifting any batch onto an
    * already-committed version number). */
  def tryCommitManifest(entries: DataFrame, v: Int,
      tag: Option[String] = None, noData: Boolean = false,
      schemaDdl: Option[String] = None): Boolean = {
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(man, s"_tmp_v${v}_$attempt")
    // driver-side direct write (the Delta-log shape — committing a
    // manifest is O(#files) driver work, never a Spark job); entries
    // plans are local relations in the common paths, so the collect is
    // driver-only too. A column outside the manifest contract fails
    // here, before the staging dir exists.
    GraftTable.writeManifestRows(entries.collect().toIndexedSeq,
      entries.schema, tmp, hconf)
    require(touch(manFs, new Path(tmp, s"_ts_${System.currentTimeMillis()}")),
      "could not record commit timestamp")
    require(touch(manFs, new Path(tmp, s"_commit_$attempt")),
      "could not record commit witness")
    tag.foreach { t =>
      require(touch(manFs, new Path(tmp, s"_tag_$t")),
        s"could not record commit tag $t")
    }
    // Delta's dataChange=false: a content-identical layout commit
    // (OPTIMIZE) marks itself so change-feed consumers can skip its
    // re-added files instead of re-delivering repacked rows
    if (noData)
      require(touch(manFs, new Path(tmp, GraftTable.NoDataMarker)),
        "could not record the no-data (layout-only) marker")
    // the snapshot's DATA schema (DDL) rides the commit itself, so
    // readers plan with zero data-file footer reads (Delta records the
    // schema in the log for the same reason); absent for batches whose
    // coverage of older files is unknown — those fall back to footers
    schemaDdl.foreach { ddl =>
      val out = manFs.create(new Path(tmp, GraftTable.SchemaFile), true)
      try out.write(ddl.getBytes("UTF-8")) finally out.close()
    }
    val won = store.publish(manFs, new Path(man), v, tmp,
      witness = s"_commit_$attempt")
    if (!won) manFs.delete(tmp, true)
    won
  }

  /** Commit `entries` as version `v`, tolerating an equivalent-content
    * race: losing the rename to a concurrent REPLAY of the same batch
    * is fine (that snapshot is byte-equivalent by construction). The
    * equivalence is VERIFIED, not assumed: a winner with a different
    * entry count or a missing tag means two non-replay writers raced
    * on the same version — a contract violation that would silently
    * drop a batch, so it fails loudly. Use [[commitAppendOcc]] when
    * concurrent writers may commit DIFFERENT content. */
  def commitManifest(entries: DataFrame, v: Int,
      tag: Option[String] = None, schemaDdl: Option[String] = None): Unit = {
    commit(snapshot(Some(v - 1)), "commit", Rule.Replay)(_ =>
      Some(Actions(Some(entries), replaces = true,
        schemaDdl = schemaDdl, tag = tag)))
    ()
  }

  /** The one commit transaction (Delta's `OptimisticTransaction`):
    * `plan` the commit's actions on a base snapshot, publish them as the
    * next version, and after a lost race list the log again and judge
    * each winner, against the version before it, by the `rules` the
    * commit kind lists. A rule accepts a winner that already holds this
    * commit (its version is returned), lets the commit rebase past it,
    * or throws. A rebase runs `plan` again on the latest version, so a
    * kind re-plans as much as its plan computes from the base. A plan of
    * None commits nothing and returns its base's version. After
    * [[GraftTable.CommitRetries]] lost races in a row the commit gives
    * up. Returns the version that holds the commit. */
  private[table] def commit(start: LogSnapshot, what: String,
      rules: Rule*)(
      plan: LogSnapshot => Option[Actions]): Int = {
    var base = start
    var lost = 0
    while (lost <= GraftTable.CommitRetries) {
      val actions = plan(base) match {
        case Some(a) => a
        case None => return base.version
      }
      val v = base.version + 1
      val entries = nextManifest(base, actions)
      if (tryCommitManifest(entries, v, actions.tag, actions.noData,
          actions.schemaDdl))
        return v
      val latest = snapshot()
      // every version since base is a winner, judged against the one
      // before it; a publish that failed with no winner at v fails here
      val winners = (v to math.max(v, latest.version)).map(latest.at)
      (base +: winners).zip(winners).iterator
        .map { case (p, w) => judge(what, rules, actions, entries, p, w) }
        .collectFirst { case Some(held) => held } match {
        case Some(held) => return held
        case None => base = latest
      }
      lost += 1
    }
    throw new IllegalStateException(s"$what lost ${GraftTable.CommitRetries} " +
      "consecutive races; giving up")
  }

  /** The verdict of `rules` on `winner`, the version after `prev`, for a
    * commit that tried `entries` with `ours`: the version holding the
    * commit, None to rebase past the winner, or a throw. Each check is
    * O(#files) driver-side. */
  private def judge(what: String, rules: Seq[Rule],
      ours: Actions, entries: DataFrame, prev: LogSnapshot,
      winner: LogSnapshot): Option[Int] = {
    import Rule._
    val v = winner.version
    def conflict(why: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"$what lost the commit race for v=$v to a commit that may " +
          s"interact with it ($why); re-run against the latest snapshot")
    def tagged(t: String) = manFs.exists(new Path(winner.dir, s"_tag_$t"))
    // (dv, n_rows) by file: under MoR a winner can change a file's
    // EFFECTIVE content by swapping only its deletion vector
    def byFile(s: LogSnapshot) = s.rows.map(r =>
      r.getAs[String]("file") -> (entryDv(r), r.getAs[Long]("n_rows"))).toMap
    lazy val before = byFile(prev)
    lazy val after = byFile(winner)
    rules.iterator.map {
      case Replay =>
        ours.tag.foreach(t => require(tagged(t),
          s"lost the commit race for v=$v to a snapshot NOT carrying tag " +
            s"'$t' — concurrent non-replay writers on one version; use " +
            "commitAppendOcc for multi-writer tables"))
        // CONTENT equivalence, not just count: a replay of the same
        // batch references the exact same file set
        val winnerFiles = winner.files.sorted
        val ourFiles = entries.select("file").collect()
          .map(_.getString(0)).sorted.toSeq
        require(winnerFiles == ourFiles,
          s"lost the commit race for v=$v to a DIFFERENT snapshot " +
            s"(${winnerFiles.size} entries vs our ${ourFiles.size}; file " +
            "sets differ) — concurrent non-replay writers on one version; " +
            "use commitAppendOcc for multi-writer tables")
        Some(v)
      case Tagged => ours.tag.filter(tagged).map(_ => v)
      case ReadIntact(files) =>
        if (!files.forall(f => after.contains(f) && after.get(f) == before.get(f)))
          conflict("it rewrote, re-masked or dropped a file this commit read")
        None
      case SchemaIntact =>
        if (winner.schema.map(_.toDDL) != prev.schema.map(_.toDDL))
          conflict("it changed the recorded schema")
        None
      case EnvelopeClear(lo, hi) =>
        if (winner.rows.exists(r => !before.contains(r.getAs[String]("file")) &&
            GraftTable.boxIntersects(r, "lo", "hi", lo, hi)))
          conflict("it added rows inside this commit's key envelope")
        None
      case NoRebase(onLoss) =>
        onLoss()
        throw new java.util.ConcurrentModificationException(
          s"$what lost the commit race for v=$v; re-run against the " +
            "latest snapshot")
    }.collectFirst { case Some(held) => held }
  }

  /** The manifest `a` makes of `base`'s entries — driver-side, from
    * local relations. */
  private def nextManifest(base: LogSnapshot, a: Actions)
      : DataFrame =
    if (a.replaces) a.added.getOrElse(base.entries.limit(0))
    else {
      val kept = a.dv match {
        case Some((path, masked)) => remasked(base, path, masked)
        case None => excludeFiles(base.entries, a.removed)
      }
      a.added.fold(kept)(unionEntries(kept, _))
    }

  /** `b`'s entries with each file in `masked` re-pointed at the deletion
    * vector `dv`, its live `n_rows` less its newly masked rows; an entry
    * masked to zero live rows is dropped (its file becomes a
    * vacuum-reclaimable orphan once prior versions expire). */
  private def remasked(b: LogSnapshot, dv: String,
      masked: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val hasDv = b.entries.columns.contains("dv")
    val outSchema =
      if (hasDv) b.entries.schema
      else StructType(b.entries.schema.fields :+ StructField("dv", StringType))
    val idxN = outSchema.fieldIndex("n_rows")
    val idxDv = outSchema.fieldIndex("dv")
    val updated = b.rows.flatMap { r =>
      val vals = (if (hasDv) r.toSeq else r.toSeq :+ null).toArray
      masked.get(r.getAs[String]("file")) match {
        case Some(n) =>
          val live = r.getAs[Long]("n_rows") - n
          if (live <= 0L) None
          else {
            vals(idxN) = live
            vals(idxDv) = dv
            Some(Row.fromSeq(vals.toIndexedSeq))
          }
        case None => Some(Row.fromSeq(vals.toIndexedSeq))
      }
    }
    spark.createDataFrame(updated.toList.asJava, outSchema)
  }

  /** Whether version v's commit changed row content (Delta's
    * `dataChange`): false only for layout-only commits (OPTIMIZE) that
    * recorded the no-data marker. Pre-marker manifests read as true —
    * conservative for change-feed consumers (at worst a re-delivery,
    * never a missed row). */
  def dataChange(v: SnapshotRef): Boolean =
    !manFs.exists(new Path(resolve(v).dir, GraftTable.NoDataMarker))

  /** The committed version carrying `tag`, if any — O(#versions)
    * driver-side, like all manifest planning. */
  def versionWithTag(tag: String, s: LogSnapshot = snapshot()): Option[Int] =
    s.versions.find(v => manFs.exists(new Path(s.at(v).dir, s"_tag_$tag")))

  /** Whether `tag` was EVER committed — live versions plus the `_tags`
    * ledger that [[vacuum]] preserves when it expires a tagged version.
    * Replay detection must use this, not [[versionWithTag]]: vacuuming
    * a batch's version must not make its replay look uncommitted. */
  def tagCommitted(tag: String, s: LogSnapshot = snapshot()): Boolean =
    versionWithTag(tag, s).isDefined ||
      manFs.exists(new Path(s"$man/_tags", s"_tag_$tag"))

  /** All committed tags starting with `prefix` — live versions plus the
    * vacuum ledger. O(#versions) driver-side; the streaming sinks use
    * it to recover their appId's batch high-water mark and fail loudly
    * when a NEW checkpoint silently restarts batchIds at 0 against an
    * appId that already committed far past them. */
  def committedTags(prefix: String): Seq[String] = {
    val s = snapshot()
    val live = s.versions.flatMap { v =>
      listStatusSafe(manFs, new Path(s.at(v).dir))
        .map(_.getPath.getName).filter(_.startsWith("_tag_"))
    }
    val ledger = listStatusSafe(manFs, new Path(s"$man/_tags"))
      .map(_.getPath.getName).filter(_.startsWith("_tag_"))
    (live ++ ledger).map(_.stripPrefix("_tag_"))
      .distinct.filter(_.startsWith(prefix))
  }

  /** Snapshot v's manifest as a local relation ([[LogSnapshot.entries]]). */
  def manifest(v: SnapshotRef): DataFrame = resolve(v).entries

  // ---- snapshot operations -----------------------------------------

  /** (Re-)create the table: the initial layout, range-clustered on the
    * key (clustering keeps per-file boxes tight, the same reason q81
    * z-orders), + manifest v=1. Destructive by contract: the old
    * version history and data files are dropped — otherwise a stale
    * committed v=1 would win the atomic-commit race and reference
    * deleted files. */
  def create(df: DataFrame, nParts: Int): GraftTable =
    createOver(df.schema)(GraftTable.clustered(df, key, nParts)(
      GraftCommitProtocol.write(spark, _, data)))

  /** [[create]] over a caller-shaped initial layout: `writeLayout`
    * writes files of `schema` into the empty data dir through
    * [[GraftCommitProtocol.write]] and returns them, and v=1 commits
    * exactly those files — e.g. a z-ordered layout whose boxes are
    * tight in every declared stats column (q112). The manifest dir is
    * cleared before the data dir, so a create that dies mid-write
    * leaves no table, never a committed version naming deleted files. */
  private[graft] def createOver(
      schema: org.apache.spark.sql.types.StructType)(
      writeLayout: => Seq[String]): GraftTable = {
    requireStoreCapability()
    checks.foreach { case (n, e) =>
      GraftTable.validateCheck(spark, n, e, schema) }
    val manDir = new Path(man)
    if (manFs.exists(manDir)) manFs.delete(manDir, true)
    val dataDir = new Path(data)
    if (dataFs.exists(dataDir)) dataFs.delete(dataDir, true)
    val added = writeLayout
    manFs.mkdirs(manDir)
    writeProps()
    commitManifest(fileStats(added), 1, schemaDdl = Some(schema.toDDL))
    this
  }

  /** Create with an EMPTY v=1 (the streaming-ingest starting point).
    * Pass the data schema when known (a stream declares one): it types
    * the empty manifest's boxes by the real key type and lets readers
    * plan the still-empty table without any data file to infer from. */
  def createEmpty(schema: Option[org.apache.spark.sql.types.StructType] =
      None): GraftTable = {
    requireStoreCapability()
    require(checks.isEmpty || schema.isDefined,
      "CHECK constraints need the table schema to validate against — " +
        "declare columns in CREATE TABLE, or add the constraint after " +
        "the first write with ALTER TABLE ... SET TBLPROPERTIES " +
        "('check.<name>' = '<boolean expr>')")
    schema.foreach(sch => checks.foreach { case (n, e) =>
      GraftTable.validateCheck(spark, n, e, sch) })
    dataFs.mkdirs(new Path(data))
    // createEmpty is the IDEMPOTENT start (streaming-ingest replay,
    // racing creators): on an already-created table the props file is
    // authoritative — rewriting it from this handle's declaration would
    // CLOBBER every ALTER-recorded line (checks, DML modes, the rename
    // mapping), silently un-mapping a renamed table. Only the first
    // creator writes; create() stays destructive (it deletes the
    // manifest dir first, so its writeProps is always a fresh file).
    if (!manFs.exists(new Path(man, GraftTable.PropsFile))) writeProps()
    if (!snapshot().contains(1)) {
      val entries = schema match {
        case Some(sch) =>
          val codecs = (key +: statsCols).map(c =>
            c -> GraftTable.codecFor(sch(c).dataType, c, forKey = c == key))
            .toMap
          spark.createDataFrame(
            java.util.Collections.emptyList[Row](), entriesSchema(codecs))
        case None => emptyEntries
      }
      commitManifest(entries, 1, schemaDdl = schema.map(_.toDDL))
    }
    this
  }

  /** The data schema version v's commit recorded ([[LogSnapshot.schema]]). */
  def versionSchema(v: SnapshotRef): Option[org.apache.spark.sql.types.StructType] =
    resolve(v).schema

  /** The schema DDL a commit on top of `base` should record, given the
    * batch's schema: the base version's recorded fields plus any new
    * ones (append-time schema evolution widens, never rewrites). None
    * when the base recorded no schema AND still references files — the
    * union with unknown historical columns cannot be stated, so the
    * commit records nothing and readers keep the footer fallback. */
  private def evolvedSchemaDdl(base: LogSnapshot,
      batch: org.apache.spark.sql.types.StructType): Option[String] =
    base.schema match {
      case Some(prev) =>
        // field identity per the session resolver: a batch spelling an
        // existing column in a different case (caseSensitive=false) is
        // the SAME column — recording it again would poison every
        // later read with COLUMN_ALREADY_EXISTS
        val resolver = spark.sessionState.conf.resolver
        val fresh = batch.fields.filterNot(f =>
          prev.fieldNames.exists(resolver(_, f.name)))
        // append-time evolution shares ALTER ADD COLUMN's resurrection
        // guard: after a metadata-only DROP (or under a rename's frozen
        // physical name) a batch carrying the old name would otherwise
        // silently re-record it and serve the un-purged bytes
        requireNoPhysicalResurrection(base, fresh.map(_.name).toSeq,
          "append-evolve")
        Some(org.apache.spark.sql.types.StructType(
          prev.fields ++ fresh).toDDL)
      case None =>
        if (base.files.isEmpty) Some(batch.toDDL) else None
    }

  /** SHALLOW CLONE (Delta `CLONE`/Iceberg snapshot-ref): a NEW table
    * whose v=1 manifest references THIS table's snapshot-v data files —
    * zero data bytes copied, so branching a 100 TB corpus for an
    * experiment costs one manifest write. Manifest entries carry
    * absolute file paths, so the clone reads, prunes, time-travels and
    * CDCs through the ordinary machinery; its own appends/merges land
    * in ITS data dir while untouched entries keep pointing at the
    * source (COW branching).
    *
    * Deletion-safety, both directions:
    *  - the clone's [[vacuum]] can never delete source bytes
    *    STRUCTURALLY: vacuum's orphan scan lists only the clone's own
    *    data dir, and source files are never in it (the distinct-dirs
    *    requirement below is what makes that airtight);
    *  - the SOURCE's vacuum knows nothing of clones — vacuuming the
    *    source past still-referenced files breaks the clone. That
    *    cross-table retention is the CALLER's contract, exactly as
    *    Delta documents for shallow clones; the clone's `_table_props`
    *    records `source=<man>@v=<v>` so an operator can find the
    *    dependency before reclaiming.
    *
    * Destructive on the target (same overwrite contract as [[create]]). */
  def shallowClone(v: SnapshotRef, targetData: String, targetMan: String)
      : GraftTable = {
    val src = resolve(v)
    // compare FULLY QUALIFIED paths (scheme + authority + absolute):
    // an alias of the same directory — 'file:/x/man' vs '/x/man',
    // relative vs absolute — must not slip past the guard, because the
    // next statements recursively DELETE the target manifest dir
    def qualified(p: String): Path = {
      val path = new Path(p)
      path.getFileSystem(hconf).makeQualified(path)
    }
    require(qualified(targetMan) != qualified(man) &&
      qualified(targetData) != qualified(data),
      "a shallow clone needs its OWN manifest and data directories — " +
        "sharing either with the source would let one table's vacuum " +
        "reclaim files the other still references")
    // checks resolve LIVE from the source's props (ALTER-added ones
    // included), so the clone's own props carry the same constraints
    // the clone commits through the source's store, declared or not
    val clone = copy(data = targetData, man = targetMan,
      logStore = store.name, checks = activeChecks,
      dmlModes = GraftTable.loadProps(spark, man)
        .map(_.dmlModes).getOrElse(dmlModes))
    val cloneManDir = new Path(targetMan)
    if (clone.manFs.exists(cloneManDir)) clone.manFs.delete(cloneManDir, true)
    clone.manFs.mkdirs(cloneManDir)
    clone.dataFs.mkdirs(new Path(targetData))
    clone.writeProps(provenance = Some(s"source=$man@v=${src.version}"))
    // carry the source's column mapping RESOLVED AT v as v=1 events:
    // the clone's single-version lineage starts at the cloned snapshot,
    // so the composed logical->physical pairs apply to every clone
    // version (the clone's data files are the source's, under the same
    // frozen physical names)
    val mapped = logicalToPhysical(src.version).toSeq.sortBy(_._1)
    mapped.zipWithIndex.foreach { case ((l, p), i) =>
      clone.setPropLine(s"rename.1.$i", Some(s"$p:$l"))
    }
    if (mapped.nonEmpty ||
        GraftTable.loadProps(spark, man).exists(_.schemaDetached))
      clone.setPropLine("schema_detached", Some("true"))
    clone.commitManifest(src.entries, 1,
      schemaDdl = src.schema.map(_.toDDL))
    clone
  }

  /** The pointer store's entire safety rests on the manifest store
    * providing ATOMIC fail-if-destination-exists create — true on HDFS
    * (namenode-arbitrated), local files (File.createNewFile under the
    * checksum wrapper) and S3 WITH conditional PUT, but plain
    * check-then-act on stores without it, where two racing writers
    * could both believe they committed the same version (silent batch
    * loss). Rather than trusting silently, table CREATION on a scheme
    * not known to be safe fails LOUDLY; an operator who has verified
    * their store (e.g. S3 conditional writes enabled) declares it via
    * `spark.graft.logstore.pointer.allowSchemes=s3a` — turning a
    * silent correctness risk into an explicit config decision. Reads
    * and commits on an EXISTING table are not gated: the choice was
    * made, loudly, at creation. */
  private def requireStoreCapability(): Unit =
    if (store == GraftTable.PointerLogStore)
      GraftTable.requireAtomicCreate(spark, manFs,
        "the 'pointer' log store")

  /** Persist the table's declared shape (key + stats columns) next to
    * the version dirs, so a reader holding only the manifest path — the
    * `graft_snapshot` SQL surface — knows which data columns the
    * manifest boxes describe and can prune on them. Content is a pure
    * function of the table declaration, so concurrent (re)writes are
    * byte-identical; [[vacuum]] never touches it. */
  private def writeProps(provenance: Option[String] = None): Unit = {
    GraftTable.validateDmlModes(dmlModes)
    // resolve the store BEFORE creating the file: an undeclared store
    // reads `_table_props`, which must not be this half-written one
    val storeName = store.name
    manFs.mkdirs(new Path(man))
    val out = manFs.create(new Path(man, GraftTable.PropsFile), true)
    try out.write(
      (s"key=$key\nstats=${statsCols.mkString(",")}\n" +
        s"bloom=${bloomCols.mkString(",")}\ndata=$data\n" +
        s"bloom_items=$bloomItems\nbloom_fpp=$bloomFpp\n" +
        s"logstore=$storeName\n" +
        checks.map { case (n, e) => s"check.$n=$e\n" }.mkString +
        dmlModes.toSeq.sorted.map { case (s, m) => s"mode.$s=$m\n" }
          .mkString +
        // free-form provenance (e.g. a shallow clone's source ref);
        // loadProps ignores unknown keys, so this is operator-facing
        provenance.map(_ + "\n").getOrElse("")).getBytes("UTF-8"))
    finally out.close()
  }

  /** The CHECK constraints every write must satisfy, resolved LIVE from
    * `_table_props` on each call (one tiny driver-side file read per
    * commit) so an `ALTER TABLE ... SET TBLPROPERTIES('check.<name>',
    * <expr>)` applies to already-constructed instances immediately;
    * falls back to the instance declaration only while the props file
    * does not exist yet (never on a created table — [[create]]/
    * [[createEmpty]] write props before their first stats scan). */
  private def activeChecks: Seq[(String, String)] =
    GraftTable.loadProps(spark, man).map(_.checks).getOrElse(checks)

  /** Manifest-prunable box columns and bloom-probeable columns for an
    * entry shape — the ONE derivation COW delete, MoR delete and the
    * SQL DML planner share ([[GraftDml.pruneCols]] delegates here), so
    * a stats/bloom-column change can never desynchronize their
    * planning. */
  private[table] def pruneSets(entries: Array[Row])
      : (Set[String], Set[String]) = {
    if (entries.isEmpty) return (Set.empty, Set.empty)
    val manCols = entries.head.schema.fieldNames.toSet
    val prunable =
      ((if (manCols("lo") && manCols("hi")) Seq(key) else Nil) ++
        statsCols.filter(c => manCols(s"lo_$c") && manCols(s"hi_$c")))
        .toSet
    val bloomable = bloomCols.filter(c => manCols(s"bloom_$c")).toSet
    (prunable, bloomable)
  }

  /** The write mode a DML statement kind should use on THIS table:
    * an EXPLICITLY SET session conf (`spark.graft.<stmt>.mode`) wins —
    * the operator's per-session override — else the table's own
    * declared default (`mode.<stmt>` in `_table_props`, Delta's
    * enableDeletionVectors idea: a table whose key distribution makes
    * COW rewrites infeasible declares `mor` ONCE and every writer
    * honors it), else `cow`. Resolved live, like [[activeChecks]], so
    * an ALTER applies to running sessions immediately. A mode is a
    * performance hint, never a semantics change. */
  def dmlMode(stmt: String): String = {
    // a PRESENT props file is authoritative even when it lacks the key
    // (mirrors activeChecks): a held instance built with modes must not
    // resurrect one after ALTER TABLE ... UNSET TBLPROPERTIES removed
    // it — the in-memory map is only the pre-create fallback
    val m = spark.conf.getOption(s"spark.graft.$stmt.mode")
      .orElse(GraftTable.loadProps(spark, man)
        .map(_.dmlModes).getOrElse(dmlModes).get(stmt))
      .getOrElse("cow")
    require(m == "cow" || m == "mor",
      s"spark.graft.$stmt.mode / table prop 'mode.$stmt' must be cow " +
        s"or mor; got '$m'")
    m
  }

  /** Add/replace (`expr = Some`) or drop (`expr = None`) one CHECK
    * constraint line in `_table_props`, preserving every other line
    * verbatim (provenance included). Validation — parse, boolean type,
    * known columns, no violating EXISTING rows — is the caller's job
    * ([[GraftCatalog.alterTable]] / [[SnapshotSql]]). */
  private[table] def setCheckProp(name: String, expr: Option[String]): Unit =
    setPropLine(s"check.$name", expr)

  /** Add/replace (`mode.<stmt> = cow|mor`) or drop one declared DML
    * write-mode default — the ALTER TABLE face of [[dmlMode]]'s
    * per-table resolution tier. Values validated here; statements in
    * flight resolve the new mode on their next call (live props). */
  private[table] def setModeProp(stmt: String, mode: Option[String]): Unit = {
    GraftTable.validateDmlModes(Map(stmt -> mode.getOrElse("cow")))
    setPropLine(s"mode.$stmt", mode)
  }

  /** Replace (`value = Some`) or drop (`None`) one `<fullKey>=` line in
    * `_table_props`, preserving every other line verbatim (provenance
    * included). Semantic validation is the caller's job. */
  private def setPropLine(fullKey: String, value: Option[String]): Unit = {
    val p = new Path(man, GraftTable.PropsFile)
    require(manFs.exists(p),
      s"$man carries no _table_props — not a graft table")
    val txt = GraftTable.readText(manFs, p)
    val kept = txt.linesIterator
      .filterNot(_.startsWith(s"$fullKey=")).toSeq
    val out = manFs.create(p, true)
    try out.write((kept.mkString("\n") + "\n" +
      value.map(v => s"$fullKey=$v\n").getOrElse("")).getBytes("UTF-8"))
    finally out.close()
  }

  /** Typed-empty entry list with the default long boxes — only ever
    * unioned through [[unionEntries]], which lets a non-empty side's
    * schema win, so the placeholder type never leaks into a manifest
    * that has real entries. */
  private[table] def emptyEntries: DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      entriesSchema((key +: statsCols)
        .map(_ -> (GraftTable.IntegralCodec: GraftTable.BoxCodec)).toMap))

  /** Write the batch's clustered files straight into the data dir,
    * each at its final name ([[GraftCommitProtocol]]), and return
    * exactly the committed tasks' files — the added set comes from the
    * tasks' commit messages, never from a listing, so a concurrent
    * writer's files landing in the same dir cannot be misattributed.
    * The files are staged for the commit only in the sense that no
    * manifest names them yet: until one does, readers never see them
    * and [[vacuum]] treats them as orphans (after its grace). */
  private[table] def stagedAppend(batch: DataFrame, nParts: Int): Seq[String] =
    // files always store the frozen PHYSICAL names (column mapping)
    GraftTable.clustered(toPhysical(batch), key, nParts)(
      GraftCommitProtocol.write(spark, _, data))

  /** Output-file count for a COW rewrite whose inputs total
    * `impactedBytes` (the manifest's own per-file `bytes` — no file is
    * ever stat-ed): `max(nParts, ceil(bytes / targetFileBytes))`,
    * bounded by a sanity cap. The caller's `nParts` stays the FLOOR —
    * identical behavior at small scale — while a 100 TB envelope
    * rewrite fans out to ~targetFileBytes files instead of funneling
    * terabytes through a fixed handful of write tasks (the
    * one-reducer-per-output-file failure mode). `spark.graft.write
    * .targetFileBytes` tunes it; <= 0 disables sizing. */
  private[table] def sizedParts(nParts: Int, impactedBytes: Long): Int = {
    val target = spark.conf.get("spark.graft.write.targetFileBytes",
      GraftTable.DefaultTargetFileBytes.toString).toLong
    if (target <= 0L) nParts
    else math.max(nParts,
      math.min((impactedBytes + target - 1) / target, 20000L).toInt)
  }

  private[table] def entryBytes(rows: Array[Row]): Long =
    rows.map { r =>
      val i = r.fieldIndex("bytes")
      if (r.isNullAt(i)) 0L else r.getLong(i)
    }.sum

  /** Entries minus the named files. Both sides are O(#files)
    * driver-resident manifest planning by design, so this is a plain
    * driver-side set filter returning a LOCAL relation — an anti-JOIN
    * plan here (the pre-r21 spelling) forced every commit's entry
    * collect into a Spark job for zero distributed work. */
  private def excludeFiles(entries: DataFrame, files: Seq[String])
      : DataFrame =
    if (files.isEmpty) entries
    else {
      import scala.jdk.CollectionConverters._
      val gone = files.toSet
      val rows = entries.collect()
        .filterNot(r => gone(r.getAs[String]("file")))
      spark.createDataFrame(rows.toList.asJava, entries.schema)
    }

  /** Append-commit: new clustered data files + a new manifest version =
    * previous complete entry list + ONLY the new files' stats (existing
    * entries are never rescanned — rebuilding a 100 TB table's manifest
    * per batch would cost a full scan). Version `prevV` stays immutable.
    * NULL table keys are rejected by the stats scan (see [[fileStats]]);
    * a rejected batch's already-written files are unreferenced orphans
    * that [[vacuum]] reclaims. */
  def commitAppend(batch: DataFrame, prevV: SnapshotRef, nParts: Int = 2,
      tag: Option[String] = None): Unit = {
    val base = resolve(prevV)
    val stats = fileStats(stagedAppend(batch, nParts))
    commit(base, "append", Rule.Replay)(b =>
      Some(Actions(Some(stats),
        schemaDdl = evolvedSchemaDdl(b, batch.schema), tag = tag)))
    ()
  }

  /** Optimistic-concurrency append for MULTI-WRITER tables (the Delta
    * commit protocol): appends never conflict on data (each writer's
    * files are its own, exactly tracked by the staged write), so a
    * writer that loses the manifest rename race simply REBASES — reread
    * the new latest version, union its own stats again, try the next
    * version number. No batch can be silently dropped and no writer
    * blocks another; the one atomic rename per version is the entire
    * coordination. Returns the version carrying this commit — ours, or
    * a concurrent same-tag winner's; -1 only when the tag is known
    * solely from the vacuum ledger (its version already expired), so
    * callers using the value as a version number must treat -1 as
    * "committed, version unavailable". */
  def commitAppendOcc(batch: DataFrame, nParts: Int = 2,
      tag: Option[String] = None,
      start: Option[LogSnapshot] = None): Int = {
    val stats = fileStats(stagedAppend(batch, nParts))
    val base = start.getOrElse(snapshot())
    // a replay carrying OUR tag may already hold the batch — then ours
    // is redundant, and its staged files are vacuum-reclaimable orphans;
    // a winner of a lost race carrying the tag holds it the same way
    tag.foreach { t =>
      if (tagCommitted(t, base)) return versionWithTag(t, base).getOrElse(-1)
    }
    commit(base.requireTable(), "append commit", Rule.Tagged)(b =>
      Some(Actions(Some(stats),
        schemaDdl = evolvedSchemaDdl(b, batch.schema), tag = tag)))
  }

  /** Snapshot-isolated COW merge-commit: the manifest names the files
    * whose boxes intersect the batch's key envelope; ONLY those are
    * rewritten (survivors anti-joined + batch, re-clustered). Nothing
    * is deleted at commit — version `prevV` still references the old
    * files; `prevV+1` does not. [[vacuum]] reclaims later. The anti
    * join carries no hint: the batch is corpus-derived, AQE decides.
    *
    * Concurrency (the Delta conflict-checker rule): a merge that loses
    * the publish race REBASES MECHANICALLY when the winner's commit
    * provably cannot interact with it — every impacted file survived
    * into the winner's snapshot (the winner rewrote/dropped none of
    * what this merge replaces) and none of the winner's NEW files'
    * key boxes intersect this batch's envelope (no row the winner
    * added could have matched this merge). Anything else is a real
    * conflict: the snapshot moved underneath the merge and its rewrite
    * is stale — fail loudly, never silently drop the batch. So two
    * merges on DISJOINT key envelopes both commit; overlapping merges
    * still fail loudly. `tag` records replay provenance (the streaming
    * upsert sink keys exactly-once on it). */
  def commitMerge(batch: DataFrame, prevV: SnapshotRef, nParts: Int = 2,
      tag: Option[String] = None): Unit = {
    val prev = resolve(prevV)
    // one pass computes the key envelope AND the null-key census: a
    // NULL merge key can never be matched by the anti join, so such a
    // row would duplicate on every re-merge and sit outside its file's
    // box — reject any, not just the all-NULL case min/max would hide.
    // The envelope comes through the key's box codec (exact, not the
    // stored-truncated form — exact is sharper), so long and string
    // keys compare against manifest boxes in their own order.
    val codec = GraftTable.codecFor(batch.schema(key).dataType, key,
      forKey = true)
    val env = batch.agg(codec.loAgg(key), codec.hiAgg(key),
      count(lit(1)), count(col(key))).head
    val (total, nonNull) = (env.getLong(2), env.getLong(3))
    if (total == 0) { // empty batch: commit a carry-forward version
      commit(prev, "merge", Rule.NoRebase())(_ =>
        Some(Actions(tag = tag)))
      return
    }
    require(nonNull == total,
      s"merge batch has ${total - nonNull} NULL '$key' key(s) — " +
        "the merge key must be non-null")
    val (qlo, qhi) = (env.get(0), env.get(1))
    val prevEntries = prev.rows
    val impactedRows = prevEntries
      .filter(GraftTable.boxIntersects(_, "lo", "hi", qlo, qhi))
    val impacted = impactedRows.map(_.getAs[String]("file")).toSeq
    // survivors read through the MoR path (deletion vectors APPLIED):
    // after a commitMergeMor leaves live DVs on an impacted file, a raw
    // parquet read would resurrect the masked rows as live survivors —
    // the rewrite must start from the file's EFFECTIVE content
    // allowMissingColumns: the survivors carry the snapshot's RECORDED
    // schema, which a widening (ALTER ADD COLUMN / an earlier widening
    // append) may have grown past the batch's — the batch's missing
    // columns NULL-backfill, exactly the append path's evolution
    // semantics; symmetrically a WIDENING batch NULL-backfills the
    // survivors (evolvedSchemaDdl records the union either way)
    val replacement =
      (if (impacted.isEmpty) batch.limit(0)
       else readRows(prev, impactedRows)
         .join(batch.select(key).distinct(), Seq(key), "left_anti"))
        .unionByName(batch, allowMissingColumns = true)
    val stats = fileStats(stagedAppend(replacement,
      sizedParts(nParts, entryBytes(impactedRows))))
    commit(prev, "merge", Rule.ReadIntact(impacted),
        Rule.EnvelopeClear(qlo, qhi))(b =>
      Some(Actions(Some(stats), removed = impacted,
        schemaDdl = evolvedSchemaDdl(b, batch.schema), tag = tag)))
    ()
  }

  // ---- merge-on-read (deletion-vector) merge ------------------------

  private[graft] def entryPairs(v: SnapshotRef): Seq[(String, Option[String])] =
    resolve(v).pairs

  // ---- logical->physical column mapping (RENAME COLUMN) -------------

  /** The table's rename events (version, oldLogical, newLogical) in
    * replay order — `rename.<v>.<i>` lines in `_table_props`, written
    * by [[commitRenameColumn]]. Empty for every table that never
    * renamed (the universal fast path: one tiny driver-side props read,
    * zero per-row work). */
  private[graft] def renameEvents: Seq[(Int, String, String)] = {
    val raw = GraftTable.loadProps(spark, man).map(_.renames).getOrElse(Nil)
    if (raw.isEmpty) raw
    else {
      lazy val log = snapshot()
      raw.filter { case (v, old, nw) => renameEventCommitted(log, v, old, nw) }
    }
  }

  /** An event replays only once its version COMMITTED a schema
    * speaking the new name. The r21 ordering fix writes the event
    * BEFORE the atomic commit (so a crash can no longer leave a
    * committed renamed schema with no mapping — the silent-NULL window
    * of ADVICE r20 medium #2); the flip side is that a crash between
    * event and commit leaves a DANGLING event, which must stay inert —
    * in particular a later column legitimately created under the
    * failed target name must never map to the old bytes. Three cases:
    *  - version committed: valid iff its recorded schema speaks the
    *    new name AND no longer speaks the old one — the rename
    *    signature (a non-rename commit that claimed the number fails
    *    this even when it coincidentally ADDS a column under the
    *    failed target name: adds never remove the old column);
    *  - version BELOW the oldest committed one: vacuum expired it —
    *    trusted as valid (the pre-r21 behavior; a legit old rename
    *    must keep mapping after its version expires);
    *  - version above history (pending or crash residue): inert.
    * A true validation is immutable (committed schemas never change)
    * and cached; false re-validates, so a pending event turns live the
    * instant its commit publishes — EXCEPT when the version is
    * committed with a NON-rename schema: that too is immutable, and a
    * dangling event whose number was claimed by another commit is
    * dropped from the props DURABLY right here, because merely
    * treating it as inert leaves a poison pill — once vacuum expires
    * that version, the expired branch above would trust the event, and
    * a column later legitimately created under the failed target name
    * would silently map to the old physical bytes (ADVICE r21 medium). */
  @transient private lazy val renameEventOk =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String), java.lang.Boolean]()
  private def renameEventCommitted(log: => LogSnapshot, v: Int, old: String,
      nw: String): Boolean = {
    val key = (v, old, nw)
    if (renameEventOk.get(key) != null) true
    else {
      val resolver = spark.sessionState.conf.resolver
      if (log.contains(v)) {
        val ok = log.at(v).schema.exists { s =>
          s.fieldNames.exists(resolver(_, nw)) &&
            !s.fieldNames.exists(resolver(_, old))
        }
        if (ok) renameEventOk.put(key, java.lang.Boolean.TRUE)
        else dropRenameEvent(v, old, nw) // immutable non-rename commit:
                                         // expiry must never trust it
        ok
      }
      else log.versions.minOption.exists(v < _) // expired
    }
  }

  /** Durably remove a rename event proven invalid (its version
    * committed a non-rename schema — an immutable fact): rewrite
    * `_table_props` dropping every `rename.<v>.<i>=<old>:<new>` line
    * matching it, preserving all other lines verbatim. Idempotent. */
  private def dropRenameEvent(v: Int, old: String, nw: String): Unit = {
    val p = new Path(man, GraftTable.PropsFile)
    if (!manFs.exists(p)) return
    val txt = GraftTable.readText(manFs, p)
    val doomed = (line: String) =>
      line.startsWith(s"rename.$v.") && line.endsWith(s"=$old:$nw")
    if (!txt.linesIterator.exists(doomed)) return
    logWarning(s"dropping dangling rename event '$old:$nw' for v=$v of " +
      s"$man — the version committed a non-rename schema, so the event " +
      "is crash residue that must not outlive the version's expiry")
    val kept = txt.linesIterator.filterNot(doomed).toSeq
    val out = manFs.create(p, true)
    try out.write((kept.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Resolve snapshot v's LOGICAL column names to the FROZEN PHYSICAL
    * names data files store (Delta's column-mapping `name` mode):
    * replay the rename events committed at or below v — each event
    * moves its column's current logical name while the physical name
    * (the name at first write) never changes. Only renamed columns
    * appear in the map; everything else is identity. */
  private[graft] def logicalToPhysical(v: Int): Map[String, String] = {
    val evs = renameEvents.filter(_._1 <= v)
    if (evs.isEmpty) Map.empty
    else {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
      evs.foreach { case (_, old, nw) =>
        val phys = m.remove(old).getOrElse(old)
        if (nw != phys) { m(nw) = phys; () }
      }
      m.toMap
    }
  }

  /** `schema` (logical names) re-labelled with the physical names the
    * files store — what a parquet-by-name reader must be handed. */
  private def physicalSchemaOf(
      schema: org.apache.spark.sql.types.StructType,
      m: Map[String, String]): org.apache.spark.sql.types.StructType =
    if (m.isEmpty) schema
    else org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      f.copy(name = m.getOrElse(f.name, f.name))))

  /** A batch arriving in CURRENT logical names, re-labelled to the
    * frozen physical names before any file is written — the mapping's
    * write side: the layout NEVER goes heterogeneous, old and new files
    * alike store physical names. Identity (no projection at all) for
    * never-renamed tables. */
  private[table] def toPhysical(batch: DataFrame): DataFrame = {
    val m = logicalToPhysical(Int.MaxValue)
    if (m.isEmpty) batch
    else {
      val resolver = spark.sessionState.conf.resolver
      // a batch column spelling a renamed column's FROZEN physical name
      // must refuse at the door: staged as-is it would collide with the
      // mapped column (duplicate physical name) or silently resurrect
      // the old bytes on read
      batch.columns.foreach { c =>
        m.foreach { case (l, p) =>
          require(!resolver(p, c) || resolver(l, c),
            s"batch column '$c' collides with the frozen physical name " +
              s"of renamed column '$l' — parquet matches by name, so the " +
              "write would make reads resolve the wrong bytes; use the " +
              s"current logical name '$l' or a different column name")
        }
      }
      batch.select(batch.columns.toIndexedSeq.map { c =>
        val p = m.collectFirst { case (l, ph) if resolver(l, c) => ph }
          .getOrElse(c)
        col(c).as(p)
      }: _*)
    }
  }

  /** Live rows of the given (file, dv) entries read with `schema`:
    * DV-free files stream straight from the scan with no join work at
    * all; files carrying a deletion vector anti-join ONLY their
    * recorded positions on (file_path, row_index) — the Iceberg v2
    * position-delete read. The DV side is O(#masked rows); AQE
    * broadcasts it while small. `v` resolves the column mapping: files
    * are read under their frozen PHYSICAL names and aliased back to
    * snapshot v's logical names, so a RENAME COLUMN costs one
    * projection and zero byte movement. */
  private def morRead(pairs: Seq[(String, Option[String])],
      schema: Option[org.apache.spark.sql.types.StructType],
      v: Int): DataFrame = {
    val m = logicalToPhysical(v)
    val reader = schema.map(s => spark.read.schema(physicalSchemaOf(s, m)))
      .getOrElse(spark.read.option("mergeSchema", "true"))
    val (dirty, clean) = pairs.partition(_._2.isDefined)
    val cleanDf =
      if (clean.isEmpty) None else Some(reader.parquet(clean.map(_._1): _*))
    val dirtyDf =
      if (dirty.isEmpty) None
      else {
        val dvPaths = dirty.flatMap(_._2).distinct
        val dv = spark.read.schema(GraftTable.dvSchema).parquet(dvPaths: _*)
          .select(col("file").as("__file"), col("pos").as("__pos"))
        Some(reader.parquet(dirty.map(_._1): _*)
          .withColumn("__file", col("_metadata.file_path"))
          .withColumn("__pos", col("_metadata.row_index"))
          .join(dv, Seq("__file", "__pos"), "left_anti")
          .drop("__file", "__pos"))
      }
    val out = (cleanDf, dirtyDf) match {
      case (Some(c), Some(d)) => c.unionByName(d)
      case (c, d) => c.orElse(d).getOrElse(
        throw new IllegalStateException("morRead over zero entries"))
    }
    if (m.isEmpty) out
    else schema match {
      case Some(s) => out.select(s.fieldNames.toIndexedSeq.map(n =>
        col(m.getOrElse(n, n)).as(n)): _*)
      case None => m.foldLeft(out) { case (df, (l, p)) =>
        df.withColumnRenamed(p, l) }
    }
  }

  /** Live rows of `rows`, entries of snapshot `s`, under s's schema. */
  private def readRows(s: LogSnapshot, rows: Array[Row]): DataFrame =
    morRead(rows.map(r => (r.getAs[String]("file"), entryDv(r))).toSeq,
      s.schema, s.version)

  /** [[readAsOf]] restricted to a pruned subset of snapshot v's files,
    * with each file's deletion vector still applied — what a policy
    * layer that planned its own file list (the streaming upsert sink's
    * envelope-pruned current-state read) must use on a table that may
    * carry DVs: a raw `spark.read.parquet` would resurrect masked
    * rows. */
  def readAsOf(v: SnapshotRef, only: Seq[String]): DataFrame = {
    val s = resolve(v)
    val want = only.toSet
    morRead(s.pairs.filter(p => want(p._1)), s.schema, s.version)
  }

  /** MERGE-ON-READ upsert commit — the write-amplification complement
    * of [[commitMerge]]'s COW: instead of REWRITING every file whose
    * key box intersects the batch envelope, the superseded rows are
    * masked by a deletion vector and the batch appends as new files.
    * Per-batch WRITE cost is O(batch + masked positions) — at 100 TB
    * with uniformly distributed upsert keys, the difference between a
    * feasible continuous upsert and an O(table)-per-batch one. The
    * price is read-side: masked files anti-join their DV until
    * [[commitCompaction]] folds the vectors back in (OPTIMIZE reads
    * DV-carrying files through the MoR scan and re-packs them clean).
    *
    * Mechanics, all riding the ordinary commit protocol:
    *  - ONE column-pruned distributed scan of the impacted files
    *    (key + parquet metadata only — no value bytes) semi-joins the
    *    batch's keys into (file, row_index) masked positions;
    *  - positions union with the impacted files' EXISTING DVs
    *    (re-merging a hot envelope accumulates one combined vector per
    *    commit — a reader applies exactly one DV per file);
    *  - the combined vector lands as one `dv-<uuid>.parquet` in the
    *    data dir; impacted entries point at it, their `n_rows`
    *    maintained as LIVE counts (manifest stats stay truthful for
    *    history()/planning); an entry masked to zero live rows is
    *    DROPPED (its file becomes a vacuum-reclaimable orphan once
    *    prior versions expire);
    *  - the batch itself appends as clustered files with fresh stats.
    *
    * Content equivalence with the COW path is exact: live(v+1) =
    * (old − batch.keys) ∪ batch, proven hash-equal in MorMergeSpec.
    * Concurrency: a lost publish race rebases MECHANICALLY when the
    * winner provably cannot interact — every file this commit masks
    * kept an identical (dv, n_rows) pair, the recorded schema is
    * unchanged, and none of the winner's NEW files' key boxes
    * intersect this batch's envelope (see [[commitMorMasked]]);
    * anything else — in particular a winner that rewrote or re-masked
    * a file whose positions this DV masks (positions are only stable
    * while the file is) — still fails loudly. */
  def commitMergeMor(batch: DataFrame, prevV: SnapshotRef, nParts: Int = 2,
      tag: Option[String] = None): Unit = {
    val prev = resolve(prevV)
    val codec = GraftTable.codecFor(batch.schema(key).dataType, key,
      forKey = true)
    val env = batch.agg(codec.loAgg(key), codec.hiAgg(key),
      count(lit(1)), count(col(key))).head
    val (total, nonNull) = (env.getLong(2), env.getLong(3))
    if (total == 0) { // empty batch: commit a carry-forward version
      commit(prev, "MoR merge", Rule.NoRebase())(_ =>
        Some(Actions(tag = tag)))
      return
    }
    require(nonNull == total,
      s"merge batch has ${total - nonNull} NULL '$key' key(s) — " +
        "the merge key must be non-null")
    val (qlo, qhi) = (env.get(0), env.get(1))
    val impactedRows = prev.rows
      .filter(GraftTable.boxIntersects(_, "lo", "hi", qlo, qhi))
    val impacted = impactedRows.map(_.getAs[String]("file")).toSeq
    // physical-name schema for the raw file scan (the key itself can
    // never be renamed, so col(key) below resolves either way)
    val reader = prev.schema.map(s => spark.read.schema(
        physicalSchemaOf(s, logicalToPhysical(prev.version))))
      .getOrElse(spark.read.option("mergeSchema", "true"))

    // masked positions: key column + parquet metadata only — the scan
    // is column-pruned, so even a wide table pays key-bytes, not rows.
    // PERSISTED: the commit tail evaluates it up to three times (the
    // per-file new-mask counts, the combined-vector counts, and the DV
    // write) — without the cache each evaluation is a whole-envelope
    // key scan
    val maskedNew =
      if (impacted.isEmpty) None
      else Some(reader.parquet(impacted: _*)
        .select(col(key),
          col("_metadata.file_path").as("file"),
          col("_metadata.row_index").as("pos"))
        .join(batch.select(key).distinct(), Seq(key), "left_semi")
        .select("file", "pos").persist())
    try {
      // the batch's new clustered files (stats recorded like any append)
      val stats = fileStats(stagedAppend(batch, nParts))
      commitMorMasked(prev, impactedRows, maskedNew, stats, tag,
        evolvedSchemaDdl(prev, batch.schema), envGuard = Some((qlo, qhi)))
    } finally { maskedNew.foreach(_.unpersist()); () }
  }

  /** The MERGE-ON-READ commit tail shared by [[commitMergeMor]],
    * [[commitUpdateMor]] and [[commitDeleteMor]]: union the commit's
    * new masked positions with the NEWLY-MASKED files' EXISTING
    * deletion vectors into ONE combined `dv-<uuid>.parquet`, re-point
    * those entries at it with live `n_rows` maintained (an entry
    * masked to zero live rows is dropped — its file becomes a
    * vacuum-reclaimable orphan once prior versions expire), union the
    * commit's appended entries `stats` (empty for a pure DELETE) and
    * publish prevV+1. An impacted file that gained NO new masked
    * positions this commit keeps its existing `dv` pointer untouched —
    * its accumulated debt is NOT re-folded, so a chain of N scattered
    * MoR deletes over one hot envelope writes O(new churn + re-masked
    * files' debt) per commit instead of re-copying the envelope's
    * whole accumulated debt every time (quadratic in N). Vectors
    * shared across manifest versions stay live: [[vacuum]]
    * reference-counts DV files by name over every retained version,
    * and the MoR read tolerates a stale superseded position set for a
    * re-pointed file inside an older shared vector (the file's own
    * newer vector is a superset, and anti-joins are idempotent).
    * `maskedNew` MAY contain already-masked positions — the union
    * dedups and the live arithmetic (n_rows − (combined − old)) stays
    * exact. With no masked positions at all this degrades to a pure
    * append commit (no dv column introduced) under the replay rule.
    *
    * Lost-race rules (the Delta conflict-checker rule specialized to DV
    * commits): every file this commit re-points or drops kept an
    * IDENTICAL (dv, n_rows) pair in the winner — so our masked
    * positions and live arithmetic stay exact against its entries — and
    * the recorded schema is unchanged. With `envGuard` (the MoR upsert)
    * the winner also added no file inside the batch's key envelope, or
    * a winner-appended row could carry a key this merge should have
    * superseded. DELETE/UPDATE pass no guard: a winner's concurrent
    * append commits rows the predicate never saw — the
    * write-serializable relaxation Delta documents (the DML serializes
    * BEFORE the append it raced). Untouched entries are carried from
    * the WINNER verbatim, so its changes to files outside this commit's
    * mask set compose. */
  private def commitMorMasked(prev: LogSnapshot,
      impactedRows: Array[Row], maskedNew: Option[DataFrame],
      stats: DataFrame, tag: Option[String], schemaDdl: Option[String],
      oldDvPre: Option[DataFrame] = None,
      envGuard: Option[(Any, Any)] = None,
      newCntPre: Option[Map[String, Long]] = None): Unit = {
    import spark.implicits._
    // write the combined vector `dvAll` (one DV placement per commit,
    // one NAME either way, so vacuum's reference counting covers it —
    // fanned out past the row cutoff, see writeDvFile) and publish:
    // `allCnt` counts its positions per file, `oldCnt` those already
    // masked before this commit
    def publish(dvAll: Option[DataFrame], allCnt: Map[String, Long],
        oldCnt: Map[String, Long]): Unit = {
      val dv = if (allCnt.isEmpty) None else Some(
        writeDvFile(dvAll.get, allCnt.values.sum) ->
          allCnt.map { case (f, n) => f -> (n - oldCnt.getOrElse(f, 0L)) })
      val rules =
        if (allCnt.isEmpty) Seq(Rule.Replay)
        else Seq(Rule.ReadIntact(allCnt.keySet), Rule.SchemaIntact) ++
          envGuard.map { case (lo, hi) => Rule.EnvelopeClear(lo, hi) }
      commit(prev, "MoR DML commit", rules: _*)(_ => Some(Actions(
        Some(stats), dv = dv, schemaDdl = schemaDdl, tag = tag)))
      ()
    }
    def countsByFile(df: DataFrame): Map[String, Long] =
      df.groupBy("file").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getAs[String]("file") -> r.getAs[Long]("n")).toMap
    // no refold file carries an existing DV: the combined vector is the
    // deduped new mask, and old counts are provably zero
    def publishDeduped(): Unit = {
      val dvAll = maskedNew.get.distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try publish(Some(dvAll), countsByFile(dvAll), Map.empty)
      finally { dvAll.unpersist(blocking = false); () }
    }
    // FAST PATH: when no impacted entry carries an existing DV (every
    // first mask over an envelope — the common case), ONE aggregation
    // yields the per-file counts
    val anyOldDv = impactedRows.exists(r => entryDv(r).isDefined)
    if (!anyOldDv && maskedNew.isDefined) {
      // the DML callers' mask comes from ONE scan of the impacted files,
      // so its (file, pos) pairs are already unique: it IS the combined
      // vector and their per-file counts are its counts — no dedup pass
      if (newCntPre.isDefined) publish(maskedNew, newCntPre.get, Map.empty)
      else publishDeduped()
      return
    }
    // per-file NEW masked counts FIRST — they decide which entries
    // re-point at this commit's combined vector; everything else is
    // carried verbatim. O(#impacted files) driver-side planning. The
    // DML callers already aggregated them for their matched-count
    // planning, so they arrive precomputed (`newCntPre`) — zero jobs
    // here on those paths.
    val newCnt: Map[String, Long] = newCntPre.getOrElse(
      maskedNew.map(countsByFile).getOrElse(Map.empty))
    if (newCnt.isEmpty) {
      // no masked positions (or no impacted files): a pure append
      // commit — no DV written, no dv column introduced
      publish(None, Map.empty, Map.empty)
      return
    }
    val refold = newCnt.keySet
    val refoldRows =
      impactedRows.filter(r => refold(r.getAs[String]("file")))
    // an entry's old positions come from ITS OWN dv only ([[ownDvRows]]):
    // a stale superseded position set for the same data file inside an
    // OLDER combined dv (file A re-masked into dv2 while file B still
    // points at dv1 holding A's old rows too) must count neither here
    // nor in the union — double-counting old positions would inflate
    // `live` and corrupt every n_rows consumer (stats-only counts,
    // history, OPTIMIZE debt math). A caller that already computed the
    // set for its live anti-join passes it via `oldDvPre` (and owns
    // its lifecycle) so each dv parquet is scanned once per commit;
    // that set spans ALL impacted files, so it is narrowed to the
    // refold files here. When computed locally, ONLY the refold
    // entries' own DV parquets are read at all.
    val ownedDv: Option[DataFrame] =
      if (oldDvPre.isDefined) None
      else GraftTable.ownDvRows(spark, refoldRows).map(_.persist())
    val oldDv: Option[DataFrame] = oldDvPre match {
      case Some(o) =>
        Some(o.join(broadcast(refold.toSeq.toDF("file")),
          Seq("file"), "left_semi"))
      case None => ownedDv
    }
    try {
      oldDv match {
        // the impacted set carries DVs, but none on the refold files
        case None => publishDeduped()
        case Some(o) =>
          // ONE tagged pass replaces the pre-r22 three evaluations
          // (combined counts, old counts, and the dv write re-running
          // the union): rows tag their origin, dedup at (file, pos)
          // keeps whether an OLD position is present, and a single
          // per-file aggregation yields combined AND old counts — the
          // persisted dedup result IS the combined vector the commit
          // writes, so nothing is evaluated twice.
          val tagged = maskedNew.get
            .select(col("file"), col("pos"), lit(false).as("__old"))
            .unionByName(o.select(col("file"), col("pos"),
              lit(true).as("__old")))
          val merged = tagged.groupBy("file", "pos")
            .agg(max(when(col("__old"), 1L).otherwise(0L)).as("__old"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val cnts = merged.groupBy("file")
              .agg(count(lit(1)).as("all"), sum("__old").as("old"))
              .collect()
            val allCnt: Map[String, Long] = cnts
              .map(r => r.getAs[String]("file") -> r.getAs[Long]("all")).toMap
            val oldCnt: Map[String, Long] = cnts.flatMap { r =>
              val n = r.getAs[Long]("old")
              if (n == 0L) None else Some(r.getAs[String]("file") -> n)
            }.toMap
            publish(Some(merged.select("file", "pos")), allCnt, oldCnt)
          } finally { merged.unpersist(blocking = false); () }
      }
    } finally { ownedDv.foreach(_.unpersist()); () }
  }

  /** MERGE-ON-READ DELETE (`spark.graft.delete.mode=mor` — the DV
    * complement of [[commitDelete]], same pruning, same three-valued
    * semantics, content-equivalent by construction): the predicate's
    * matched LIVE rows are masked by a deletion vector instead of
    * rewriting the envelope's survivors. Write cost is O(matched
    * positions + one manifest) and ZERO data-file bytes — on a 100 TB
    * table a scattered-key predicate delete (uniform ids, a PII purge
    * list) stays feasible where the COW rewrite would be O(envelope) =
    * O(table). Read price identical to MoR merge: masked files
    * anti-join their DV until OPTIMIZE folds the vectors back in.
    * Rows where the predicate is NULL are NOT deleted; already-masked
    * rows neither inflate the count nor re-mask; a no-match delete
    * burns no version. Returns rows deleted. */
  def commitDeleteMor(pruneFilters: Seq[org.apache.spark.sql.sources.Filter],
      pred: Column, prevV: SnapshotRef, tag: Option[String] = None): Long = {
    val prev = resolve(prevV)
    val prevEntries = prev.rows
    if (prevEntries.isEmpty) return 0L
    val (prunable, bloomable) = pruneSets(prevEntries)
    val impactedRows = SnapshotPruning
      .keepTestV1(pruneFilters, Some(key), prunable, bloomable)
      .map(test => prevEntries.filter(test)).getOrElse(prevEntries)
    if (impactedRows.isEmpty) return 0L
    val impacted = impactedRows.map(_.getAs[String]("file")).toSeq
    // each impacted entry's OWN vector, computed once: the anti-join
    // side here (an entry's current dv is a superset of any stale
    // older copy, so own-only masks exactly the dead rows) AND the
    // commit tail's old-count source
    val oldDv = GraftTable.ownDvRows(spark, impactedRows).map(_.persist())
    // matched LIVE positions: the scan is pruned to the predicate's
    // columns + parquet metadata (no other value bytes); rows an
    // existing DV already masks anti-join away so the returned count
    // is live-exact and the no-op test cannot be fooled
    val matchedRaw = dmlScan(prev, impacted)
      .filter(pred)
      .select(col("__file").as("file"), col("__pos").as("pos"))
    val maskedNew = oldDv.fold(matchedRaw)(o =>
      matchedRaw.join(o.select("file", "pos"),
        Seq("file", "pos"), "left_anti")).persist()
    try {
      // ONE per-file aggregation yields the deleted count AND the
      // commit tail's refold planning map (was a count() here plus the
      // same aggregation again inside commitMorMasked)
      val newCnt: Map[String, Long] = maskedNew
        .groupBy("file").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getAs[String]("file") -> r.getAs[Long]("n")).toMap
      val nDel = newCnt.values.sum
      if (nDel == 0L) return 0L // conservative planning kept files
                                // whose rows all miss: no burned version
      // guardrail (spark.graft.mor.maxMaskFraction): a predicate that
      // dooms MOST of its envelope's live rows is the regime masking is
      // WRONG for — the DV write approaches O(envelope rows) anyway and
      // every read until OPTIMIZE pays the anti-join for nothing, so the
      // statement falls back to the COW survivor rewrite. A performance
      // hint, never a semantics change (same contract as the
      // non-canonical-MERGE fallback).
      val liveRows = math.max(1L,
        impactedRows.map(_.getAs[Long]("n_rows")).sum)
      val maxFrac = morMaxMaskFraction()
      if (nDel.toDouble / liveRows > maxFrac) {
        logWarning(s"MoR DELETE on $man matches $nDel of $liveRows live " +
          s"envelope rows (> maxMaskFraction=$maxFrac); falling back to " +
          "the COW rewrite")
        return commitDelete(pruneFilters, pred, prev, 2, tag)
      }
      commitMorMasked(prev, impactedRows, Some(maskedNew),
        emptyEntries, tag,
        schemaDdl = prev.schema.map(_.toDDL), oldDvPre = oldDv,
        newCntPre = Some(newCnt))
      nDel
    } finally { maskedNew.unpersist(); oldDv.foreach(_.unpersist()); () }
  }

  /** Snapshot v's impacted-file scan for the MoR DML paths: files read
    * under their frozen PHYSICAL names with (__file, __pos) captured
    * straight off the scan (metadata columns survive no projection),
    * then aliased to v's LOGICAL names so caller predicates and
    * assignments resolve post-rename. Identity for never-renamed
    * tables. */
  private def dmlScan(v: LogSnapshot, files: Seq[String]): DataFrame = {
    val schema = v.schema
    val m = logicalToPhysical(v.version)
    val reader = schema.map(s => spark.read.schema(physicalSchemaOf(s, m)))
      .getOrElse(spark.read.option("mergeSchema", "true"))
    val raw = reader.parquet(files: _*)
      .withColumn("__file", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))
    if (m.isEmpty) raw
    else schema match {
      case Some(s) => raw.select(s.fieldNames.toIndexedSeq.map(n =>
        col(m.getOrElse(n, n)).as(n)) ++ Seq(col("__file"), col("__pos")): _*)
      case None => m.foldLeft(raw) { case (df, (l, p)) =>
        df.withColumnRenamed(p, l) }
    }
  }

  /** MERGE-ON-READ UPDATE (`spark.graft.update.mode=mor` — the DV
    * complement of the SQL UPDATE's COW envelope rewrite): matched
    * LIVE rows are masked by a deletion vector and re-appended with
    * the assignments applied — write cost O(matched rows), not
    * O(envelope), the feasibility difference for a scattered-key
    * UPDATE on a 100 TB table. `impactedOnly` is the caller's planned
    * envelope (None = every file); `sets` are the rebound assignment
    * Columns by target column name. Three-valued logic holds (a NULL
    * predicate row is untouched); CHECK constraints enforce on the
    * re-appended rows exactly as on any append. Returns rows updated;
    * zero matches burn no version. */
  def commitUpdateMor(cond: Column, sets: Map[String, Column],
      prevV: SnapshotRef, impactedOnly: Option[Seq[String]] = None,
      tag: Option[String] = None): Long = {
    val prev = resolve(prevV)
    val prevEntries = prev.rows
    if (prevEntries.isEmpty) return 0L
    requireKnownSetColumns(sets, prev)
    val impactedRows = impactedOnly match {
      case Some(files) =>
        val want = files.toSet
        prevEntries.filter(r => want(r.getAs[String]("file")))
      case None => prevEntries
    }
    if (impactedRows.isEmpty) return 0L
    val impacted = impactedRows.map(_.getAs[String]("file")).toSeq
    // each impacted entry's OWN vector, computed once — the live
    // anti-join side here and the commit tail's old-count source
    val oldDv = GraftTable.ownDvRows(spark, impactedRows).map(_.persist())
    val raw = dmlScan(prev, impacted)
    val live = oldDv.fold(raw)(o =>
      raw.join(o.select(col("file").as("__file"), col("pos").as("__pos")),
        Seq("__file", "__pos"), "left_anti"))
    val matched = live.filter(cond).persist()
    try {
      // ONE per-file aggregation materializes the cache, yields the
      // updated count AND the commit tail's refold planning map (was a
      // count() plus the same aggregation again inside commitMorMasked)
      val newCnt: Map[String, Long] = matched
        .groupBy(col("__file")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getAs[String]("__file") -> r.getAs[Long]("n")).toMap
      val nUpd = newCnt.values.sum
      if (nUpd == 0L) return 0L
      // guardrail (spark.graft.mor.maxMaskFraction): an UPDATE matching
      // most of its envelope re-appends nearly the envelope anyway, so
      // the DV mask only adds read debt — fall back to the COW rewrite.
      // A performance hint, never a semantics change.
      val liveRows = math.max(1L,
        impactedRows.map(_.getAs[Long]("n_rows")).sum)
      val maxFrac = morMaxMaskFraction()
      if (nUpd.toDouble / liveRows > maxFrac) {
        logWarning(s"MoR UPDATE on $man matches $nUpd of $liveRows live " +
          s"envelope rows (> maxMaskFraction=$maxFrac); falling back to " +
          "the COW rewrite")
        return commitUpdateCow(cond, sets, prev, impactedOnly, tag)
      }
      val maskedNew = matched.select(col("__file").as("file"),
        col("__pos").as("pos"))
      val dataCols = matched.columns
        .filterNot(c => c == "__file" || c == "__pos").toIndexedSeq
      val updated = matched.select(dataCols.map { c =>
        sets.get(c) match {
          case Some(v) => v.cast(matched.schema(c).dataType).as(c)
          case None => col(c)
        }
      }: _*)
      // appended bytes ≈ the matched fraction of the envelope's bytes
      // (double arithmetic: bytes × rows would overflow Long exactly at
      // the 100 TB envelopes this path exists for)
      val totalRows = math.max(1L, impactedRows.map(
        _.getAs[Long]("n_rows")).sum)
      val estBytes =
        (entryBytes(impactedRows).toDouble * nUpd / totalRows).toLong
      val stats = fileStats(stagedAppend(updated, sizedParts(1, estBytes)))
      commitMorMasked(prev, impactedRows, Some(maskedNew),
        stats, tag,
        schemaDdl = prev.schema.map(_.toDDL), oldDvPre = oldDv,
        newCntPre = Some(newCnt))
      nUpd
    } finally { matched.unpersist(); oldDv.foreach(_.unpersist()); () }
  }

  /** COW UPDATE — the envelope rewrite [[commitUpdateMor]]'s guardrail
    * falls back to and the SQL UPDATE's default mode: the impacted
    * files (caller-planned envelope; None = every file) are read
    * MoR-aware, each assignment applied under the predicate (rows
    * where the predicate is NULL keep their values — SQL three-valued
    * logic), survivors re-clustered into envelope-sized outputs, and
    * the whole envelope replaced snapshot-isolated. Returns rows
    * updated; zero matches burn no version. A lost commit race rebases
    * mechanically when the winner left every impacted file untouched
    * ([[commitCowRewrite]]); anything else fails loudly. */
  def commitUpdateCow(cond: Column, sets: Map[String, Column],
      prevV: SnapshotRef, impactedOnly: Option[Seq[String]] = None,
      tag: Option[String] = None): Long = {
    val prev = resolve(prevV)
    val prevEntries = prev.rows
    if (prevEntries.isEmpty) return 0L
    requireKnownSetColumns(sets, prev)
    val impactedRows = impactedOnly match {
      case Some(files) =>
        val want = files.toSet
        prevEntries.filter(r => want(r.getAs[String]("file")))
      case None => prevEntries
    }
    if (impactedRows.isEmpty) return 0L
    val impacted = impactedRows.map(_.getAs[String]("file")).toSeq
    val df = readAsOf(prev, impacted)
    val nUpd = df.filter(cond).count()
    if (nUpd == 0L) return 0L // conservative planning kept files with
                              // no matching rows: no burned version
    val updated = df.select(df.columns.toIndexedSeq.map { c =>
      sets.get(c) match {
        case Some(v) =>
          when(cond, v.cast(df.schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    // rewrite width sized from the envelope's manifest bytes (floor 2):
    // a 100 TB keyed UPDATE fans its survivor rewrite out to
    // ~target-file-size outputs instead of two giant write tasks
    commitCowRewrite(prev, impactedRows, fileStats(stagedAppend(updated,
      sizedParts(2, entryBytes(impactedRows)))), tag, prev.schema.map(_.toDDL))
    nUpd
  }

  /** Loud validation shared by BOTH public UPDATE entry points (COW and
    * MoR): a misspelled assignment key must fail, never silently no-op
    * (the MoR path would even report the matched rows as updated while
    * re-appending them byte-identical). */
  private def requireKnownSetColumns(sets: Map[String, Column],
      prev: LogSnapshot): Unit =
    prev.schema.foreach { sch =>
      val unknown = sets.keySet -- sch.fieldNames.toSet
      require(unknown.isEmpty,
        s"UPDATE assigns to column(s) not in the table schema: " +
          s"${unknown.toSeq.sorted.mkString(", ")} (schema: " +
          s"${sch.fieldNames.mkString(", ")})")
    }

  /** Publish a COW envelope rewrite — `impactedRows`' files dropped,
    * `stats`' fresh survivor files added. Its lost-race rules (the
    * [[commitMerge]]/[[commitMorMasked]] Delta-conflict-checker rule
    * applied to predicate DML): every impacted file kept an IDENTICAL
    * (dv, n_rows) pair in the winner — so the staged survivors are
    * still exact against its snapshot — and the recorded schema is
    * unchanged. No envelope guard: a winner's concurrent append commits
    * rows the predicate never saw — the write-serializable relaxation
    * Delta documents (the DML serializes BEFORE the append it raced;
    * same contract as the MoR DELETE/UPDATE). Untouched entries are
    * carried from the WINNER verbatim, so its changes outside this
    * envelope compose. */
  private def commitCowRewrite(prev: LogSnapshot, impactedRows: Array[Row],
      stats: DataFrame, tag: Option[String],
      schemaDdl: Option[String]): Unit = {
    val impacted = impactedRows.map(_.getAs[String]("file")).toSeq
    commit(prev, "COW DML commit", Rule.ReadIntact(impacted),
        Rule.SchemaIntact)(_ =>
      Some(Actions(Some(stats), removed = impacted,
        schemaDdl = schemaDdl, tag = tag)))
    ()
  }

  /** `spark.graft.mor.maxMaskFraction` (default 0.8): the matched-live
    * fraction of the impacted envelope ABOVE which a MoR DELETE/UPDATE
    * falls back to the COW rewrite — Delta's deletion-vector cutoff
    * idea. Values > 1 disable the fallback entirely. */
  private def morMaxMaskFraction(): Double = {
    val raw = spark.conf.get("spark.graft.mor.maxMaskFraction", "0.8")
    val f = try raw.toDouble catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"spark.graft.mor.maxMaskFraction must be a number; got '$raw'")
    }
    require(f >= 0.0,
      s"spark.graft.mor.maxMaskFraction must be >= 0; got $f")
    f
  }

  /** Write `dv` (file, pos) as ONE parquet placement `dv-<uuid>
    * .parquet` in the data dir, created at that final name
    * ([[GraftCommitProtocol]]); until a manifest points at it, it is an
    * orphan for vacuum like any uncommitted data file. Under
    * `spark.graft.dv.maxRowsPerFile` rows (default 32M ≈ low-hundreds
    * of MB of positions, the scattered-churn common case) the vector is
    * a single parquet FILE written by one task; above it the write fans
    * out to ceil(rows/max) tasks, each creating its part file under a
    * DIRECTORY of that one name — readers (`spark.read.parquet`) and
    * [[GraftTable.ownDvRows]] accept both shapes, and the
    * one-NAME-per-commit invariant that vacuum's reference counting and
    * the manifest's single `dv` pointer rely on holds either way, while
    * a giant mask no longer funnels through a single write task. */
  private def writeDvFile(dv: DataFrame, totalRows: Long): String = {
    val name = s"dv-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
    val rawMax = spark.conf
      .get("spark.graft.dv.maxRowsPerFile", (32L << 20).toString)
    val maxRows = try rawMax.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"spark.graft.dv.maxRowsPerFile must be an integer; got '$rawMax'")
    }
    require(maxRows > 0,
      s"spark.graft.dv.maxRowsPerFile must be positive; got $maxRows")
    val nParts = math.min(10000L,
      math.max(1L, (totalRows + maxRows - 1) / maxRows)).toInt
    val dst = new Path(data, name)
    if (nParts <= 1)
      GraftCommitProtocol.write(spark, dv.coalesce(1), data, Some(name))
    else {
      val parts = GraftCommitProtocol
        .write(spark, dv.repartition(nParts), dst.toString)
        .map(new Path(_).getName).toSet
      // every file under the one name is read as the vector, so a
      // failed attempt's part that abortTask could not delete must go
      listStatusSafe(dataFs, dst).filterNot(st => parts(st.getPath.getName))
        .foreach(st => dataFs.delete(st.getPath, true))
    }
    dst.toString
  }

  /** Whether snapshot v carries any live deletion vector. */
  def hasLiveDvs(v: SnapshotRef): Boolean = resolve(v).hasLiveDvs

  /** OPTIMIZE: bin-pack the snapshot's small files into ~targetBytes
    * files as a NEW snapshot version. Content-identical to `prevV` —
    * a pure layout change, so readers see the same rows — and
    * snapshot-isolated like every commit: old versions keep
    * time-traveling to the small files until [[vacuum]] reclaims them.
    * Planning (file sizes from the manifest's own `bytes` column — no
    * file is stat-ed, metadata only, works on any store) is driver-side
    * O(#files); the rewrite reads ONLY the small files —
    * already-compact files are carried over as untouched entries, so a
    * steady-state 100 TB table re-packs just its ingest tail. Returns
    * the number of files compacted away. */
  def commitCompaction(prevV: SnapshotRef, targetBytes: Long): Int =
    compact(prevV, targetBytes)._1

  /** [[commitCompaction]], also returning the latest version after it:
    * the commit's own, or the planned one when nothing needed packing. */
  private[table] def compact(prevV: SnapshotRef, targetBytes: Long)
      : (Int, Int) = {
    // plans against the latest version (prevV's at least)
    val log = listing(prevV).requireTable()
    var packed = 0
    // no lost-race rule: a winner changed the file population, so the
    // pack set is recomputed on its snapshot — compaction is never
    // "accepted" by someone else's snapshot (it doesn't hold the pack)
    val v = commit(log.at(math.max(prevV.version, log.versions.max)),
        "compaction") { base =>
      val entries = base.rows
      // the pack set: sub-target files, PLUS any file carrying a
      // deletion vector — OPTIMIZE is also how MoR merges fold their
      // DVs back into clean files (the packed rewrite reads through
      // the MoR scan, so masked rows vanish and the new entries carry
      // no dv)
      // spark.graft.optimize.minDvFraction (default 0 = fold ALL
      // DV-carrying files, the historical contract): at 100 TB,
      // rewriting a full-size file to reclaim one masked row is the
      // wrong trade — a positive threshold folds only files whose
      // masked/(live+masked) debt reaches it (sub-target files still
      // pack by size and fold whatever they carry). Debt counts read
      // each entry's own DV parquet — O(churn) metadata, never a data
      // file. Sub-threshold vectors SURVIVE the commit by design;
      // graft_files shows the remaining debt.
      val minFrac = spark.conf
        .get("spark.graft.optimize.minDvFraction", "0").toDouble
      require(minFrac >= 0.0 && minFrac <= 1.0,
        "spark.graft.optimize.minDvFraction must be in [0, 1]; got " +
          minFrac)
      val debts: Map[String, Long] =
        if (minFrac <= 0.0) Map.empty
        else GraftTable.ownDvRows(spark, entries)
          .map(_.groupBy("file").agg(count(lit(1)).as("n")).collect()
            .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap)
          .getOrElse(Map.empty)
      def foldWorthy(r: Row): Boolean = entryDv(r).isDefined &&
        (minFrac <= 0.0 || {
          val masked = debts.getOrElse(r.getAs[String]("file"), 0L)
          val live = r.getAs[Long]("n_rows")
          masked > 0L &&
            masked.toDouble / (live + masked).toDouble >= minFrac
        })
      val pack = entries.filter(r =>
        r.getAs[Long]("bytes") < targetBytes || foldWorthy(r))
      val anyDv = pack.exists(entryDv(_).isDefined)
      packed = if (pack.length <= 1 && !anyDv) 0 else pack.length
      // already compact and DV-free: no commit, no burned version, no
      // no-op batch for change-feed consumers. A lost attempt's packed
      // output becomes vacuum-reclaimable orphans.
      if (packed == 0) None
      else {
        val totalBytes = pack.map(_.getAs[Long]("bytes")).sum
        val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
        Some(Actions(
          Some(fileStats(stagedAppend(readRows(base, pack), nOut))),
          removed = pack.map(_.getAs[String]("file")).toSeq,
          // LIVE-content-identical: dataChange=false (masked rows were
          // already dead)
          noData = true, schemaDdl = base.schema.map(_.toDDL)))
      }
    }
    (packed, v)
  }

  /** RESTORE (Delta's `RESTORE TABLE ... VERSION AS OF`): make the
    * table's content snapshot `toV`'s again by committing a NEW version
    * that references toV's exact file list — no data byte is copied or
    * rewritten, so undoing a bad merge on a 100 TB table costs one
    * manifest write. History is preserved (the undone versions stay
    * time-travelable until [[vacuum]] expires them), and the change
    * feed sees the restore as ordinary COW churn (deletes for undone
    * inserts, updates reverting values — the symmetric-difference math
    * needs no special case), so downstream consumers converge. The
    * restored snapshot's recorded schema rides along: a restore past a
    * widening append narrows the schema back, exactly like Delta.
    * Returns the version now carrying the content: a new commit, or
    * the CURRENT latest unchanged when its file set already equals
    * toV's (no burned version, no empty change-feed batch). Fails
    * loudly when a referenced file no longer exists (vacuumed past the
    * restore point) — a restore must never commit an unreadable
    * snapshot. Single-writer like all maintenance: losing the publish
    * race fails loudly instead of clobbering a concurrent batch. */
  def commitRestore(toV: SnapshotRef): Int = {
    val target = resolve(toV)
    val latest = target.versions.max
    // a restore may not cross a RENAME COLUMN boundary: the restored
    // commit would re-record the PRE-rename schema at a version ABOVE
    // the rename event, and the replayed mapping could then resolve a
    // restored name onto the wrong physical column (the old name may
    // have been legally reused once its bytes were purged) — silent
    // wrong data, so refuse loudly with the recovery spelled out
    val crossed =
      renameEvents.filter(e => e._1 > target.version && e._1 <= latest)
    require(crossed.isEmpty,
      s"RESTORE to v=${target.version} would cross RENAME COLUMN commit(s) " +
        crossed.map { case (v, o, n) => s"v=$v: $o -> $n" }
          .mkString("[", "; ", "]") +
        s" — the restored snapshot's schema predates the column " +
        "mapping; rename the column(s) back first (the mapping then " +
        "resolves both ways), or read the old snapshot via time travel")
    val targetFiles = target.files
    val current = target.at(latest)
    // no-op only when BOTH content and recorded schema already match:
    // an empty widening append changes the schema without touching the
    // file set, and the restore contract says the target's schema rides
    // along (narrows back) — so a schema difference must still commit
    if (current.files.toSet == targetFiles.toSet &&
        current.schema == target.schema) return latest
    // O(#files) existence probes — driver-side planning, the same cost
    // class as a manifest read. Entries may point outside this table's
    // data dir (a shallow clone's source), so each path resolves its
    // own FileSystem rather than assuming dataFs.
    val missing = targetFiles.filterNot { p =>
      val path = new Path(p)
      path.getFileSystem(hconf).exists(path)
    }
    require(missing.isEmpty,
      s"cannot restore $man to v=${target.version}: ${missing.size} referenced data " +
        "file(s) no longer exist (vacuumed past the restore point); " +
        s"e.g. ${missing.take(3).mkString(", ")}")
    commitManifest(target.entries, latest + 1,
      schemaDdl = target.schema.map(_.toDDL))
    latest + 1
  }

  /** COW DELETE by key range (`DELETE WHERE key BETWEEN lo AND hi` —
    * the Delta/Iceberg copy-on-write delete, completing the DML
    * triangle with [[commitAppend]] and [[commitMerge]]): the manifest
    * names the files whose key boxes intersect [qlo, qhi]; ONLY those
    * are read — once to count the doomed rows, once to rewrite
    * survivors — so at 100 TB a targeted delete costs the key
    * envelope's files, never a table scan. Bounds are given in BOX
    * representation, exactly like [[prune]]: Long for
    * integral/timestamp/date keys (raw value / epoch micros / epoch
    * days), String for string keys; the row predicate maps the key
    * through the same codec the boxes were aggregated with, so the
    * rewrite and the planning can never disagree on membership.
    * Returns the number of rows deleted; when the range holds none
    * (box intersection is conservative) NO version is burned — the
    * count scan is the only cost. For scattered non-range deletes use
    * the MoR deletion vectors ([[commitDeleteMor]]) instead.
    * Snapshot-isolated; a lost commit race rebases mechanically when
    * the winner left every impacted file untouched
    * ([[commitCowRewrite]]), anything else fails loudly — never a
    * dropped delete. */
  def commitDeleteRange(qlo: Any, qhi: Any, prevV: SnapshotRef, nParts: Int = 2,
      tag: Option[String] = None): Long = {
    val prev = resolve(prevV)
    val prevEntries = prev.rows
    val impactedRows = prevEntries
      .filter(GraftTable.boxIntersects(_, "lo", "hi", qlo, qhi))
    val impacted = impactedRows.map(_.getAs[String]("file")).toSeq
    if (impacted.isEmpty) return 0L
    // the MoR read, not a raw parquet scan: an impacted file carrying a
    // live deletion vector must not resurrect its masked rows into the
    // survivor rewrite, and already-dead rows must not inflate nDel
    val df = readRows(prev, impactedRows)
    val codec = GraftTable.codecFor(df.schema(key).dataType, key,
      forKey = true)
    val doomed = codec.toBox(col(key)).between(lit(qlo), lit(qhi))
    val nDel = df.filter(doomed).count()
    if (nDel == 0L) return 0L // conservative boxes kept files whose
                              // rows all miss the range: no-op, no
                              // burned version, no rewrite
    commitCowRewrite(prev, impactedRows, fileStats(stagedAppend(
      df.filter(!doomed), sizedParts(nParts, entryBytes(impactedRows)))),
      tag, prev.schema.map(_.toDDL))
    nDel
  }

  /** General-predicate COW DELETE (`DELETE FROM t WHERE <any pushable
    * predicate>` — the SQL-surface generalization of
    * [[commitDeleteRange]]'s key-range form): the predicate arrives as
    * the v1 [[org.apache.spark.sql.sources.Filter]] conjunction Spark's
    * DELETE planning pushes ([[GraftV2Table]] routes `DELETE FROM
    * <name>` here), and the SAME filters drive both sides of the
    * operation — manifest pruning (box intersection on the key and
    * declared stats columns, bloom probes on declared bloom columns,
    * composed through AND/OR via [[SnapshotPruning.keepTestV1]]) plans
    * the impacted file set, and the filters' Column translation is the
    * row predicate the rewrite applies. A filter on a column with no
    * recorded stats prunes nothing (every file is impacted — correct,
    * conservative); a delete on a DECLARED stats column rewrites only
    * its envelope's files, so at 100 TB a targeted predicate purge
    * costs the envelope, never a table scan. Impacted files read
    * through the MoR path (live deletion vectors applied — masked rows
    * neither resurrect nor inflate the count). SQL three-valued logic
    * is honored: rows where the predicate is NULL are NOT deleted
    * (survivors keep `pred IS NOT TRUE`). A predicate matching no rows
    * burns no version. Returns the number of rows deleted. A lost
    * commit race rebases mechanically when the winner left every
    * impacted file untouched ([[commitCowRewrite]]); anything else
    * fails loudly. */
  def commitDelete(filters: Seq[org.apache.spark.sql.sources.Filter],
      prevV: SnapshotRef, nParts: Int = 2, tag: Option[String] = None): Long = {
    require(filters.nonEmpty,
      "commitDelete needs at least one predicate — to drop every row, " +
        "recreate the table (mode overwrite) instead")
    commitDelete(filters,
      filters.map(GraftTable.v1FilterColumn).reduce(_ && _),
      prevV, nParts, tag)
  }

  /** [[commitDelete]] with the ROW predicate supplied separately from
    * the PRUNING filters — the SQL `DELETE FROM` path: conjuncts with a
    * v1-filter form drive manifest pruning, while the full condition
    * (which may contain expressions v1 filters cannot spell — modulo,
    * arithmetic) is the doom predicate. `pruneFilters` MUST be implied
    * by `pred` (each a conjunct of it), or files holding doomed rows
    * would be skipped; an EMPTY pruneFilters is legal and prunes
    * nothing. */
  def commitDelete(pruneFilters: Seq[org.apache.spark.sql.sources.Filter],
      pred: Column, prevV: SnapshotRef, nParts: Int, tag: Option[String]): Long = {
    val prev = resolve(prevV)
    val prevEntries = prev.rows
    if (prevEntries.isEmpty) return 0L
    val (prunable, bloomable) = pruneSets(prevEntries)
    val impactedRows = SnapshotPruning
      .keepTestV1(pruneFilters, Some(key), prunable, bloomable)
      .map(test => prevEntries.filter(test)).getOrElse(prevEntries)
    if (impactedRows.isEmpty) return 0L
    val df = readRows(prev, impactedRows)
    val nDel = df.filter(pred).count()
    if (nDel == 0L) return 0L // conservative planning kept files whose
                              // rows all miss: no-op, no burned version
    commitCowRewrite(prev, impactedRows, fileStats(stagedAppend(
      df.filter(!coalesce(pred, lit(false))),
      sizedParts(nParts, entryBytes(impactedRows)))),
      tag, prev.schema.map(_.toDDL))
    nDel
  }

  /** REPLACE WHERE (Delta's `replaceWhere`, Hive's static-predicate
    * INSERT OVERWRITE generalized): atomically delete every row
    * matching `pred` and insert `data`, as ONE commit — readers see
    * either the old region or the new rows, never a half-swapped
    * state, which is what makes "recompute one partition of a 100 TB
    * table" safe to run while queries read it. The SAME v1 filters
    * drive manifest pruning (box/bloom composition via
    * [[SnapshotPruning.keepTestV1]]) and the doom predicate, so on a
    * key- or stats-column predicate the rewrite cost is the matched
    * ENVELOPE's files + the new rows — never a table scan. Survivor
    * rows keep `pred IS NOT TRUE` (SQL three-valued logic, the
    * [[commitDelete]] rule). When the predicate matches no existing
    * row the operation degrades to a validated append (no file is
    * rewritten). `spark.graft.replaceWhere.check` (default true, the
    * Delta constraint): every REPLACEMENT row must itself satisfy
    * `pred` — validated DURING the staged write itself (an `observe`
    * metric riding the write job: zero extra pass, the same
    * rows-as-written the old staged-files re-scan read, minus the
    * re-read of every newly written byte), and a violation throws
    * BEFORE the manifest commit, leaving the staged files as
    * vacuum-reclaimable orphans — so a writer cannot silently smuggle
    * rows into a region the predicate did not clear out. A lost commit
    * race rebases mechanically iff the winner left every impacted file
    * untouched ([[commitCowRewrite]]). Returns the number of rows
    * deleted. */
  def commitReplaceWhere(pruneFilters: Seq[org.apache.spark.sql.sources.Filter],
      pred: Column, data: DataFrame, prevV: SnapshotRef, nParts: Int = 2,
      tag: Option[String] = None, check: Boolean = true): Long = {
    val prev = resolve(prevV)
    val doCheck = check &&
      spark.conf.get("spark.graft.replaceWhere.check", "true").toBoolean
    // the violation census rides the write job as an observed metric —
    // the input plan is not recomputed AND the staged bytes are not
    // re-read. NOTE the count is a row-EVALUATION count: the range
    // sampler may run the plan's sampling pass through the same metric,
    // so a violating row can be counted more than once — the zero/
    // non-zero contract the check enforces is unaffected.
    val obs =
      if (doCheck) Some(new org.apache.spark.sql.Observation(
        s"rw_check_${java.util.UUID.randomUUID().toString.take(8)}"))
      else None
    val checked = obs.fold(data)(o => data.observe(o,
      sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L)).as("bad")))
    val addedNew = stagedAppend(checked, nParts)
    obs.filter(_ => addedNew.nonEmpty).foreach { o =>
      val bad = o.get.get("bad") match {
        case Some(n: java.lang.Long) => n.longValue
        case _ => 0L // empty batch: sum over zero rows is NULL
      }
      require(bad == 0L,
        s"REPLACE WHERE: $bad replacement row evaluation(s) do not " +
          "satisfy the predicate — the write would land rows outside " +
          "the replaced region; fix the data or disable " +
          "spark.graft.replaceWhere.check")
    }
    val prevEntries = prev.rows
    val (prunable, bloomable) = pruneSets(prevEntries)
    val candidates = SnapshotPruning
      .keepTestV1(pruneFilters, Some(key), prunable, bloomable)
      .map(test => prevEntries.filter(test)).getOrElse(prevEntries)
    // ONE DV-masked envelope scan serves BOTH the per-file matched
    // counts (the commitDeleteMor planning shape: a candidate file
    // whose rows ALL miss the predicate is carried VERBATIM instead of
    // rewritten) AND the survivor re-stage — previously the impacted
    // files were MoR-read twice (the r20 verdict's "what's wrong" (a)).
    // The scan persists across the two uses; the survivor side
    // restricts to the doomed files with a broadcast semi-join.
    val live =
      if (candidates.isEmpty) None
      else {
        val oldDv = GraftTable.ownDvRows(spark, candidates)
        val raw = dmlScan(prev, candidates.map(_.getAs[String]("file")).toSeq)
        Some(oldDv.fold(raw)(o =>
          raw.join(o.select(col("file").as("__file"), col("pos").as("__pos")),
            Seq("__file", "__pos"), "left_anti"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      }
    try {
      val doomedByFile: Map[String, Long] = live.fold(
        Map.empty[String, Long])(
        _.filter(pred).groupBy("__file").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap)
      val doomed = doomedByFile.values.sum
      // conservative planning kept files whose rows all miss: degrade to
      // a pure append — no file rewritten, no survivors re-staged
      val impactedRows =
        if (doomed == 0L) Array.empty[Row]
        else candidates.filter(r =>
          doomedByFile.getOrElse(r.getAs[String]("file"), 0L) > 0L)
      val survivors =
        if (impactedRows.isEmpty) Seq.empty[String]
        else {
          import spark.implicits._
          val impacted = impactedRows.map(_.getAs[String]("file")).toSeq
          stagedAppend(
            live.get
              .join(broadcast(impacted.toDF("__keep_file")),
                col("__file") === col("__keep_file"), "left_semi")
              .filter(!coalesce(pred, lit(false)))
              .drop("__file", "__pos"),
            sizedParts(nParts, entryBytes(impactedRows)))
        }
      commitCowRewrite(prev, impactedRows, fileStats(survivors ++ addedNew),
        tag, evolvedSchemaDdl(prev, data.schema))
      doomed
    } finally { live.foreach(_.unpersist(blocking = false)); () }
  }

  /** Two-dimension convenience overload (the original API shape). */
  def commitZorder(prevV: SnapshotRef, targetBytes: Long, dimA: String,
      dimB: String): Int =
    commitZorder(prevV, targetBytes, Seq(dimA, dimB))

  /** OPTIMIZE ZORDER BY (Delta's layout-maintenance verb): re-cluster
    * snapshot `prevV` along the 64-bit Morton interleave of 1..8
    * dimensions of ANY orderable type into ~targetBytes files as a NEW
    * content-identical `dataChange=false` snapshot. Unlike plain
    * [[commitCompaction]] — which packs only the undersized/DV tail —
    * a z-order rewrite is whole-snapshot by definition (interleaved
    * locality is a global property), the same contract as Delta's
    * OPTIMIZE ZORDER BY; run it when the query mix shifts to a
    * dimension the ingest clustering does not localize. Each dim maps
    * to an ordered numeric space the way the manifest's own box codecs
    * do (integral/float/decimal as double, timestamp as micros, date as
    * days, string by its first-6-UTF-8-bytes prefix — monotone in
    * code-point order, the same invariant the string boxes rely on;
    * NULLs cluster at the grid origin), then normalizes to the
    * floor(64/n)-bit grid from ONE broadcast bounds row (the q81 write
    * shape). Clustering-only approximations (double rounding, string
    * prefix) can never hurt correctness: per-file boxes are re-recorded
    * from the TRUE values by the ordinary [[fileStats]] pass. The
    * rewrite reads MoR (deletion vectors fold in, like OPTIMIZE), and
    * because [[fileStats]] records per-file boxes for the key and every
    * declared stats column, the re-clustered files' boxes tighten in
    * ALL dims — the SAME manifest then skips more files for any
    * dimension's predicates ([[pruneMulti]]), which is the operator's
    * entire point. Old versions keep time-traveling to the old layout
    * until [[vacuum]]. Single-writer like other maintenance commits: a
    * lost race fails loudly. Returns the new version. */
  def commitZorder(prevV: SnapshotRef, targetBytes: Long, dims: Seq[String]): Int = {
    val prev = resolve(prevV)
    require(targetBytes > 0, s"targetBytes must be positive; got $targetBytes")
    require(dims.nonEmpty && dims.size <= 8,
      s"z-order takes 1..8 dimensions; got ${dims.size}")
    require(dims.distinct.size == dims.size,
      s"duplicate z-order dimensions: ${dims.mkString(", ")}")
    val entries = prev.rows
    require(entries.nonEmpty, s"snapshot v=${prev.version} of $man has no files")
    val df = readRows(prev, entries)
    dims.foreach { c =>
      require(df.columns.contains(c),
        s"z-order dimension '$c' is not a column of $man " +
          s"(${df.columns.mkString(", ")})")
    }
    // per-dim ordered-numeric embedding (loud on unsupported types)
    val numeric = dims.map(c =>
      GraftTable.zGridNumeric(df.schema(c).dataType, c, man))
    val nOut = math.max(1L, math.min(20000L,
      (entryBytes(entries) + targetBytes - 1) / targetBytes)).toInt
    import graft.functions.ZOrder.z_value_n
    val bounds = dims.indices.flatMap(i => Seq(
      min(numeric(i)).as(s"__lo_$i"), max(numeric(i)).as(s"__hi_$i")))
    val mm = df.agg(bounds.head, bounds.tail: _*)
    // subtract in DOUBLE: a long domain spanning more than
    // Long.MaxValue (lo near MinValue, hi positive) would wrap an
    // integral `c - lo` (or throw under ANSI) and scramble the codes.
    // Grid bits capped at 52 (the double mantissa): 64 bits at n=1
    // would overflow the double->long cast and collapse the upper half
    // of the domain onto one code (saturating cast), and bits past the
    // mantissa are noise anyway. The span guard is CONDITIONAL — a 1.0
    // floor was harmless on integral domains but would shrink a
    // continuous domain narrower than 1.0 (a [0, 0.02] ratio column) to
    // a handful of grid cells.
    val gridMax = math.pow(2.0, math.min(52, 64 / dims.size)) - 1.0
    def norm(c: Column, lo: Column, hi: Column): Column =
      coalesce((((c - lo) /
        when(hi > lo, hi - lo).otherwise(lit(1.0))) *
        lit(gridMax)).cast("long"), lit(0L))
    val cols = df.columns.toIndexedSeq
    // rewritten files keep the frozen PHYSICAL names (column mapping)
    val physMap = logicalToPhysical(Int.MaxValue)
    // persist across the range sampler: the z-coded input is a MoR
    // read + bounds-join + Morton projection, and repartitionByRange
    // executes its child twice (sample + shuffle) — the clustered-write
    // rule applied to the one write path that does not go through it
    val zd = df.crossJoin(broadcast(mm))
      .withColumn("__z", z_value_n(dims.indices.map(i =>
        norm(numeric(i), col(s"__lo_$i"), col(s"__hi_$i")))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val added = try GraftCommitProtocol.write(spark,
        zd.repartitionByRange(nOut, col("__z"))
          .sortWithinPartitions("__z")
          .select(cols.map(c => col(c).as(physMap.getOrElse(c, c))): _*),
        data)
      finally { zd.unpersist(blocking = false); () }
    require(added.nonEmpty, "z-order rewrite produced no files")
    // content-identical: a layout-only commit
    commit(prev, "z-order rewrite", Rule.NoRebase())(_ =>
      Some(Actions(Some(fileStats(added)), replaces = true,
        noData = true, schemaDdl = prev.schema.map(_.toDDL))))
  }

  /** The shared physical-presence (resurrection) guard: refuse
    * recording `names` into the schema while any live file still
    * PHYSICALLY carries one of them. The NULL-backfill contract must
    * hold physically, not just in metadata: after a metadata-only DROP
    * COLUMN (or under a RENAME's frozen physical name) the bytes are
    * still in the files, and because parquet matches columns by NAME a
    * re-recorded name would silently RESURRECT the old values (or crash
    * every scan on a type change) instead of reading NULL — the failure
    * column mapping exists to prevent in Delta. Shared by ALTER ADD
    * COLUMN, RENAME COLUMN and append-time schema evolution
    * ([[evolvedSchemaDdl]]) so no write path can slip a colliding name
    * past the ALTER-path check. The O(#files) footer-union pass runs
    * ONLY once the schema has ever detached from the physical layout
    * (a DROP or RENAME committed the `schema_detached` props flag) —
    * on the common never-detached table the guard costs one props
    * read. Once rewrites + vacuum purge the old bytes, the name frees
    * up automatically. */
  private def requireNoPhysicalResurrection(prev: LogSnapshot,
      names: Seq[String], verb: String, always: Boolean = false): Unit = {
    if (names.isEmpty) return
    // the schema_detached flag only exists on tables whose DROP/RENAME
    // committed AFTER the flag was introduced — a legacy table's
    // detach is invisible to it, so the rare ALTER path (`always`)
    // runs the footer pass unconditionally (ADVICE r20 medium #1);
    // only the hot append-evolve path keeps the flag gate
    if (!always &&
      !GraftTable.loadProps(spark, man).exists(_.schemaDetached)) return
    val live = prev.files
    if (live.isEmpty) return
    val physical = spark.read.option("mergeSchema", "true")
      .parquet(live: _*).schema.fieldNames
    val resolver = spark.sessionState.conf.resolver
    names.foreach { n =>
      require(!physical.exists(resolver(_, n)),
        s"cannot $verb column '$n': a previously dropped or renamed " +
          "column of that name is still physically present in this " +
          "table's files and would resurrect its old values instead of " +
          "reading NULL — rewrite the files first (OPTIMIZE ZORDER or " +
          "a COW rewrite, then VACUUM) or pick a different name")
    }
  }

  /** ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit through a
    * logical->physical column mapping (Delta's column-mapping `name`
    * mode, spelled by name instead of field id): data files keep the
    * column's FROZEN physical name forever — the bytes never move, old
    * files stay readable in place, and every later write re-labels the
    * batch back to the physical name ([[toPhysical]]) so the layout
    * never goes heterogeneous — while the commit-recorded schema speaks
    * the new logical name and every read aliases physical->logical
    * ([[morRead]]/[[dmlScan]]/the SQL snapshot expansion). The mapping
    * is an append-only event list in `_table_props`
    * (`rename.<v>.<i>=<old>:<new>`) replayed up to the read version
    * ([[logicalToPhysical]]), so time travel below the rename still
    * answers in the name that snapshot recorded.
    *
    * Guards, all loud:
    *  - the table key, declared stats/bloom columns and
    *    CHECK-referenced columns refuse (committed manifest boxes,
    *    blooms and every commit's stats scan bind to their names —
    *    the DROP COLUMN rule);
    *  - the new name must not collide with a live logical column, NOR
    *    with ANY name physically present in live files (parquet
    *    matches by name: colliding with a dropped column's un-purged
    *    bytes or another column's frozen physical name would silently
    *    read the wrong bytes);
    *  - names may not contain the props-encoding metacharacters.
    *
    * RESTORE refuses to cross a rename commit ([[commitRestore]]) and
    * `format("graft")`'s raw relation refuses a mapped table — both
    * documented loud edges, never silent wrong data. Returns the new
    * version. */
  def commitRenameColumn(oldName: String, newName: String,
      prevV: SnapshotRef): Int = {
    val prev = resolve(prevV)
    val base = prev.requireSchema("RENAME COLUMN")
    val resolver = spark.sessionState.conf.resolver
    val resolvedOld = base.fieldNames.find(resolver(_, oldName)).getOrElse(
      throw new IllegalArgumentException(
        s"RENAME COLUMN '$oldName': no such column — table columns: " +
          base.fieldNames.mkString(", ")))
    Seq(oldName, newName).foreach(n =>
      require(!n.exists(c => c == ':' || c == '=' || c == '\n' || c == '.'),
        s"RENAME COLUMN: name '$n' contains a reserved character " +
          "(: = . or newline) — graft column names are flat identifiers"))
    require(!resolver(resolvedOld, newName),
      s"RENAME COLUMN '$resolvedOld' to '$newName': the names are the " +
        "same column")
    require(!base.fieldNames.exists(resolver(_, newName)),
      s"RENAME COLUMN to '$newName': a column of that name already exists")
    // the DROP COLUMN guard family: declarations resolve from
    // _table_props (the catalog's maintenance handle carries none)
    val props = GraftTable.loadProps(spark, man)
    val keyCol = props.flatMap(_.key).getOrElse(key)
    val statsC = props.map(_.statsCols).getOrElse(statsCols)
    val bloomC = props.map(_.bloomCols).getOrElse(bloomCols)
    require(resolvedOld != keyCol,
      s"cannot rename '$resolvedOld' — it is the table key (clustering, " +
        "merge matching and box pruning bind to it)")
    require(!statsC.contains(resolvedOld) && !bloomC.contains(resolvedOld),
      s"cannot rename '$resolvedOld' — it is a declared stats/bloom " +
        "column; the committed manifests record boxes/blooms under it")
    activeChecks.foreach { case (n, text) =>
      val refs = spark.sessionState.sqlParser.parseExpression(text)
        .collect { case ua: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => ua.name }
      require(!refs.exists(resolver(_, resolvedOld)),
        s"cannot rename '$resolvedOld' — CHECK constraint '$n' ($text) " +
          s"references it; UNSET TBLPROPERTIES ('check.$n') first")
    }
    // the new name must not shadow ANY physically present name — run
    // the footer union unconditionally here (renames are rare DDL; the
    // props flag may not be set yet on a first rename)
    val live = prev.files
    if (live.nonEmpty) {
      val physical = spark.read.option("mergeSchema", "true")
        .parquet(live: _*).schema.fieldNames
      require(!physical.exists(resolver(_, newName)),
        s"cannot rename to '$newName': that name is physically present " +
          "in this table's live files (a dropped column's un-purged " +
          "bytes, or another column's frozen physical name) — parquet " +
          "matches by name, so reads would resolve the wrong bytes; " +
          "rewrite + vacuum first, or pick a different name")
    }
    val renamed = org.apache.spark.sql.types.StructType(base.fields.map(f =>
      if (f.name == resolvedOld) f.copy(name = newName) else f))
    // the mapping event + detach flag land BEFORE the commit (ADVICE
    // r20 medium #2): a crash between the two previously left a
    // COMMITTED schema speaking the new logical name with no mapping —
    // every read then resolved the renamed column against files
    // storing the old physical name and silently returned NULLs. The
    // inverted residue (event written, commit never landed) is inert:
    // [[renameEvents]] only replays an event once its version COMMITTED
    // a schema speaking the new name, so a dangling event can never
    // poison the mapping — not even for a LATER column legitimately
    // created under the failed target name.
    setPropLine(s"rename.${prev.version + 1}.0",
      Some(s"$resolvedOld:$newName"))
    setPropLine("schema_detached", Some("true"))
    // a lost race drops the now-unreachable event (the flag stays —
    // conservative: it only widens a guard)
    commit(prev, "RENAME COLUMN", Rule.NoRebase(() =>
        setPropLine(s"rename.${prev.version + 1}.0", None)))(_ =>
      Some(Actions(noData = true,
        schemaDdl = Some(renamed.toDDL))))
  }

  /** ALTER TABLE ADD COLUMN's commit: a layout-identical new version
    * whose recorded `_schema.ddl` is `widened` — the DDL face of the
    * format's append-time schema evolution (the same widening an
    * appending batch performs, minus the batch): existing files read
    * the new columns as NULL (parquet by-name semantics, the q103
    * contract), no data byte is touched, and the commit carries the
    * `dataChange=false` marker so change-feed consumers skip it.
    * `widened` must EXTEND the latest recorded schema (same leading
    * fields; new fields appended) — narrowing or retyping would make
    * committed manifests lie about their files. Single-writer: a lost
    * publish race fails loudly. Returns the new version. */
  def commitWidenSchema(widened: org.apache.spark.sql.types.StructType,
      prevV: SnapshotRef): Int = {
    val prev = resolve(prevV)
    val base = prev.requireSchema("widening")
    require(widened.fields.take(base.length).map(f => (f.name, f.dataType))
        .sameElements(base.fields.map(f => (f.name, f.dataType))) &&
      widened.length > base.length,
      s"widened schema must extend the recorded one — recorded " +
        s"${base.simpleString}, proposed ${widened.simpleString}")
    require(widened.fields.drop(base.length).forall(_.nullable),
      "added columns must be nullable — existing files backfill NULL")
    requireNoPhysicalResurrection(prev,
      widened.fields.drop(base.length).map(_.name).toSeq, "add",
      always = true)
    commit(prev, "schema widening", Rule.NoRebase())(_ =>
      Some(Actions(noData = true, schemaDdl = Some(widened.toDDL))))
  }

  /** ALTER TABLE DROP COLUMN as a METADATA-ONLY commit (Delta's
    * column-mapping drop, without needing a mapping: graft reads plan
    * with the COMMIT-RECORDED schema — [[readAsOf]]/[[morRead]] pass it
    * explicitly — so parquet's schema clipping projects a physically
    * present column away for free). No data byte moves: the narrowing
    * is one layout-identical `dataChange=false` commit recording the
    * narrowed DDL; old snapshots keep time-traveling to the full
    * schema, and the bytes are physically purged when any rewrite next
    * touches a file (OPTIMIZE / z-order / COW DML re-stage through the
    * recorded schema — Delta's REORG PURGE for the impatient).
    * Refuses to drop the table key, a declared stats/bloom column (the
    * manifest's committed boxes would lie), a CHECK-referenced column
    * (every future write's stats scan would fail), or the last column.
    * Appends after the drop validate against the narrowed schema like
    * any other ([[evolvedSchemaDdl]]). Returns the new version. */
  def commitNarrowSchema(dropCols: Seq[String], prevV: SnapshotRef): Int = {
    val prev = resolve(prevV)
    require(dropCols.nonEmpty, "DROP COLUMN needs at least one column")
    val base = prev.requireSchema("DROP COLUMN")
    val resolver = spark.sessionState.conf.resolver
    val resolved = dropCols.map { c =>
      base.fieldNames.find(resolver(_, c)).getOrElse(
        throw new IllegalArgumentException(
          s"DROP COLUMN '$c': no such column — table columns: " +
            base.fieldNames.mkString(", ")))
    }
    require(resolved.distinct.size == resolved.size,
      s"duplicate DROP COLUMN targets: ${dropCols.mkString(", ")}")
    // declarations resolve from _table_props, NOT the instance fields:
    // a maintenance handle (ALTER TABLE's catalog path) is constructed
    // with empty key/stats declarations, and the guards must still hold
    val props = GraftTable.loadProps(spark, man)
    val keyCol = props.flatMap(_.key).getOrElse(key)
    val statsC = props.map(_.statsCols).getOrElse(statsCols)
    val bloomC = props.map(_.bloomCols).getOrElse(bloomCols)
    resolved.foreach { c =>
      require(c != keyCol, s"cannot drop '$c' — it is the table key " +
        "(clustering, merge matching and box pruning bind to it)")
      require(!statsC.contains(c) && !bloomC.contains(c),
        s"cannot drop '$c' — it is a declared stats/bloom column; the " +
          "committed manifests record boxes/blooms for it")
      activeChecks.foreach { case (n, text) =>
        val refs = spark.sessionState.sqlParser.parseExpression(text)
          .collect { case ua: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => ua.name }
        require(!refs.exists(resolver(_, c)),
          s"cannot drop '$c' — CHECK constraint '$n' ($text) references " +
            s"it; UNSET TBLPROPERTIES ('check.$n') first")
      }
    }
    val gone = resolved.toSet
    val narrowed = org.apache.spark.sql.types.StructType(
      base.fields.filterNot(f => gone(f.name)))
    require(narrowed.nonEmpty,
      s"cannot drop every column of $man — drop the table instead")
    val v = commit(prev, "schema narrowing", Rule.NoRebase())(_ =>
      Some(Actions(noData = true, schemaDdl = Some(narrowed.toDDL))))
    // the schema has detached from the physical layout: from here on,
    // re-recording a name still physically present must be refused on
    // EVERY path (ALTER and append-time evolution alike) — the flag is
    // what arms [[requireNoPhysicalResurrection]]'s footer pass
    setPropLine("schema_detached", Some("true"))
    v
  }

  /** Version v's commit time ([[LogSnapshot.commitTime]]): the
    * `_ts_<epochMs>` marker rides the atomic commit, so it survives
    * file-system surgery that rewrites every mtime. */
  def commitTimeOf(v: SnapshotRef): Long = resolve(v).commitTime

  /** Resolve "TIMESTAMP AS OF" ([[LogSnapshot.asOfTime]]). */
  def versionAsOfTime(epochMs: Long): Int = snapshot().asOfTime(epochMs).version

  /** Time travel: plan the file list from snapshot v's manifest alone. */
  def files(v: SnapshotRef): Seq[String] = resolve(v).files

  def readAsOf(v: SnapshotRef): DataFrame = {
    val s = resolve(v)
    // the commit-recorded schema, not sampled-footer inference (after a
    // widening append the snapshot's files are heterogeneous and a
    // sampled old file would silently hide the widened column); and
    // the MoR path: entries carrying a deletion vector anti-join their
    // masked positions — DV-free files stream straight from the scan
    if (s.files.nonEmpty) morRead(s.pairs, s.schema, s.version)
    else if (data.nonEmpty && partFiles.nonEmpty)
      spark.read.parquet(data).limit(0) // typed empty, schema from layout
    else
      // an empty snapshot of a still-empty table carries no schema at
      // all — fail with intent instead of Spark's inference error
      throw new IllegalStateException(
        s"snapshot v=${s.version} of $man references no files and the layout $data " +
          "is empty: an empty table has no schema to scan")
  }

  /** Min/max skipping against version v's manifest. Bounds are Long
    * for integral/timestamp/date keys (epoch micros / days — the box
    * representation), String for string keys. */
  def prune(v: SnapshotRef, qlo: Any, qhi: Any): (Seq[String], Int) =
    pruneMulti(v, Seq((key, qlo, qhi)))

  /** Multi-column min/max skipping against version v's manifest: keep
    * the files whose box intersects EVERY queried column's range. The
    * table key prunes on its (lo, hi) box; declared stats columns on
    * their (lo_c, hi_c) boxes. Same O(#files) driver planning. */
  def pruneMulti(v: SnapshotRef, preds: Seq[(String, Any, Any)])
      : (Seq[String], Int) = {
    val named = preds.map { case (c, qlo, qhi) =>
      require(c == key || statsCols.contains(c),
        s"no stats recorded for column '$c' (key=$key, statsCols=$statsCols)")
      if (c == key) ("lo", "hi", qlo, qhi)
      else (s"lo_$c", s"hi_$c", qlo, qhi)
    }
    val rows = resolve(v).rows
    val kept = rows.filter(r => named.forall { case (lo, hi, qlo, qhi) =>
      GraftTable.boxIntersects(r, lo, hi, qlo, qhi)
    }).map(_.getAs[String]("file")).toSeq
    (kept, rows.length)
  }

  /** Bloom point-lookup skipping against version v's manifest: keep the
    * files whose `bloom_<c>` sketch might contain ANY of `probes`
    * (IN-list semantics; probes are Long for integral columns, String
    * for string columns). Same O(#files) driver planning as box
    * pruning; false positives cost a read, false skips cannot happen
    * (bloom has no false negatives, and a NULL sketch keeps the
    * file). */
  def pruneBloom(v: SnapshotRef, c: String, probes: Seq[Any]): (Seq[String], Int) = {
    require(bloomCols.contains(c),
      s"no bloom recorded for column '$c' (bloomCols=$bloomCols)")
    require(probes.nonEmpty, "pruneBloom needs at least one probe value")
    val rows = resolve(v).rows
    val kept = rows.filter { r =>
      val bytes = r.getAs[Array[Byte]](s"bloom_$c")
      probes.exists(GraftTable.bloomMightContain(bytes, _))
    }.map(_.getAs[String]("file")).toSeq
    (kept, rows.length)
  }

  /** IN-list point-probe skipping against version v's manifest: keep
    * the files that might hold ANY of `probes` for column `c`,
    * composing EVERY recorded pruning structure — key/stats (lo, hi)
    * boxes and, when declared, the per-file bloom — through the same
    * [[SnapshotPruning.keepTestV1]] the SQL pushdown path uses (one
    * `In` filter), so the two planners can never disagree. ONE
    * O(#files) manifest pass regardless of probe count — the
    * bounded-shortlist fetch plan (the persisted ANN index's exact
    * rerank reads only the files its candidate ids can live in; a
    * point-lookup service would plan the same way). Probes are the
    * column's external values (Long/String/Timestamp/... as a
    * DataFrame would produce them). */
  def pruneIn(v: SnapshotRef, c: String, probes: Seq[Any]): (Seq[String], Int) = {
    require(probes.nonEmpty, "pruneIn needs at least one probe value")
    val rows = resolve(v).rows
    val (prunable, bloomable) = pruneSets(rows)
    val kept = SnapshotPruning.keepTestV1(
        Seq(org.apache.spark.sql.sources.In(c, probes.toArray)),
        Some(key), prunable, bloomable)
      .map(test => rows.filter(test)).getOrElse(rows)
      .map(_.getAs[String]("file")).toSeq
    (kept, rows.length)
  }

  /** Metadata-only split against version v's manifest: a file whose
    * key box lies fully inside [qlo, qhi] is answered from its n_rows
    * stat without being read; only boundary files are scanned. A NULL
    * box is never "fully inside" — it scans. Returns (rows answered
    * from stats, boundary files to scan, #covered files). */
  def statsOnlySplit(v: SnapshotRef, qlo: Any, qhi: Any): (Long, Seq[String], Int) = {
    val (covered, boundary) = resolve(v).rows
      .filter(GraftTable.boxIntersects(_, "lo", "hi", qlo, qhi))
      .partition { r => // a STORED box is only ever wider than the
        // true one, so fully-inside on it is stricter than the truth
        val lo = r.getAs[Any]("lo"); val hi = r.getAs[Any]("hi")
        lo != null && hi != null &&
          GraftTable.boxCmp(lo, qlo) >= 0 && GraftTable.boxCmp(hi, qhi) <= 0
      }
    (covered.map(_.getAs[Number]("n_rows").longValue).sum,
      boundary.map(_.getAs[String]("file")).toSeq, covered.length)
  }

  /** VACUUM: drop manifest versions below `keepFrom`, then delete every
    * data file referenced by NO retained version (plus crashed `_tmp_*`
    * manifest staging dirs and legacy `_stage_*` data staging dirs).
    * Returns the deleted data-file names.
    *
    * Concurrency: every listed version from `keepFrom` up is retained.
    * The listing is the statement's own snapshot when `latest` is one,
    * else taken here at scan time, so a version another writer commits
    * between the caller's planning and this scan still protects its
    * files. An IN-FLIGHT commit (files
    * written, manifest rename not yet done) is indistinguishable from a
    * crash orphan by reference-counting alone — that is what `graceMs`
    * is for: nothing younger than the grace is deleted. Multi-writer
    * deployments must vacuum with a grace exceeding their longest
    * commit (the Delta retention-period contract); the default 0 is
    * the single-writer admin op on a quiesced table. */
  def vacuum(keepFrom: Int, latest: SnapshotRef,
      graceMs: Long = 0L): Seq[String] = {
    val log = listing(latest).requireTable()
    // versions below an earlier vacuum's horizon no longer exist —
    // skip them instead of failing the whole reclamation on a read
    val retained = log.versions.filter(_ >= keepFrom).map(log.at)
    // data and deletion-vector files referenced by any retained
    // version — reclaimed by the same name-based counting
    val referenced = retained.flatMap(_.files.map(p => new Path(p).getName))
      .toSet
    val referencedDv = retained.flatMap(
      _.pairs.flatMap(_._2).map(p => new Path(p).getName)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    def aged(st: FileStatus): Boolean = st.getModificationTime <= cutoff
    // ONE listing of the data dir feeds both the orphan filter and the
    // legacy stage-dir sweep below
    val dataListing = listStatusSafe(dataFs, new Path(data))
    val orphans = dataListing
      .filter { st =>
        val n = st.getPath.getName
        aged(st) &&
          ((n.startsWith("part-") && !referenced(n)) ||
            (n.startsWith("dv-") && !referencedDv(n)))
      }
      .map(_.getPath.getName).toSeq.sorted
    orphans.foreach { n =>
      // recursive: a fanned-out DV placement is a directory under one
      // dv-<id>.parquet name (writeDvFile); data files stay plain files
      require(dataFs.delete(new Path(data, n), true), s"could not vacuum $n")
    }
    log.versions.filter(_ < keepFrom).foreach { v =>
      val d = new Path(log.at(v).dir)
      // preserve commit tags in the ledger before expiring the
      // version: a vacuumed batch's replay must still read as
      // committed (tagCommitted), or it would re-append its rows
      val marks = listStatusSafe(manFs, d)
        .map(_.getPath.getName).filter(_.startsWith("_tag_"))
      if (marks.nonEmpty) {
        val ledger = new Path(man, "_tags")
        manFs.mkdirs(ledger)
        marks.foreach { t =>
          // markers are empty: (re)creating at the destination is the
          // whole preservation — and unlike a rename it cannot fail
          // silently before the version delete destroys the only
          // record that the batch committed
          val dst = new Path(ledger, t)
          require(manFs.exists(dst) || touch(manFs, dst),
            s"could not preserve commit tag $t in the ledger")
        }
      }
      store.expire(manFs, new Path(man), v)
    }
    // crashed commit attempts: under the pointer store a LIVE version
    // dir keeps its staging name, so only dirs no retained version
    // resolves to are reclaimable
    val liveDirs = retained.map(r => new Path(r.dir).getName).toSet
    listStatusSafe(manFs, new Path(man))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_tmp_")
        && aged(st) && !liveDirs(st.getPath.getName))
      .foreach(st => manFs.delete(st.getPath, true))
    // crashed `_stage_*` dirs of tables written before commits created
    // files at their final names: invisible to readers
    // (underscore-hidden) but still holding bytes
    dataListing
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_stage_")
        && aged(st))
      .foreach(st => dataFs.delete(st.getPath, true))
    orphans
  }

  /** DESCRIBE HISTORY (the Delta surface): one row per committed
    * version — (version, n_files, n_rows, bytes, data_change,
    * commit_ts) — computed from manifests and commit markers alone
    * (O(#versions x #files) driver-side, zero data reads, zero Spark
    * jobs via the direct manifest reader). `bytes` is NULL for
    * manifests from before the column existed. */
  def history(log: LogSnapshot = snapshot()): DataFrame = {
    import spark.implicits._
    log.versions.map { v =>
      val s = log.at(v)
      val rows = s.rows
      def sumCol(c: String): Option[Long] =
        if (rows.isEmpty) Some(0L)
        else if (!rows.head.schema.fieldNames.contains(c)) None
        else Some(rows.map(r => Option(r.getAs[Number](c))
          .map(_.longValue).getOrElse(0L)).sum)
      (v.toLong, rows.length.toLong, sumCol("n_rows"), sumCol("bytes"),
        dataChange(s), new java.sql.Timestamp(s.commitTime))
    }.toDF("version", "n_files", "n_rows", "bytes", "data_change",
      "commit_ts")
  }

  /** One row per manifest entry of snapshot `v` with its
    * deletion-vector debt — `DESCRIBE DETAIL`-grade observability for
    * maintenance decisions (which files carry masks worth folding,
    * which are undersized, what the real live/physical skew is):
    * every manifest column verbatim (file, boxes, blooms, n_rows =
    * LIVE rows, bytes, dv) plus `masked_rows` counted from each
    * entry's own DV parquet. Reads manifests + DV files only (both
    * O(churn) metadata-class, never a data file); a DV-free snapshot
    * reads nothing but its manifest. */
  def filesDetail(v: SnapshotRef): DataFrame = {
    val s = resolve(v)
    val m0 = s.entries
    val m = if (m0.columns.contains("dv")) m0
      else m0.withColumn("dv",
        lit(null).cast(org.apache.spark.sql.types.StringType))
    // per-file counts over each entry's OWN vector ([[GraftTable
    // .ownDvRows]] — the same debt math the MoR commit tail and
    // OPTIMIZE's minDvFraction use, so the surfaces cannot disagree)
    GraftTable.ownDvRows(spark, s.rows) match {
      case None => m.withColumn("masked_rows", lit(0L))
      case Some(own) =>
        val counts = own.groupBy("file")
          .agg(count(lit(1)).as("masked_rows"))
        m.join(counts, Seq("file"), "left")
          .na.fill(0L, Seq("masked_rows"))
          .select(
            m.columns.map(col).toIndexedSeq :+ col("masked_rows"): _*)
    }
  }

  /** Incremental CDC `vFrom -> vTo`: diff only the CHURNED files — the
    * symmetric difference of the versions' file sets (COW invariant: a
    * changed row lives in a rewritten file, so rows in shared files
    * cannot differ). A full-outer join on the key classifies
    * insert/update/delete; rewritten-but-unchanged survivors fall out
    * as equal pairs. Output: (key, old_<c>.., new_<c>.., op). At 100 TB
    * a 0.1% churn commit reads ~0.2% of the table instead of 200%. */
  def cdc(vFrom: SnapshotRef, vTo: SnapshotRef): DataFrame = {
    val from = resolve(vFrom)
    cdcOf(from.pairs, resolve(vTo), from.version)
  }

  /** [[cdc]] over ALREADY-READ entry-pair lists — the change-feed
    * source walks versions and reuses each step's `to` as the next
    * step's `from`, so a trigger reads each manifest ONCE instead of
    * three times. Entries are (file, dv) pairs: under MoR a commit can
    * change a file's EFFECTIVE content by changing only its deletion
    * vector, so the churn set is the symmetric difference of the
    * PAIRS — a file whose DV changed contributes its old live rows to
    * the `from` side and its new live rows to the `to` side, and the
    * unchanged survivors fall out as equal pairs exactly like COW
    * rewrites. */
  private[graft] def cdcOf(from: Seq[(String, Option[String])],
      toSnap: LogSnapshot, vFrom: Int): DataFrame = {
    val (to, vTo) = (toSnap.pairs, toSnap.version)
    if ((from ++ to).isEmpty)
      throw new IllegalStateException(
        s"cdc v=$vFrom -> v=$vTo: both snapshots reference no files, so " +
          "there is no schema to type the (empty) change feed with")
    val (fromS, toS) = (from.toSet, to.toSet)
    val churnedOld = from.filterNot(toS)
    val churnedNew = to.filterNot(fromS)
    // the feed speaks the DESTINATION snapshot's recorded schema (the
    // Delta CDF rule: change rows arrive in the latest shape) — that
    // covers both straddles: across a widening append the old side's
    // files predate the new column and read NULL (parquet-by-name),
    // and across a DROP COLUMN the old side's extra physical column is
    // clipped instead of leaking a column the table no longer has.
    // Only a pre-schema-recording table falls back to the footer UNION
    // of every churned file (mergeSchema — a sampled-file inference
    // could silently drop a widened column from the feed).
    val unified = toSnap.schema.getOrElse(
      spark.read.option("mergeSchema", "true")
        .parquet((from ++ to).map(_._1).distinct: _*).schema)
    def readSide(pairs: Seq[(String, Option[String])]): DataFrame =
      if (pairs.isEmpty) // typed empty relation, same shape as the layout
        spark.createDataFrame(
          java.util.Collections.emptyList[Row](), unified)
      else morRead(pairs, Some(unified), vTo)
    val valueCols = unified.fieldNames.filter(_ != key).toSeq
    // presence flags, not value-NULL checks, classify the op — a NULL in
    // a value column must not masquerade as an insert/delete
    val old = readSide(churnedOld).select(
      col(key) +: lit(true).as("__old") +:
        valueCols.map(c => col(c).as(s"old_$c")): _*)
    val neu = readSide(churnedNew).select(
      col(key) +: lit(true).as("__new") +:
        valueCols.map(c => col(c).as(s"new_$c")): _*)
    // a key-only table has nothing to differ on: same-key pairs are
    // rewritten-but-unchanged survivors
    val unchanged = valueCols
      .map(c => col(s"old_$c") <=> col(s"new_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    old.join(neu, Seq(key), "full_outer")
      .withColumn("op",
        when(col("__old").isNull, lit("insert"))
          .when(col("__new").isNull, lit("delete"))
          .when(unchanged, lit(null)) // rewritten-but-unchanged survivor
          .otherwise(lit("update")))
      .filter(col("op").isNotNull)
      .drop("__old", "__new")
  }
}

object GraftTable {
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  val manifestSchema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("lo", LongType),
    StructField("hi", LongType), StructField("n_rows", LongType),
    StructField("bytes", LongType)))

  private[table] val PropsFile = "_table_props"

  /** Marker riding a layout-only commit (OPTIMIZE) — Delta's
    * `dataChange=false`. */
  private[table] val NoDataMarker = "_nodata"

  /** Per-version data-schema DDL file, written in staging so it rides
    * the atomic commit (readers plan with zero footer reads). */
  private[table] val SchemaFile = "_schema.ddl"

  // ---- commit actions and lost-race rules ---------------------------

  /** What one commit does on top of its base snapshot (Delta's `add`,
    * `remove` and `metaData` actions), as a commit kind plans it for
    * [[GraftTable!.commit]]:
    *  - `added`: the entries of the files it adds;
    *  - `removed`: the files it drops;
    *  - `dv`: the deletion vector it wrote, with the rows it newly masks
    *    per file — those entries re-point at it, live `n_rows` less the
    *    masked rows, and an entry masked to zero live rows is dropped;
    *  - `replaces`: every base entry goes and `added` is the whole
    *    manifest (create, clone, restore, z-order, DELETE of every row);
    *  - the version's facts: its recorded schema, its tag, and `noData`
    *    for a layout-only commit. */
  private[table] final case class Actions(
      added: Option[DataFrame] = None,
      removed: Seq[String] = Nil,
      dv: Option[(String, Map[String, Long])] = None,
      replaces: Boolean = false,
      schemaDdl: Option[String] = None,
      tag: Option[String] = None,
      noData: Boolean = false)

  /** A lost-race rule a commit kind lists for [[GraftTable!.commit]]: it
    * judges one winning commit against the version before it. */
  private[table] sealed trait Rule
  private[table] object Rule {
    /** The winner must replay this commit — carry its tag and its exact
      * file set — and then holds it; anything else fails with an
      * IllegalArgumentException. */
    case object Replay extends Rule
    /** A winner carrying this commit's tag holds it. */
    case object Tagged extends Rule
    /** The winner kept the (dv, n_rows) pair of each file this commit
      * read. */
    final case class ReadIntact(files: Iterable[String]) extends Rule
    /** The winner kept the recorded schema. */
    case object SchemaIntact extends Rule
    /** The winner added no file whose key box meets [lo, hi]. */
    final case class EnvelopeClear(lo: Any, hi: Any) extends Rule
    /** The commit never rebases: a lost race runs `onLoss`, then fails. */
    final case class NoRebase(onLoss: () => Unit = () => ()) extends Rule
  }

  /** Lost races one commit survives before it gives up. */
  private[table] val CommitRetries = 50

  // ---- key/stats box codecs ----------------------------------------

  /** How a column's per-file (lo, hi) box is computed, stored and
    * compared. Integral, timestamp and date columns store LOSSLESS long
    * boxes (epoch micros / days — conversions that cannot truncate, so
    * skipping stays conservative). String columns store BOUNDED-PREFIX
    * boxes (the Iceberg `truncate(16)` idea): lo is the min's
    * 16-code-point prefix (a prefix sorts <= every string extending it
    * in UTF-8 order), hi is the max's prefix with its last code point
    * incremented (sorts >= every string sharing the prefix) — so boxes
    * stay small on arbitrarily long keys while remaining conservative
    * BY CONSTRUCTION: a stored box only ever widens the true one, so a
    * file can be kept too often but never skipped wrongly. Driver-side
    * comparisons use unsigned UTF-8 byte order ([[utf8Cmp]]), matching
    * the UTF8String/parquet binary ordering Spark's min/max aggregated
    * with — a mismatch there could wrongly skip a non-ASCII key. */
  private[table] sealed abstract class BoxCodec(
      val boxType: org.apache.spark.sql.types.DataType) {
    def loAgg(c: String): Column
    def hiAgg(c: String): Column
    /** Per-row mapping of the column into box space — the same space
      * [[loAgg]]/[[hiAgg]] aggregate in, so a query bound given in box
      * representation compares EXACTLY against row values (the ranged
      * DELETE's predicate must agree with the pruning that planned its
      * impacted set, or a row could escape both). */
    def toBox(c: Column): Column
    /** Driver-side normalization of a collected exact bound into its
      * stored form (identity except the string truncation). */
    def storeLo(v: Any): Any = v
    def storeHi(v: Any): Any = v
  }
  private[table] case object IntegralCodec extends BoxCodec(LongType) {
    def loAgg(c: String): Column = min(c).cast("long")
    def hiAgg(c: String): Column = max(c).cast("long")
    def toBox(c: Column): Column = c.cast("long")
  }
  private[table] case object TimestampCodec extends BoxCodec(LongType) {
    def loAgg(c: String): Column = unix_micros(min(c))
    def hiAgg(c: String): Column = unix_micros(max(c))
    def toBox(c: Column): Column = unix_micros(c)
  }
  private[table] case object DateCodec extends BoxCodec(LongType) {
    def loAgg(c: String): Column = unix_date(min(c)).cast("long")
    def hiAgg(c: String): Column = unix_date(max(c)).cast("long")
    def toBox(c: Column): Column = unix_date(c).cast("long")
  }
  private[table] case object StringCodec extends BoxCodec(StringType) {
    def loAgg(c: String): Column = min(c)
    def hiAgg(c: String): Column = max(c)
    def toBox(c: Column): Column = c
    override def storeLo(v: Any): Any = truncLo(v.asInstanceOf[String])
    override def storeHi(v: Any): Any = truncHi(v.asInstanceOf[String])
  }

  /** float/double stats: DOUBLE boxes (float widens losslessly). The
    * IEEE corner cases, Iceberg's rules: a NaN bound stores NULL =
    * unbounded (Spark's min/max order NaN greatest, so any NaN in the
    * file surfaces as hi — a NULL box keeps the file, never skips it);
    * a zero bound is stored signed-conservatively (lo as -0.0, hi as
    * +0.0) because SQL comparison treats -0.0 == 0.0 while the
    * driver's Double.compare orders them — without the normalization a
    * file whose max is -0.0 would be skipped by a `>= 0.0` query that
    * its rows actually satisfy. ±Infinity needs no care: it is totally
    * ordered and exactly representable. */
  private[table] case object DoubleCodec
      extends BoxCodec(org.apache.spark.sql.types.DoubleType) {
    def loAgg(c: String): Column = min(col(c).cast("double"))
    def hiAgg(c: String): Column = max(col(c).cast("double"))
    def toBox(c: Column): Column = c.cast("double")
    override def storeLo(v: Any): Any = v match {
      case null => null
      case d: java.lang.Double =>
        if (d.isNaN) null
        else if (d.doubleValue == 0.0) java.lang.Double.valueOf(-0.0) else d
    }
    override def storeHi(v: Any): Any = v match {
      case null => null
      case d: java.lang.Double =>
        if (d.isNaN) null
        else if (d.doubleValue == 0.0) java.lang.Double.valueOf(+0.0) else d
    }
  }

  /** decimal stats: LOSSY double boxes, widened one ulp outward
    * (nextDown/nextUp) so the double rounding of an exact decimal
    * bound can never narrow the true box — conservative by
    * construction, like the string prefix truncation. Lossiness is
    * also why a decimal column cannot be the TABLE KEY (the ranged
    * DELETE's row predicate must agree EXACTLY with planning);
    * [[codecFor]] rejects that combination loudly. */
  private[table] case object DecimalCodec
      extends BoxCodec(org.apache.spark.sql.types.DoubleType) {
    def loAgg(c: String): Column = min(col(c)).cast("double")
    def hiAgg(c: String): Column = max(col(c)).cast("double")
    def toBox(c: Column): Column = c.cast("double")
    override def storeLo(v: Any): Any = v match {
      case null => null
      case d: java.lang.Double => java.lang.Double.valueOf(Math.nextDown(d.doubleValue))
    }
    override def storeHi(v: Any): Any = v match {
      case null => null
      case d: java.lang.Double => java.lang.Double.valueOf(Math.nextUp(d.doubleValue))
    }
  }

  private[table] def codecFor(dt: org.apache.spark.sql.types.DataType,
      c: String, forKey: Boolean = false): BoxCodec = {
    import org.apache.spark.sql.types.{ByteType, DateType, DecimalType,
      DoubleType, FloatType, IntegerType, ShortType, TimestampType}
    dt match {
      case ByteType | ShortType | IntegerType | LongType => IntegralCodec
      case TimestampType => TimestampCodec
      case DateType => DateCodec
      case StringType => StringCodec
      case FloatType | DoubleType => DoubleCodec
      case _: DecimalType if !forKey => DecimalCodec
      case _: DecimalType => throw new IllegalArgumentException(
        s"a decimal column cannot be the table KEY: its boxes are lossy " +
          s"doubles, so a ranged DELETE's row predicate could disagree " +
          s"with planning — use '$c' as a stats column, or key on an " +
          "integral/timestamp/date/string/double column")
      case other => throw new IllegalArgumentException(
        s"manifest stats support integral, timestamp, date, string, " +
          s"float/double and decimal columns; got $other for '$c'")
    }
  }

  /** Stored string-box prefix length, in code points (Iceberg's
    * `truncate(16)` default). */
  private[table] val StringBoxLen = 16

  /** Conservative stored LOWER bound: short strings store exactly;
    * longer ones store the 16-code-point prefix — in UTF-8 byte order a
    * proper prefix sorts <= every string extending it, so truncation
    * can only WIDEN the box downward. */
  private[table] def truncLo(s: String): String =
    if (s == null || s.codePointCount(0, s.length) <= StringBoxLen) s
    else s.substring(0, s.offsetByCodePoints(0, StringBoxLen))

  /** Conservative stored UPPER bound: short strings store exactly;
    * longer ones store the 16-code-point prefix with its last
    * incrementable code point bumped and the tail dropped — past every
    * string sharing the prefix, so truncation can only WIDEN the box
    * upward. A prefix of all-max code points (pathological) stores
    * NULL = unbounded, which [[boxIntersects]] treats as cannot-skip. */
  private[table] def truncHi(s: String): String =
    if (s == null || s.codePointCount(0, s.length) <= StringBoxLen) s
    else incrementCodePoints(
      s.substring(0, s.offsetByCodePoints(0, StringBoxLen)))

  /** The least string greater than every string with prefix `s`:
    * increment s's last incrementable code point (skipping the
    * surrogate block, which is not a valid code point) and drop what
    * follows; null when no code point can be incremented. */
  private[table] def incrementCodePoints(s: String): String = {
    val cps = s.codePoints().toArray
    var j = cps.length - 1
    while (j >= 0 && cps(j) >= Character.MAX_CODE_POINT) j -= 1
    if (j < 0) null
    else {
      var next = cps(j) + 1
      if (next >= Character.MIN_SURROGATE.toInt &&
          next <= Character.MAX_SURROGATE.toInt) next = 0xE000
      val out = new java.lang.StringBuilder()
      (0 until j).foreach(i => out.appendCodePoint(cps(i)))
      out.appendCodePoint(next)
      out.toString
    }
  }

  /** Unsigned UTF-8 byte comparison — the order Spark's UTF8String and
    * parquet binary stats use. Driver-side box math and the footer-stats
    * merge must match it, or a key outside ASCII could order differently
    * than the executor-side min/max did and wrongly skip a file; Java's
    * String.compareTo (UTF-16 code units) disagrees for supplementary
    * characters. */
  private[table] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Compare a manifest box value against a query bound: longs
    * numerically, strings in UTF-8 byte order. A type mismatch means
    * the bound doesn't match the manifest's box type — fail loudly
    * rather than silently not pruning (which would mask the caller's
    * type error forever). The planner-integrated path uses the lenient
    * [[boxCmpOpt]] instead: inside the optimizer a mismatch must
    * conservatively KEEP, never break the query. */
  private[table] def boxCmp(a: Any, b: Any): Int =
    boxCmpOpt(a, b).getOrElse(throw new IllegalArgumentException(
      s"box/bound type mismatch: ${a.getClass.getSimpleName} vs " +
        s"${b.getClass.getSimpleName} — the query bound must match the " +
        "manifest box type (long boxes for integral/timestamp/date " +
        "keys, string boxes for string keys)"))

  private[table] def boxCmpOpt(a: Any, b: Any): Option[Int] = {
    def fractional(v: Any): Boolean =
      v.isInstanceOf[java.lang.Double] || v.isInstanceOf[java.lang.Float]
    def integralN(v: Any): Boolean = v.isInstanceOf[Number] && !fractional(v)
    (a, b) match {
      // both fractional: IEEE total order via Double.compare (float
      // widens losslessly). A MIXED integral/fractional pair stays a
      // mismatch: silently comparing a long box against a double bound
      // would mask the caller's type error (and lose precision past
      // 2^53), exactly what the strict boxCmp exists to catch.
      case (x: Number, y: Number) if fractional(x) && fractional(y) =>
        Some(java.lang.Double.compare(x.doubleValue, y.doubleValue))
      case (x: Number, y: Number) if integralN(x) && integralN(y) =>
        Some(java.lang.Long.compare(x.longValue, y.longValue))
      case (x: String, y: String) => Some(utf8Cmp(x, y))
      case _ => None
    }
  }

  // ---- log stores ---------------------------------------------------

  /** The commit/publish strategy — the LogStore seam (Delta's LogStore
    * abstraction) made swappable. `rename` (default) requires atomic,
    * fail-if-destination-exists directory rename (POSIX local, HDFS).
    * `pointer` requires only atomic EXCLUSIVE CREATE of one small file
    * (HDFS `create(overwrite=false)`; S3 conditional PUT): the staged
    * dir stays where it was written and a pointer file `_ptr_v=N`
    * (content: the dir's name) is the atomic commit decision — the
    * commit path performs NO rename at all, so it survives stores whose
    * rename is copy+delete or mv-into-dir (LogStoreSpec proves it over
    * a deliberately broken-rename filesystem). */
  private[table] sealed trait LogStore {
    def name: String
    /** Commit `src` (a fully-written staging dir under `man`) as
      * version v. True iff OUR payload is the committed version. */
    def publish(fs: FileSystem, man: Path, v: Int, src: Path,
        witness: String): Boolean
    /** The committed dir of version v, which a listing holds. */
    def dirOf(fs: FileSystem, man: Path, v: Int): Path
    def committedVersions(fs: FileSystem, man: Path): Seq[Int]
    /** Expire a committed version (vacuum). */
    def expire(fs: FileSystem, man: Path, v: Int): Unit
  }

  private[table] case object RenameLogStore extends LogStore {
    val name = "rename"
    def publish(fs: FileSystem, man: Path, v: Int, src: Path,
        witness: String): Boolean =
      atomicPublish(fs, src, new Path(man, s"v=$v"), witness)
    def dirOf(fs: FileSystem, man: Path, v: Int): Path = new Path(man, s"v=$v")
    def committedVersions(fs: FileSystem, man: Path): Seq[Int] =
      listStatusSafe(fs, man)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
        .map(_.getPath.getName.drop(2).toInt).toSeq.sorted
    def expire(fs: FileSystem, man: Path, v: Int): Unit = {
      fs.delete(dirOf(fs, man, v), true)
      ()
    }
  }

  private[table] case object PointerLogStore extends LogStore {
    val name = "pointer"
    private def ptr(man: Path, v: Int) = new Path(man, s"_ptr_v=$v")
    def publish(fs: FileSystem, man: Path, v: Int, src: Path,
        witness: String): Boolean = {
      val p = ptr(man, v)
      if (fs.exists(p)) return false // fast-path loss
      try {
        // exclusive create decides the race; content names the payload
        // dir. The store must make create+write+close effectively
        // atomic (S3 conditional PUT is; HDFS is at close) — the same
        // per-store caveat Delta's FileSystem-based log stores carry.
        val out = fs.create(p, false)
        try out.write(src.getName.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
    def dirOf(fs: FileSystem, man: Path, v: Int): Path = {
      val p = ptr(man, v)
      // a listed pointer IS the commit decision; its content may trail
      // by the store's create→write gap (a store whose conditional PUT
      // uploads content atomically — S3 — has no gap at all). Bounded
      // retry bridges it; a pointer that stays empty is a crashed
      // writer mid-publish — fail loudly, never guess.
      var nm = ""
      var attempts = 0
      while (nm.isEmpty && attempts < 50) {
        nm = GraftTable.readText(fs, p).trim
        attempts += 1
        if (nm.isEmpty) Thread.sleep(20L)
      }
      require(nm.nonEmpty,
        s"torn pointer $p: committed but still empty — a writer " +
          "crashed between claiming the version and recording its " +
          "payload; delete the pointer to roll the version back")
      new Path(man, nm)
    }
    def committedVersions(fs: FileSystem, man: Path): Seq[Int] =
      listStatusSafe(fs, man)
        .filter(st => st.isFile && st.getPath.getName.startsWith("_ptr_v="))
        .map(_.getPath.getName.drop(7).toInt).toSeq.sorted
    def expire(fs: FileSystem, man: Path, v: Int): Unit = {
      // pointer FIRST (readers stop resolving), payload dir second
      val payload = dirOf(fs, man, v)
      fs.delete(ptr(man, v), false)
      fs.delete(payload, true)
      ()
    }
  }

  /** Schemes whose `create(overwrite=false)` is known atomic: HDFS
    * (namenode-arbitrated), local/checksum-local (File.createNewFile),
    * the repo's own `graft://` caching scheme (delegates to one of
    * those). Everything else must be declared via
    * `spark.graft.logstore.pointer.allowSchemes`. */
  private[table] val PointerSafeSchemes: Set[String] =
    Set("file", "hdfs", "viewfs", "graft")

  /** The atomic-exclusive-create capability gate shared by every race
    * arbitrated with `create(overwrite = false)` — the pointer log
    * store's version pointers AND the catalog's `.tbl` name
    * registration ([[GraftCatalog.createTable]]): on a store whose
    * exclusive create is check-then-act (raw S3 without conditional
    * PUT) two racing writers can BOTH believe they won. Rather than
    * trusting silently, an unknown scheme fails LOUDLY; an operator
    * who has verified their store declares it once via
    * `spark.graft.logstore.pointer.allowSchemes` — one declaration
    * covers both surfaces, they are the same storage capability. */
  private[table] def requireAtomicCreate(spark: SparkSession,
      fs: FileSystem, what: String): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
      .toLowerCase(java.util.Locale.ROOT)
    val allowed = PointerSafeSchemes ++
      spark.conf.get("spark.graft.logstore.pointer.allowSchemes", "")
        .split(",").map(_.trim.toLowerCase(java.util.Locale.ROOT))
        .filter(_.nonEmpty)
    require(allowed(scheme),
      s"$what needs ATOMIC exclusive create (fail-if-exists) from the " +
        s"store, and scheme '$scheme' is not known to provide it — a " +
        "check-then-act create lets two racing writers both claim the " +
        "same name/version (silent loss). If your store does provide " +
        "it (e.g. S3 conditional PUT), declare that explicitly: " +
        s"spark.graft.logstore.pointer.allowSchemes=$scheme")
  }

  private[table] def logStoreOf(name: String): LogStore = name match {
    case RenameLogStore.name => RenameLogStore
    case PointerLogStore.name => PointerLogStore
    case other => throw new IllegalArgumentException(
      s"unknown log store '$other' (supported: rename, pointer)")
  }

  /** A table's declared shape as persisted in its `_table_props` file —
    * what makes a manifest dir self-describing: a reader or writer
    * holding only the manifest path can reconstruct the full
    * [[GraftTable]] (the data-source `format("graft")` surface does
    * exactly that). `data` is absent for props written before round 10
    * recorded it. */
  final case class TableProps(key: Option[String], statsCols: Seq[String],
      bloomCols: Seq[String], data: Option[String],
      bloomItems: Long = DefaultBloomItems,
      bloomFpp: Double = DefaultBloomFpp,
      logStore: Option[String] = None,
      checks: Seq[(String, String)] = Nil,
      dmlModes: Map[String, String] = Map.empty,
      renames: Seq[(Int, String, String)] = Nil,
      schemaDetached: Boolean = false)

  /** The entries' OWN deletion-vector rows: for each entry carrying a
    * dv pointer, the (file, pos) rows recorded for THAT file inside
    * THAT dv parquet — a stale superseded position set for the same
    * data file inside a DIFFERENT (older) combined vector is excluded,
    * so counting these can never double-count a file's debt. None when
    * no entry carries a dv. Each dv parquet is read once (O(churn)
    * metadata-class scans, never a data file). Shared by the MoR
    * commit tail, [[GraftTable.filesDetail]] and OPTIMIZE's
    * minDvFraction debt math so the three can never disagree. */
  private[table] def ownDvRows(spark: SparkSession,
      entries: Array[Row]): Option[DataFrame] = {
    if (entries.isEmpty ||
        !entries.head.schema.fieldNames.contains("dv")) return None
    val pairs = entries.flatMap(r =>
      Option(r.getAs[String]("dv")).map(r.getAs[String]("file") -> _))
    if (pairs.isEmpty) None
    else Some(pairs.groupBy(_._2).map { case (dvp, fs) =>
      import spark.implicits._
      val own = fs.map(_._1).toSeq.toDF("file")
      // declared (file, pos) schema: no per-read footer-inference job
      spark.read.schema(dvSchema).parquet(dvp)
        .join(broadcast(own), Seq("file"), "left_semi")
    }.reduce(_.unionByName(_)))
  }

  /** A manifest entry's deletion-vector path — the ONE dv-encoding
    * probe, shared by the commit paths (instance `entryDv`) and the
    * NULL-census pruning guard. None for pre-MoR manifests (no `dv`
    * column) and DV-free entries alike. */
  private[table] def entryDvOf(r: Row): Option[String] =
    if (r.schema.fieldNames.contains("dv")) Option(r.getAs[String]("dv"))
    else None

  /** Statements with a declarable write mode and the legal modes. */
  private[table] val DmlStmts = Set("merge", "delete", "update")

  private[table] def validateDmlModes(modes: Map[String, String]): Unit =
    modes.foreach { case (s, m) =>
      require(DmlStmts(s),
        s"unknown DML-mode property 'mode.$s' — declarable statements: " +
          DmlStmts.toSeq.sorted.mkString(", "))
      require(m == "cow" || m == "mor",
        s"table prop 'mode.$s' must be cow or mor; got '$m'")
    }

  /** Default per-file bloom sizing: ~9.6 bits/item at 1% fpp =
    * ~78 KiB/file/column. The knob matters at scale — see docs/TABLE.md
    * ("Bloom sizing") for the per-file-NDV x driver-memory trade. */
  val DefaultBloomItems: Long = 65536L

  /** Target output-file size for envelope-sized COW rewrites
    * ([[GraftTable.sizedParts]]) — the Delta/Iceberg 128 MiB default. */
  val DefaultTargetFileBytes: Long = 128L << 20
  val DefaultBloomFpp: Double = 0.01

  /** Read a table's declared shape back from its props file; None when
    * absent (pre-props tables — readable, just not prunable from the
    * SQL surface). */
  def loadProps(spark: SparkSession, man: String): Option[TableProps] = {
    val p = new Path(man, PropsFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val txt = GraftTable.readText(fs, p)
      val kv = txt.linesIterator.flatMap { line =>
        line.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap
      Some(TableProps(kv.get("key").filter(_.nonEmpty),
        kv.get("stats").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        kv.get("bloom").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        kv.get("data").filter(_.nonEmpty),
        kv.get("bloom_items").map(_.toLong).getOrElse(DefaultBloomItems),
        kv.get("bloom_fpp").map(_.toDouble).getOrElse(DefaultBloomFpp),
        kv.get("logstore").filter(_.nonEmpty),
        kv.toSeq.collect { case (k, v) if k.startsWith("check.") &&
          v.nonEmpty => k.stripPrefix("check.") -> v }.sortBy(_._1),
        kv.collect { case (k, v) if k.startsWith("mode.") &&
          v.nonEmpty => k.stripPrefix("mode.") -> v },
        // rename events `rename.<v>.<i>=<old>:<new>`, replayed in
        // (version, ordinal) order to resolve logical->physical names
        kv.toSeq.collect { case (k, v) if k.startsWith("rename.") =>
          (k.stripPrefix("rename."), v)
        }.flatMap { case (vk, ev) =>
          (vk.split('.'), ev.split(":", 2)) match {
            case (Array(v, i), Array(o, n)) if v.forall(_.isDigit) &&
                i.forall(_.isDigit) =>
              Some(((v.toInt, i.toInt), (o, n)))
            case _ => None
          }
        }.sortBy(_._1).map { case ((v, _), (o, n)) => (v, o, n) },
        kv.get("schema_detached").contains("true")))
    }
  }

  /** A CHECK constraint's SQL text as a Column evaluable against a
    * batch with columns `present`: referenced columns the batch LACKS
    * substitute as NULL literals — parquet-by-name widening semantics
    * (a narrow-schema append after `ALTER TABLE ADD COLUMN c` +
    * `check.c_pos` must behave exactly as if c were read back: NULL,
    * which satisfies the check). Multi-part names pass through and fail
    * resolution loudly — graft tables are flat by construction.
    * Presence is decided with the session resolver (case-insensitive
    * unless spark.sql.caseSensitive) — a batch written as `O_CUSTKEY`
    * against `check.o_custkey` is the SAME column to Spark's analyzer,
    * so it must be the same column to the constraint; substituting
    * NULL there would silently satisfy the check on a violating batch. */
  private[table] def checkColumn(spark: SparkSession, text: String,
      present: Set[String],
      toPhys: Map[String, String] = Map.empty): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Literal
    val resolver = spark.sessionState.conf.resolver
    val parsed = spark.sessionState.sqlParser.parseExpression(text)
    org.apache.spark.sql.GraftSqlBridge.column(parsed.transformUp {
      // `toPhys` maps renamed LOGICAL names to the frozen PHYSICAL
      // names (column mapping): a check declared against a post-rename
      // name must evaluate against the physical bytes when this
      // expression runs over raw staged files (fileStats) — without
      // the mapping the attribute would miss `present` and substitute
      // NULL, silently satisfying the constraint on violating batches
      case ua: UnresolvedAttribute if ua.nameParts.length == 1 =>
        val target = toPhys.collectFirst {
          case (l, p) if resolver(l, ua.name) => p
        }.getOrElse(ua.name)
        if (!present.exists(resolver(_, target)))
          Literal(null, org.apache.spark.sql.types.NullType)
        else if (target == ua.name) ua
        else UnresolvedAttribute(Seq(target))
    })
  }

  /** Declaration-time validation of one CHECK constraint: the name is a
    * plain identifier, the expression parses, carries no subquery (it
    * must evaluate per-row inside every future write's stats scan),
    * references only declared table columns, and type-checks to
    * BOOLEAN against the table schema. Loud on every failure — a
    * constraint that cannot be enforced must never be recorded. */
  private[table] def validateCheck(spark: SparkSession, name: String,
      text: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_]+"),
      s"CHECK constraint name '$name' must be a plain identifier " +
        "([A-Za-z0-9_]+)")
    require(!text.contains("\n") && text.trim.nonEmpty,
      s"CHECK constraint '$name' must be a non-empty single-line SQL " +
        "boolean expression")
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(text)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"CHECK constraint '$name' does not parse: '$text' " +
          s"(${e.getMessage})") }
    require(!org.apache.spark.sql.catalyst.expressions.SubqueryExpression
        .hasSubquery(parsed),
      s"CHECK constraint '$name' must not contain a subquery — it is " +
        "evaluated per-row inside every write's stats scan")
    val cols = schema.fieldNames.toSet
    val resolver = spark.sessionState.conf.resolver
    parsed.foreach {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        require(ua.nameParts.length == 1 &&
            cols.exists(resolver(_, ua.name)),
          s"CHECK constraint '$name' references unknown column " +
            s"'${ua.name}' — table columns: ${cols.toSeq.sorted.mkString(", ")}")
      case _ =>
    }
    val typed = spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema)
      .select(org.apache.spark.sql.GraftSqlBridge.column(parsed).as("c"))
      .schema.head.dataType
    require(typed == org.apache.spark.sql.types.BooleanType,
      s"CHECK constraint '$name' must be BOOLEAN; '$text' is " +
        s"${typed.simpleString}")
  }

  /** A v1 [[org.apache.spark.sql.sources.Filter]] as a Column row
    * predicate — the DELETE rewrite's filter. The v1 filter algebra is
    * covered completely (comparisons, IN, null tests, string matches,
    * AND/OR/NOT, Always*); an unknown future filter class fails loudly
    * naming the `graft_delete` TVF fallback rather than guessing.
    * Values are external Scala/Java types (Timestamp, Date, BigDecimal,
    * ...) exactly as Spark's filter translation produced them — `lit`
    * round-trips them all. */
  private[table] def v1FilterColumn(
      f: org.apache.spark.sql.sources.Filter): Column = {
    import org.apache.spark.sql.{sources => s}
    // attribute names arrive dot-separated for nested fields; graft
    // tables are flat by construction, so quote the whole name — a
    // column literally named "a.b" must not resolve as a struct path
    def c(n: String): Column = col("`" + n.replace("`", "``") + "`")
    f match {
      case s.AlwaysTrue() => lit(true)
      case s.AlwaysFalse() => lit(false)
      case s.EqualTo(a, v) => c(a) === lit(v)
      case s.EqualNullSafe(a, v) => c(a) <=> lit(v)
      case s.GreaterThan(a, v) => c(a) > lit(v)
      case s.GreaterThanOrEqual(a, v) => c(a) >= lit(v)
      case s.LessThan(a, v) => c(a) < lit(v)
      case s.LessThanOrEqual(a, v) => c(a) <= lit(v)
      // a DELETE's IN-list is user-typed SQL text, not data-derived —
      // bounded by construction, so the literal list is fine here
      case s.In(a, vs) => c(a).isin(vs.toIndexedSeq: _*)
      case s.IsNull(a) => c(a).isNull
      case s.IsNotNull(a) => c(a).isNotNull
      case s.StringStartsWith(a, p) => c(a).startsWith(p)
      case s.StringEndsWith(a, p) => c(a).endsWith(p)
      case s.StringContains(a, p) => c(a).contains(p)
      case s.Not(child) => !v1FilterColumn(child)
      case s.And(l, r) => v1FilterColumn(l) && v1FilterColumn(r)
      case s.Or(l, r) => v1FilterColumn(l) || v1FilterColumn(r)
      case other => throw new UnsupportedOperationException(
        s"DELETE predicate '$other' is not supported by the graft " +
          "row-level delete — rewrite the condition, or use the " +
          "graft_delete TVF for a key-range delete")
    }
  }

  /** A small file's whole content as UTF-8 text. */
  private[table] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** listStatus that treats a missing directory as empty (the Hadoop
    * API throws FileNotFoundException where java.io returned null). */
  private[table] def listStatusSafe(fs: FileSystem, dir: Path)
      : Array[FileStatus] =
    try fs.listStatus(dir)
    catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }

  /** Driver-side direct read of a small parquet dir (or single file):
    * every row of every part, with NO Spark job — the ONE driver-side
    * decoder, behind manifest planning ([[readManifestRows]]) and the
    * frozen ANN models (`graft.operators.AnnIndex`). Loading O(#files)
    * or O(model) driver-side state must not schedule cluster work (the
    * Delta-log shape: a query's file-skipping step costs footer+page
    * reads on the driver, not a job the whole cluster queues behind).
    * Decodes primitive columns (string, binary, long, int, double,
    * float, boolean) and Spark's 3-level list of one of them; any other
    * shape — a nested group, an annotated integer (DATE, TIMESTAMP,
    * INT_8, unsigned, ...) that Spark reads as another type — fails
    * loudly rather than decoding differently from `spark.read.parquet`.
    * Rows carry their schema
    * ([[org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema]])
    * so `getAs[T](name)` works exactly as on collected Spark rows. Goes
    * through the path's own [[FileSystem]], so `graft://` paths read
    * through the cache like everything else. */
  private[graft] def readParquetRows(spark: SparkSession, dirPath: String)
      : (Seq[Row], StructType) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.schema.{PrimitiveType, Type}
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._

    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dirPath)
    val fs = root.getFileSystem(conf)
    // one LIST, no HEAD: a missing dir fails loudly, and a file path
    // lists as itself
    val listed = fs.listStatus(root)
    val parts =
      if (listed.length == 1 && listed.head.getPath == fs.makeQualified(root))
        listed
      else listed.filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".")
      }
    require(parts.nonEmpty, s"$dirPath contains no parquet files")

    // the type Spark's reader gives a primitive column, where the
    // decoder yields the same values
    def sparkType(p: PrimitiveType): DataType = {
      val ann = p.getLogicalTypeAnnotation
      def plainInt(bits: Int): Boolean = ann match {
        case null => true
        case i: IntLogicalTypeAnnotation =>
          i.isSigned && i.getBitWidth == bits
        case _ => false
      }
      p.getPrimitiveTypeName match {
        case BINARY if ann.isInstanceOf[StringLogicalTypeAnnotation] =>
          StringType
        case BINARY if ann == null => BinaryType
        case INT64 if plainInt(64) => LongType
        case INT32 if plainInt(32) => IntegerType
        case DOUBLE => DoubleType
        case FLOAT => FloatType
        case BOOLEAN => BooleanType
        case other => throw new IllegalArgumentException(
          s"field '${p.getName}' in $dirPath has parquet type $other" +
            Option(ann).fold("")(a => s" ($a)") + " — the driver-side " +
            "decoder reads string, binary, long, int, double, float and " +
            "boolean columns")
      }
    }
    def field(f: Type): StructField = {
      val repeated = Type.Repetition.REPEATED
      if (f.isPrimitive && !f.isRepetition(repeated))
        StructField(f.getName, sparkType(f.asPrimitiveType()))
      else {
        // Spark's 3-level list:
        // group (LIST) { repeated group list { <optional|required> element } }
        val elem = Some(f).filter(t => !t.isPrimitive &&
            t.getLogicalTypeAnnotation.isInstanceOf[ListLogicalTypeAnnotation] &&
            t.asGroupType().getFieldCount == 1)
          .map(_.asGroupType().getType(0))
          .filter(r => !r.isPrimitive && r.isRepetition(repeated) &&
            r.asGroupType().getFieldCount == 1)
          .map(_.asGroupType().getType(0))
          .filter(e => e.isPrimitive && !e.isRepetition(repeated))
        require(elem.isDefined, s"field '${f.getName}' in $dirPath is " +
          "neither a primitive nor a list of primitives")
        StructField(f.getName, ArrayType(sparkType(elem.get.asPrimitiveType())))
      }
    }
    def value(g: Group, i: Int, dt: DataType): Any = dt match {
      case StringType => g.getString(i, 0)
      case BinaryType => g.getBinary(i, 0).getBytes
      case LongType => g.getLong(i, 0)
      case IntegerType => g.getInteger(i, 0)
      case DoubleType => g.getDouble(i, 0)
      case FloatType => g.getFloat(i, 0)
      case BooleanType => g.getBoolean(i, 0)
      case ArrayType(et, _) =>
        val lst = g.getGroup(i, 0)
        IndexedSeq.tabulate(lst.getFieldRepetitionCount(0)) { j =>
          val e = lst.getGroup(0, j)
          if (e.getFieldRepetitionCount(0) == 0) null else value(e, 0, et)
        }
      case other => throw new IllegalStateException(other.toString)
    }

    var sparkSchema: StructType = null
    var firstMsg: org.apache.parquet.schema.MessageType = null
    val out = Seq.newBuilder[Row]
    parts.foreach { st =>
      val reader =
        ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try {
        val msg = reader.getFooter.getFileMetaData.getSchema
        // rows are decoded by FIELD INDEX against the first footer's
        // schema, so a part whose column order/types drifted (a dir
        // grown by separate append jobs) must fail loudly, never
        // decode shifted
        if (firstMsg == null) firstMsg = msg
        else require(msg == firstMsg,
          s"part ${st.getPath.getName} schema differs from the first " +
            s"part's — $dirPath mixes writer schemas:\n$msg\nvs\n" +
            firstMsg)
        if (sparkSchema == null) sparkSchema = StructType(
          (0 until msg.getFieldCount).map(i => field(msg.getType(i))))
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val recReader = new ColumnIOFactory().getColumnIO(msg)
            .getRecordReader(pages, new GroupRecordConverter(msg))
          var r = 0L
          while (r < pages.getRowCount) {
            val g = recReader.read()
            val vals = new Array[Any](sparkSchema.length)
            var i = 0
            while (i < sparkSchema.length) {
              vals(i) =
                if (g.getFieldRepetitionCount(i) == 0) null
                else value(g, i, sparkSchema(i).dataType)
              i += 1
            }
            out += new GenericRowWithSchema(vals, sparkSchema)
            r += 1
          }
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    (out.result(), sparkSchema)
  }

  /** Driver-side direct read of a manifest dir (or single file):
    * [[readParquetRows]] plus the manifest contract — manifests are
    * flat primitive schemas by construction (`file`/`lo`/`hi`/
    * `n_rows`/`bytes`/`lo_*`/`hi_*` longs+string, `bloom_*` binary), so
    * any other field fails loudly. Parity with
    * `spark.read.parquet(...).collect()` — values, schema, NULL boxes,
    * binary sketches, multi-part dirs — is locked by
    * ManifestDirectReadSpec, which also asserts the zero-job contract. */
  def readManifestRows(spark: SparkSession, dirPath: String)
      : (Seq[Row], StructType) = {
    val (rows, schema) = readParquetRows(spark, dirPath)
    schema.fields.find(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType]).foreach { f =>
      throw new IllegalArgumentException(s"manifest field '${f.name}' in " +
        s"$dirPath is not a flat primitive — not a graft manifest")
    }
    (rows, schema)
  }

  /** Driver-side direct WRITE of manifest rows as ONE parquet part file
    * — the mirror of [[readManifestRows]], and the ONE manifest writer:
    * COMMITTING a manifest is O(#files) driver work, so it must not
    * schedule a Spark job (a Spark write burns a full job + AQE
    * planning round per commit — pure fixed overhead at every scale).
    * Same flat-primitive type set as the read side; parity with the
    * Spark-written form (schema, values, NULL boxes, binary sketches,
    * empty manifests) is locked by ManifestDirectReadSpec. A column
    * outside the manifest contract fails loudly before anything is
    * created. */
  def writeManifestRows(rows: Seq[Row], schema: StructType, dir: Path,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.io.api.Binary
    import org.apache.spark.sql.types._
    val builder = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case StringType =>
          Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.optional(BINARY)
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case DoubleType => Types.optional(DOUBLE)
        case FloatType => Types.optional(FLOAT)
        case BooleanType => Types.optional(BOOLEAN)
        case other => throw new IllegalArgumentException(
          s"manifest column '${f.name}' has type $other — outside the " +
            "manifest contract (string, binary, long, int, double, " +
            "float, boolean); nothing was committed")
      }
      builder.addField(t.named(f.name))
    }
    val msg = builder.named("spark_schema")
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val out = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(out, conf))
      .withConf(conf).withType(msg)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      val gf = new SimpleGroupFactory(msg)
      rows.foreach { r =>
        val g = gf.newGroup()
        var i = 0
        while (i < schema.length) {
          if (!r.isNullAt(i)) schema(i).dataType match {
            case StringType => g.append(schema(i).name, r.getString(i))
            case BinaryType => g.append(schema(i).name,
              Binary.fromConstantByteArray(r.getAs[Array[Byte]](i)))
            case LongType => g.append(schema(i).name, r.getLong(i))
            case IntegerType => g.append(schema(i).name, r.getInt(i))
            case DoubleType => g.append(schema(i).name, r.getDouble(i))
            case FloatType => g.append(schema(i).name, r.getFloat(i))
            case BooleanType => g.append(schema(i).name, r.getBoolean(i))
            case dt => throw new IllegalStateException(dt.toString)
          }
          i += 1
        }
        w.write(g)
      }
    } finally w.close()
  }

  /** Create an empty marker file; true if it exists when we are done —
    * a concurrent creator of the SAME marker is success, not failure
    * (markers are empty, content-free). */
  private[table] def touch(fs: FileSystem, p: Path): Boolean =
    try { fs.create(p, false).close(); true }
    catch { case _: java.io.IOException => fs.exists(p) }

  /** The ONE atomic publish decision — the log-store seam (Delta's
    * LogStore): commit `src` (a fully-written staging dir) as `dst`.
    * True iff OUR payload is the committed version. Default impl is
    * rename-based and requires a store where directory rename is
    * atomic and fails when the destination exists (POSIX local, HDFS).
    * Object stores without atomic rename (raw S3) must replace this
    * seam with a putIfAbsent-style coordinator.
    *
    * `witness` is a marker file known to exist inside `src`: stores
    * with POSIX mv-into-dir semantics can "succeed" a rename by moving
    * `src` INSIDE an existing `dst` — the witness check catches that
    * (our payload is not AT dst), undoes the nesting, and reports the
    * race as lost. */
  private[table] def atomicPublish(fs: FileSystem, src: Path, dst: Path,
      witness: String): Boolean = {
    if (fs.exists(dst)) return false // fast-path loss
    val renamed = try fs.rename(src, dst)
                  catch { case _: java.io.IOException => false }
    if (!renamed) false
    else if (fs.exists(new Path(dst, witness))) true
    else {
      val nested = new Path(dst, src.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
      false
    }
  }

  /** Range-cluster `df` on `key` into `nParts` sorted partitions and
    * hand the shaped frame to `sink` — the layout shared by table
    * creation ([[GraftTable!.create]]) and every commit write
    * ([[GraftTable!.stagedAppend]]). */
  private[table] def clustered[T](df: DataFrame, key: String, nParts: Int)
      (sink: DataFrame => T): T = {
    // Single-partition writes need no range bounds: a round-robin
    // repartition(1) + local sort produces the identical one sorted
    // file WITHOUT repartitionByRange's sampling pass (which executes
    // the whole input plan an extra time just to learn there is
    // nothing to split).
    if (nParts <= 1) return sink(df.repartition(1).sortWithinPartitions(key))
    // A multi-partition range-clustered write SAMPLES its input to
    // compute partition bounds, so the batch's plan executes TWICE
    // (sample pass + shuffle pass). For a COMPUTED batch — merge
    // survivors, MoR rewrites, encoded churn: anything with a join/
    // agg/union/generate/window in it — persist so the second pass
    // reads the cache instead of recomputing the pipeline (guide §5:
    // cache exactly what is reused and expensive). A bare scan/local
    // batch recomputes cheaper than it caches, and an already-cached
    // batch needs nothing.
    val worthCaching = {
      import org.apache.spark.sql.catalyst.plans.logical._
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      val p = df.queryExecution.optimizedPlan
      !p.isInstanceOf[InMemoryRelation] && p.collectFirst {
        case n @ (_: Join | _: Aggregate | _: Union | _: Generate |
          _: Window) => n
      }.isDefined
    }
    val mat =
      if (worthCaching)
        Some(df.persist(org.apache.spark.storage.StorageLevel
          .MEMORY_AND_DISK))
      else None
    try sink(mat.getOrElse(df).repartitionByRange(nParts, col(key))
      .sortWithinPartitions(key))
    finally { mat.foreach(_.unpersist(blocking = false)); () }
  }

  /** A z-order dimension's ordered-numeric embedding (double space) —
    * the same type families the box codecs order, so anything the
    * manifest can prune on can be clustered on: integral/float/decimal
    * cast to double, timestamp as micros, date as days, boolean as
    * 0/1, string by [[graft.functions.ZOrder.strPrefixLong]] (first 6
    * UTF-8 bytes big-endian — monotone in code-point order, exactly
    * double-representable). Clustering-quality only: per-file boxes are
    * re-recorded from the true values after the rewrite, so a lossy
    * embedding can never mis-prune. Loud on unsupported types. */
  private[table] def zGridNumeric(dt: org.apache.spark.sql.types.DataType,
      c: String, man: String): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(c).cast("double")
      // NaN -> NULL (clusters at the grid origin like NULL): Spark's
      // max() ranks NaN above every double, so ONE NaN row would make
      // hi = NaN and poison the whole dimension's normalization
      case FloatType | DoubleType =>
        nanvl(col(c).cast("double"), lit(null).cast("double"))
      case _: DecimalType => col(c).cast("double")
      case TimestampType | TimestampNTZType =>
        unix_micros(col(c).cast("timestamp")).cast("double")
      case DateType => unix_date(col(c)).cast("double")
      case BooleanType => col(c).cast("long").cast("double")
      case StringType =>
        graft.functions.ZOrder.str_prefix_long(col(c)).cast("double")
      case other => throw new IllegalArgumentException(
        s"z-order dimension '$c' of $man has type $other — supported: " +
          "integral, float/double, decimal, date, timestamp, string, " +
          "boolean")
    }
  }

  /** Bloom columns accept what [[graft.functions.BloomFilterBuildAgg]]
    * hashes losslessly: integral types (put as long) and strings (put
    * as UTF-8 bytes). Anything else — a double whose long cast
    * collides, a binary a reader can't re-encode identically — would
    * make a probe miss a present key, i.e. a FALSE SKIP. */
  private[table] def requireBloomable(df: DataFrame, c: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType, StringType}
    val dt = df.schema(c).dataType
    require(dt == ByteType || dt == ShortType || dt == IntegerType ||
      dt == LongType || dt == StringType,
      s"bloom stats require an integral or string column; got $dt for '$c'")
  }

  /** Driver-side bloom probe used by manifest planning: does `bytes`
    * (a serialized per-file sketch for column `c`) possibly contain
    * `probe` (Long for integral columns, String for string columns —
    * matching what the build side put)? NULL sketch bytes (a
    * pre-bloom manifest entry read through a newer declaration) keep
    * the file — never skip on absent evidence. */
  private[table] def bloomMightContain(bytes: Array[Byte], probe: Any): Boolean =
    bytes == null || (probe match {
      case l: Long => graft.functions.BloomAgg.mightContainLong(bytes, l)
      case s: String => graft.functions.BloomAgg.mightContainString(bytes, s)
      case other => true // unknown probe type: conservative keep
    })

  /** Conservative box test: a NULL box (all-NULL column in that file —
    * legal for non-key stats columns; a truncation-overflowed string
    * hi) can rule nothing out, so the file is kept. Bounds are Long for
    * integral/timestamp/date boxes, String for string boxes. */
  private[table] def boxIntersects(r: Row, loCol: String, hiCol: String,
      qlo: Any, qhi: Any): Boolean = {
    val lo = r.getAs[Any](loCol); val hi = r.getAs[Any](hiCol)
    lo == null || hi == null ||
      (boxCmp(hi, qlo) >= 0 && boxCmp(lo, qhi) <= 0)
  }

  /** A deletion vector's (file, row-position) schema — the Iceberg v2
    * position-delete shape. Positions come from parquet's
    * `_metadata.row_index`, stable as long as the file is; each MoR
    * commit writes one vector and the manifest's `dv` column points
    * each masked entry at it. */
  val dvSchema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))
}
