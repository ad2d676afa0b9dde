package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Pure-SQL surface for GraftTable time travel (the q108 capability
  * from `spark.sql(...)` text — the asof_match pattern applied to a
  * RELATION, so it is a table function, not a scalar marker):
  *
  * {{{
  *   SELECT * FROM graft_snapshot('<manifestDir>', 2)                       -- VERSION AS OF
  *   SELECT * FROM graft_snapshot('<manifestDir>', TIMESTAMP'2026-08-13 12:00:00')  -- TIMESTAMP AS OF
  * }}}
  *
  * Resolution reads version v's manifest — O(#files), driver-resident,
  * exactly like every other manifest-planning step — and returns the
  * parquet relation over the snapshot's file list. A timestamp second
  * argument resolves to the latest version committed at or before it
  * (Delta's TIMESTAMP AS OF). Data files are never listed or opened
  * for planning; the committed manifest alone names them, so the scan
  * is snapshot-isolated by construction (the manifest version is
  * immutable once the atomic rename commits it). Injected by
  * [[graft.GraftExtensions]] via `injectTableFunction`.
  */
object SnapshotSql {

  private val usage =
    "graft_snapshot(tableRef, versionOrTimestamp): tableRef a literal " +
      "STRING — a GraftTable manifest directory (containing v=N subdirs) " +
      "or a registered 'catalog.namespace.table' name; second arg a " +
      "literal INT version of a committed snapshot, or a TIMESTAMP " +
      "literal resolving to the latest snapshot committed at or before it"

  /** Every TVF's first argument resolves through here: a manifest
    * DIRECTORY path, or a name-addressed `catalog.namespace.table`
    * identifier registered in a [[GraftCatalog]] — Delta's DML is
    * name-first, and a user who registered `gq.db.docs` should never
    * need to know its manifest path to run DELETE or OPTIMIZE
    * (VERDICT r12 #2). A 3-segment dotted ref whose first segment
    * names a REGISTERED session catalog resolves through that
    * catalog's registry (unknown table inside it fails with the
    * catalog's own NoSuchTableException); naming a catalog that is
    * not a GraftCatalog fails loudly — these TVFs commit through
    * graft's own protocol and must not silently treat `iceberg.db.t`
    * as a relative path. Anything else — including dotted relative
    * paths and URIs — passes through verbatim as a path. */
  private[table] def resolveRef(spark: SparkSession, ref: String,
      fail: String => Nothing): String = {
    val parts = ref.split('.')
    if ((parts.length == 2 || parts.length == 3) &&
        parts.forall(_.nonEmpty) &&
        !ref.exists(c => c == '/' || c == ':' || c == '\\')) {
      val plugin =
        try Some(spark.sessionState.catalogManager.catalog(parts(0)))
        catch {
          case _: org.apache.spark.sql.connector.catalog
            .CatalogNotFoundException => None // not a catalog: a path
        }
      plugin match {
        case Some(g: GraftCatalog) =>
          // 2-segment refs resolve against the catalog's default
          // namespace, matching what `SELECT * FROM gq.t` means in SQL
          val id =
            if (parts.length == 3)
              org.apache.spark.sql.connector.catalog.Identifier.of(
                Array(parts(1)), parts(2))
            else org.apache.spark.sql.connector.catalog.Identifier.of(
              g.defaultNamespace(), parts(1))
          return g.manifestOf(id)
        case Some(other) =>
          fail(s"'$ref' names catalog '${parts(0)}' " +
            s"(${other.getClass.getName}), which is not a graft " +
            "catalog — name-addressed graft maintenance works only on " +
            "tables registered in a graft.table.GraftCatalog")
        case None =>
          // the ref is a path — but a dotted-3 path that holds no graft
          // table at all, in a session WITH registered graft catalogs,
          // is almost certainly a typo'd catalog name: fail with the
          // registered names instead of the bare manifest error
          if (parts.length == 3) {
            val gcats = registeredGraftCatalogs(spark)
            val holdsTable = scala.util.Try {
              GraftTable.loadProps(spark, ref).isDefined ||
                !GraftTable(spark, data = "", man = ref, key = "")
                  .snapshot().isEmpty
            }.getOrElse(false)
            if (gcats.nonEmpty && !holdsTable)
              fail(s"no committed snapshots under '$ref' — " +
                s"'${parts(0)}' names no registered catalog and no " +
                "graft manifest exists at that relative path; " +
                s"registered graft catalog(s): ${gcats.mkString(", ")} " +
                "(a dotted ref whose head names no catalog falls " +
                "through to path semantics)")
          }
      }
    }
    ref
  }

  /** Session catalog names configured as [[GraftCatalog]]s — the typo
    * hint's candidate list. Conf-derived (`spark.sql.catalog.<name>`),
    * so unloaded-but-configured catalogs are named too. */
  private def registeredGraftCatalogs(spark: SparkSession): Seq[String] = {
    val P = """spark\.sql\.catalog\.([^.]+)""".r
    spark.conf.getAll.collect {
      case (P(n), v) if v == classOf[GraftCatalog].getName => n
    }.toSeq.sorted
  }

  private val fail = failWith(usage) _

  private def failWith(usage: String)(detail: String): Nothing =
    throw new IllegalArgumentException(s"$detail\n$usage")

  /** A TVF's first argument: a literal manifest dir or catalog name,
    * resolved through [[resolveRef]]. */
  private def tableArg(e: Expression, fail: String => Nothing): String =
    e match {
      case Literal(s: UTF8String, StringType) =>
        resolveRef(SparkSession.active, s.toString, fail)
      case other => fail(s"manifestDir must be a string literal; got '$other'")
    }

  /** `body`'s snapshot, its version failure re-raised through the TVF's
    * own `fail` so the message carries the usage text. */
  private def orFail[T](fail: String => Nothing)(body: => T): T =
    try body
    catch { case e: IllegalArgumentException => fail(e.getMessage) }

  def plan(es: Seq[Expression]): LogicalPlan = {
    if (es.length != 2) fail(s"graft_snapshot takes 2 arguments, got ${es.length}")
    val man = tableArg(es.head, fail)
    val spark = SparkSession.active
    val table = GraftTable(spark, data = "", man = man, key = "")
    val snap = es(1) match {
      case Literal(i: Int, IntegerType) =>
        orFail(fail)(table.snapshot(Some(i)).requireTable())
      case Literal(l: Long, LongType) =>
        if (l < 1 || l > Int.MaxValue) // no silent toInt wraparound
          fail(s"version $l out of range [1, ${Int.MaxValue}]")
        orFail(fail)(table.snapshot(Some(l.toInt)).requireTable())
      case Literal(us: Long, TimestampType) => // TIMESTAMP AS OF: micros UTC
        orFail(fail)(table.snapshot().asOfTime(us / 1000L))
      case Literal(null, _) =>
        fail("versionOrTimestamp must not be NULL")
      case other =>
        fail(s"version must be an integer or timestamp literal; got '$other'")
    }
    snapshotPlan(spark, snap)
  }

  /** The logical plan of snapshot v — a prunable [[GraftSnapshotRelation]]
    * (or the analyzed MoR read when the snapshot carries live deletion
    * vectors). Shared by the `graft_snapshot` TVF and the name-addressed
    * catalog ([[GraftCatalog]]), so both surfaces prune identically. */
  private[table] def snapshotPlan(spark: SparkSession,
      snap: LogSnapshot): LogicalPlan = {
    val (man, v) = (snap.man, snap.version)
    val entries = snap.rows.toSeq // O(#files) planning
    // a snapshot carrying live deletion vectors (MoR merges pending
    // compaction) cannot be a plain file-list relation: masked rows
    // must be anti-joined out. It plans as the analyzed MoR read —
    // Catalyst still pushes filters and column pruning into the scans
    // beneath the union/anti-join; manifest FILE pruning for such
    // snapshots returns after graft_optimize folds the DVs back in
    // (the read-side cost of MoR's O(batch) writes, by design).
    if (snap.hasLiveDvs)
      return org.apache.spark.sql.GraftSqlBridge.analyzed(
        snap.table.readAsOf(snap))
    // schema from the commit's own _schema.ddl when recorded (zero
    // data-file footer reads at planning — the Delta-log shape);
    // pre-round-11 manifests fall back to footer inference
    val output = snap.dataSchema.map(f =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        f.name, f.dataType, f.nullable, f.metadata)()).toSeq
    // Table properties (key + stats columns) make the scan PRUNABLE:
    // SnapshotPruneRule can then fold WHERE conjuncts into manifest box
    // pruning. Tables created before the props file existed resolve with
    // no prunable columns — same full-file scan as before, never wrong.
    val props = GraftTable.loadProps(spark, man)
      .getOrElse(GraftTable.TableProps(None, Nil, Nil, None))
    val (key, statsCols, bloomCols) =
      (props.key, props.statsCols, props.bloomCols)
    val manCols = entries.headOption.map(_.schema.fieldNames.toSet)
      .getOrElse(Set.empty[String])
    GraftSnapshotRelation(man, v,
      key.filter(_ => manCols("lo") && manCols("hi")),
      statsCols.filter(c => manCols(s"lo_$c") && manCols(s"hi_$c")),
      bloomCols.filter(c => manCols(s"bloom_$c")),
      entries, snap.files, output,
      colmap = snap.table.logicalToPhysical(v))
  }

  private val changesUsage =
    "graft_changes(tableRef, vFrom, vTo): tableRef a manifest dir or a registered catalog.ns.table name; row-level change feed " +
      "between two committed snapshots — (key, old_<c>.., new_<c>.., op " +
      "in insert|update|delete). Reads only the CHURNED files (the " +
      "versions' symmetric difference); the table key comes from " +
      "_table_props"

  private val failChanges = failWith(changesUsage) _

  /** `SELECT * FROM graft_changes('<man>', 1, 2)` — [[GraftTable.cdc]]
    * from pure SQL text, completing the SQL surface (travel via
    * graft_snapshot, skipping via SnapshotPruneRule, changes here). */
  def changesPlan(es: Seq[Expression]): LogicalPlan = {
    if (es.length != 3)
      failChanges(s"graft_changes takes 3 arguments, got ${es.length}")
    val man = tableArg(es.head, failChanges)
    def intArg(e: Expression, name: String): Int = e match {
      case Literal(i: Int, IntegerType) => i
      case Literal(l: Long, LongType) if l >= 1 && l <= Int.MaxValue => l.toInt
      case other => failChanges(s"$name must be an integer literal; got '$other'")
    }
    val (vFrom, vTo) = (intArg(es(1), "vFrom"), intArg(es(2), "vTo"))
    val spark = SparkSession.active
    val key = GraftTable.loadProps(spark, man).flatMap(_.key).getOrElse(
      failChanges(s"$man carries no _table_props key — graft_changes " +
        "needs a table created through GraftTable/format(\"graft\")"))
    val table = GraftTable(spark, data = "", man = man, key = key)
    val Seq(from, to) = Seq(vFrom, vTo).map(v =>
      orFail(failChanges)(table.snapshot(Some(v)).requireTable()))
    org.apache.spark.sql.GraftSqlBridge.analyzed(table.cdc(from, to))
  }

  private[table] val historyUsage: String =
    "usage: graft_history('<manifestDir-or-catalog.ns.table>') — one row per committed " +
      "version: (version, n_files, n_rows, bytes, data_change, commit_ts)"

  /** `SELECT * FROM graft_history('<man>')` — [[GraftTable.history]]
    * from pure SQL (Delta's DESCRIBE HISTORY). */
  private[table] val filesUsage: String =
    "usage: graft_files('<manifestDir-or-catalog.ns.table>'[, version]) " +
      "— one row per manifest entry of the snapshot (default: latest): " +
      "every manifest column verbatim (file, key/stats boxes, blooms, " +
      "n_rows = LIVE rows, bytes, dv) plus masked_rows, the entry's " +
      "deletion-vector debt. Reads manifests + DV files only, never a " +
      "data file — DESCRIBE DETAIL-grade maintenance observability"

  /** `SELECT * FROM graft_files('<man>'[, v])` —
    * [[GraftTable.filesDetail]] from pure SQL: which files carry masks
    * worth folding, which are undersized, what the live/physical skew
    * is. */
  def filesPlan(es: Seq[Expression]): LogicalPlan = {
    val fail = failWith(filesUsage) _
    if (es.isEmpty || es.length > 2)
      fail(s"graft_files takes 1 or 2 arguments, got ${es.length}")
    val man = tableArg(es.head, fail)
    val spark = SparkSession.active
    val table = GraftTable(spark, data = "", man = man, key = "")
    val v = es.drop(1).headOption.map {
      case Literal(i: Int, IntegerType) => i
      case Literal(l: Long, LongType) =>
        if (l < 1 || l > Int.MaxValue) fail(s"version $l out of range")
        l.toInt
      case other => fail(s"version must be an integer literal; got '$other'")
    }
    val snap = orFail(fail)(table.snapshot(v).requireTable())
    org.apache.spark.sql.GraftSqlBridge.analyzed(table.filesDetail(snap))
  }

  def historyPlan(es: Seq[Expression]): LogicalPlan = {
    val fail = failWith(historyUsage) _
    if (es.length != 1)
      fail(s"graft_history takes 1 argument, got ${es.length}")
    val man = tableArg(es.head, fail)
    val spark = SparkSession.active
    val table = GraftTable(spark, data = "", man = man, key = "")
    val log = orFail(fail)(table.snapshot().requireTable())
    org.apache.spark.sql.GraftSqlBridge.analyzed(table.history(log))
  }

  private[table] val optimizeUsage: String =
    "usage: graft_optimize('<manifestDir-or-catalog.ns.table>', targetBytes) — bin-pack the " +
      "latest snapshot's sub-target files into ~targetBytes files as a " +
      "new layout-only (dataChange=false) snapshot commit; returns one " +
      "row (compacted_files, latest_version). A maintenance PROCEDURE " +
      "surfaced as a TVF: the compaction runs when the statement is " +
      "planned, once per spark.sql() call"

  /** `SELECT * FROM graft_optimize('<man>', 128*1024*1024)` —
    * [[GraftTable.commitCompaction]] from pure SQL (Delta's OPTIMIZE).
    * The table's shape comes from `_table_props`, so the call needs
    * nothing but the manifest path. */
  def optimizePlan(es: Seq[Expression]): LogicalPlan = {
    val fail = failWith(optimizeUsage) _
    if (es.length != 2)
      fail(s"graft_optimize takes 2 arguments, got ${es.length}")
    val man = tableArg(es.head, fail)
    val targetBytes = es(1) match {
      case Literal(i: Int, IntegerType) if i > 0 => i.toLong
      case Literal(l: Long, LongType) if l > 0 => l
      case other => fail(s"targetBytes must be a positive integral literal; got '$other'")
    }
    val spark = SparkSession.active
    val table = tableForMaintenance(spark, man, fail)
    val log = orFail(fail)(table.snapshot().requireTable())
    val (packed, latest) = table.compact(log, targetBytes)
    import spark.implicits._
    org.apache.spark.sql.GraftSqlBridge.analyzed(
      Seq((packed.toLong, latest.toLong))
        .toDF("compacted_files", "latest_version"))
  }

  private[table] val zorderUsage: String =
    "usage: graft_zorder('<manifestDir-or-catalog.ns.table>', targetBytes, " +
      "'dim1'[, 'dim2', ... up to 8]) — re-cluster the latest snapshot " +
      "along the Morton interleave of 1..8 columns of any orderable " +
      "type (integral, float/double, decimal, date, timestamp, string, " +
      "boolean) into ~targetBytes files as a new layout-only " +
      "(dataChange=false) snapshot commit (Delta's OPTIMIZE ZORDER BY); " +
      "deletion vectors fold in; returns one row (files_written, " +
      "latest_version). A maintenance PROCEDURE surfaced as a TVF: the " +
      "rewrite runs when the statement is planned, once per " +
      "spark.sql() call"

  /** `SELECT * FROM graft_zorder('<man>', 128*1024*1024, 'a', 'b'[, …])`
    * — [[GraftTable.commitZorder]] from pure SQL. */
  def zorderPlan(es: Seq[Expression]): LogicalPlan = {
    val fail = failWith(zorderUsage) _
    if (es.length < 3 || es.length > 10)
      fail(s"graft_zorder takes 3 to 10 arguments, got ${es.length}")
    val man = tableArg(es.head, fail)
    val targetBytes = es(1) match {
      case Literal(i: Int, IntegerType) if i > 0 => i.toLong
      case Literal(l: Long, LongType) if l > 0 => l
      case other => fail(s"targetBytes must be a positive integral literal; got '$other'")
    }
    def strArg(e: Expression, name: String): String = e match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => fail(s"$name must be a string literal; got '$other'")
    }
    val dims = es.drop(2).zipWithIndex.map { case (e, i) =>
      strArg(e, s"dim${i + 1}")
    }
    val spark = SparkSession.active
    val table = tableForMaintenance(spark, man, fail)
    val log = orFail(fail)(table.snapshot().requireTable())
    val v = table.commitZorder(log, targetBytes, dims)
    val n = table.files(v).size.toLong
    import spark.implicits._
    org.apache.spark.sql.GraftSqlBridge.analyzed(
      Seq((n, v.toLong)).toDF("files_written", "latest_version"))
  }

  private[table] val vacuumUsage: String =
    "usage: graft_vacuum('<manifestDir-or-catalog.ns.table>', keepFrom[, graceMs]) or " +
      "graft_vacuum('<manifestDir>', 'retain N hours'[, graceMs]) — " +
      "drop manifest versions below keepFrom (or below the oldest " +
      "version committed within the last N hours — commit timestamps, " +
      "not directory mtimes; the latest version is always retained) " +
      "and delete every data file no retained version references " +
      "(sparing anything younger than graceMs); returns one row per " +
      "deleted file. A maintenance PROCEDURE surfaced as a TVF: the " +
      "reclamation runs when the statement is planned, once per " +
      "spark.sql() call"

  /** `SELECT * FROM graft_vacuum('<man>', 3)` — [[GraftTable.vacuum]]
    * from pure SQL (Delta's VACUUM). */
  def vacuumPlan(es: Seq[Expression]): LogicalPlan = {
    val fail = failWith(vacuumUsage) _
    if (es.length < 2 || es.length > 3)
      fail(s"graft_vacuum takes 2-3 arguments, got ${es.length}")
    val man = tableArg(es.head, fail)
    def longArg(e: Expression, name: String): Long = e match {
      case Literal(i: Int, IntegerType) => i.toLong
      case Literal(l: Long, LongType) => l
      case other => fail(s"$name must be an integral literal; got '$other'")
    }
    val graceMs = if (es.length == 3) longArg(es(2), "graceMs") else 0L
    if (graceMs < 0) fail(s"graceMs must be >= 0, got $graceMs")
    val spark = SparkSession.active
    val table = tableForMaintenance(spark, man, fail)
    val log = orFail(fail)(table.snapshot().requireTable())
    val vs = log.versions
    val Retain = """(?i)\s*retain\s+(\d+)\s+hours?\s*""".r
    val keepFrom: Long = es(1) match {
      // time-based retention: keep every version committed within the
      // last N hours, judged by the COMMIT-EMBEDDED timestamps (the
      // same clock graft_history shows — survives mtime-rewriting
      // copies); the latest version is always retained
      case Literal(s: UTF8String, StringType) => s.toString match {
        case Retain(h) =>
          val horizon = System.currentTimeMillis() - h.toLong * 3600000L
          vs.filter(v => log.at(v).commitTime >= horizon)
            .minOption.getOrElse(vs.max).toLong
        case other => fail(
          s"unrecognized retention spelling '$other' — use 'retain N hours'")
      }
      case e => longArg(e, "keepFrom")
    }
    if (keepFrom < 1 || keepFrom > Int.MaxValue)
      fail(s"keepFrom $keepFrom out of range [1, ${Int.MaxValue}]")
    val removed = table.vacuum(keepFrom.toInt, log, graceMs)
    import spark.implicits._
    org.apache.spark.sql.GraftSqlBridge.analyzed(removed.toDF("file"))
  }

  private[table] val restoreUsage: String =
    "usage: graft_restore('<manifestDir-or-catalog.ns.table>', version) — commit a NEW " +
      "snapshot whose content is `version`'s exact file list (zero data " +
      "copied; undone versions stay time-travelable until vacuum); " +
      "returns one row (restored_to, new_version) where new_version is " +
      "the current latest unchanged when its content already equals the " +
      "target's. A maintenance PROCEDURE surfaced as a TVF: the restore " +
      "runs when the statement is planned, once per spark.sql() call"

  /** `SELECT * FROM graft_restore('<man>', 2)` —
    * [[GraftTable.commitRestore]] from pure SQL (Delta's RESTORE). Needs
    * only the manifest (the restore re-references committed files; no
    * data is read or written). */
  def restorePlan(es: Seq[Expression]): LogicalPlan = {
    val fail = failWith(restoreUsage) _
    if (es.length != 2)
      fail(s"graft_restore takes 2 arguments, got ${es.length}")
    val man = tableArg(es.head, fail)
    val toV = es(1) match {
      case Literal(i: Int, IntegerType) => i
      case Literal(l: Long, LongType) if l >= 1 && l <= Int.MaxValue => l.toInt
      case other => fail(s"version must be an integer literal; got '$other'")
    }
    val spark = SparkSession.active
    val table = GraftTable(spark, data = "", man = man, key = "")
    val v = table.commitRestore(
      orFail(fail)(table.snapshot(Some(toV)).requireTable()))
    import spark.implicits._
    org.apache.spark.sql.GraftSqlBridge.analyzed(
      Seq((toV.toLong, v.toLong)).toDF("restored_to", "new_version"))
  }

  private[table] val deleteUsage: String =
    "usage: graft_delete('<manifestDir-or-catalog.ns.table>', lo, hi) — copy-on-write " +
      "DELETE of every row whose TABLE KEY is between lo and hi " +
      "(inclusive): only the files whose manifest boxes intersect the " +
      "range are rewritten. Bounds are literals in the key's box " +
      "representation: integral keys take integral literals, timestamp " +
      "keys TIMESTAMP literals, date keys DATE literals, string keys " +
      "string literals. Returns one row (deleted_rows, latest_version); " +
      "a range holding no rows burns no version. A maintenance " +
      "PROCEDURE surfaced as a TVF: the delete runs when the statement " +
      "is planned, once per spark.sql() call"

  /** `SELECT * FROM graft_delete('<man>', 1000, 4999)` —
    * [[GraftTable.commitDeleteRange]] from pure SQL (Delta's DELETE
    * WHERE, range form). The table's shape comes from `_table_props`. */
  def deletePlan(es: Seq[Expression]): LogicalPlan = {
    val fail = failWith(deleteUsage) _
    if (es.length != 3)
      fail(s"graft_delete takes 3 arguments, got ${es.length}")
    val man = tableArg(es.head, fail)
    // bounds in BOX representation (the prune/commitDeleteRange space):
    // Catalyst timestamp literals are ALREADY epoch micros and date
    // literals epoch days, so the conversion is a pure re-typing. Each
    // bound also remembers its literal KIND: two bounds of different
    // kinds (a DATE lo with a TIMESTAMP hi — both coerce to Long with
    // incompatible units) or a kind not matching the table key's codec
    // would silently delete the wrong range, so both are rejected loudly
    // here with the TVF usage text instead of falling through to
    // boxCmp's generic message (or worse, to a wrong answer).
    def boundArg(e: Expression, name: String): (Any, String) = e match {
      case Literal(i: Int, IntegerType) => (i.toLong, "integral")
      case Literal(l: Long, LongType) => (l, "integral")
      case Literal(us: Long, TimestampType) => (us, "timestamp")
      case Literal(d: Int, DateType) => (d.toLong, "date")
      case Literal(s: UTF8String, StringType) => (s.toString, "string")
      case Literal(d: Double, org.apache.spark.sql.types.DoubleType) =>
        (d, "fractional")
      case Literal(f: Float, org.apache.spark.sql.types.FloatType) =>
        (f.toDouble, "fractional")
      case other => fail(s"$name must be an integral, timestamp, date, " +
        s"string or double literal; got '$other'")
    }
    val ((qlo, loKind), (qhi, hiKind)) =
      (boundArg(es(1), "lo"), boundArg(es(2), "hi"))
    if (loKind != hiKind)
      fail(s"lo and hi must be literals of the SAME kind; got $loKind " +
        s"lo with $hiKind hi — mixed kinds coerce to incompatible box " +
        "units and would delete the wrong range")
    val spark = SparkSession.active
    val table = tableForMaintenance(spark, man, fail)
    val log = orFail(fail)(table.snapshot().requireTable())
    // the recorded data schema names the key's actual type — when
    // present, the bounds' kind must be the key codec's own
    log.schema.filter(_.fieldNames.contains(table.key))
      .foreach { sch =>
        import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType,
          ShortType}
        val expect = sch(table.key).dataType match {
          case ByteType | ShortType | IntegerType | LongType => "integral"
          case TimestampType => "timestamp"
          case DateType => "date"
          case StringType => "string"
          case FloatType | DoubleType => "fractional"
          case other => other.simpleString
        }
        if (expect != loKind)
          fail(s"table key '${table.key}' is ${sch(table.key).dataType
            .simpleString} — bounds must be $expect literals, got $loKind")
      }
    val nDel = table.commitDeleteRange(qlo, qhi, log)
    import spark.implicits._
    org.apache.spark.sql.GraftSqlBridge.analyzed(
      Seq((nDel, table.snapshot().version.toLong))
        .toDF("deleted_rows", "latest_version"))
  }

  /** Maintenance ops rewrite data, so they need the FULL table shape —
    * key, data dir, stats/bloom declarations — all from `_table_props`.
    * Shared with the catalog's DML, DELETE, ALTER and INSERT paths. */
  private[table] def tableForMaintenance(spark: SparkSession, man: String,
      fail: String => Nothing): GraftTable = {
    val p = GraftTable.loadProps(spark, man).getOrElse(
      fail(s"$man carries no _table_props — maintenance needs a table " +
        "created through GraftTable/format(\"graft\")"))
    val key = p.key.getOrElse(fail(s"$man's _table_props records no key"))
    val data = p.data.getOrElse(
      fail(s"$man's _table_props records no data dir (pre-round-10 table)"))
    GraftTable(spark, data, man, key, p.statsCols, p.bloomCols,
      p.bloomItems, p.bloomFpp)
  }

  /** Per-session programmatic registration (the extensions-free path —
    * [[graft.GraftExtensions]] wires the same pieces cluster-wide via
    * config). Idempotent: the TVF registry replaces, the optimizer list
    * is de-duplicated by rule identity. */
  def register(spark: SparkSession): Unit = {
    val have = spark.experimental.extraOptimizations
    val add = Seq(SnapshotPruneRule, SnapshotExpandRule(spark))
      .filterNot(r => have.exists(_.getClass == r.getClass))
    if (add.nonEmpty)
      spark.experimental.extraOptimizations = have ++ add
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_snapshot"),
      new ExpressionInfo(getClass.getName, null, "graft_snapshot", usage, ""),
      (es: Seq[Expression]) => plan(es))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_changes"),
      new ExpressionInfo(getClass.getName, null, "graft_changes",
        changesUsage, ""),
      (es: Seq[Expression]) => changesPlan(es))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_history"),
      new ExpressionInfo(getClass.getName, null, "graft_history",
        historyUsage, ""),
      (es: Seq[Expression]) => historyPlan(es))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_files"),
      new ExpressionInfo(getClass.getName, null, "graft_files",
        filesUsage, ""),
      (es: Seq[Expression]) => filesPlan(es))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_optimize"),
      new ExpressionInfo(getClass.getName, null, "graft_optimize",
        optimizeUsage, ""),
      (es: Seq[Expression]) => optimizePlan(es))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(getClass.getName, null, "graft_zorder",
        zorderUsage, ""),
      (es: Seq[Expression]) => zorderPlan(es))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_vacuum"),
      new ExpressionInfo(getClass.getName, null, "graft_vacuum",
        vacuumUsage, ""),
      (es: Seq[Expression]) => vacuumPlan(es))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_restore"),
      new ExpressionInfo(getClass.getName, null, "graft_restore",
        restoreUsage, ""),
      (es: Seq[Expression]) => restorePlan(es))
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_delete"),
      new ExpressionInfo(getClass.getName, null, "graft_delete",
        deleteUsage, ""),
      (es: Seq[Expression]) => deletePlan(es))
  }
}
