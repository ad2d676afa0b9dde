package graft.table

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.functions.{coalesce, lit, sum, when}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsNamespaces,
  SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsOverwriteV2, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation,
  TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** NAME-ADDRESSED graft tables — a DataSource-V2 [[TableCatalog]], so
  * the first thing a SQL user types actually works:
  *
  * {{{
  *   spark.sql.catalog.graft     = graft.table.GraftCatalog
  *   spark.sql.catalog.graft.dir = /warehouse/_graft_catalog
  *
  *   CREATE TABLE graft.db.docs (doc_key STRING, n_chars BIGINT) USING graft
  *     OPTIONS (man '/warehouse/docs/man', data '/warehouse/docs/data',
  *              key 'doc_key')
  *   CREATE TABLE graft.db.docs2 USING graft OPTIONS (man '<existing man>')
  *   SELECT * FROM graft.db.docs WHERE doc_key BETWEEN 'a' AND 'b'
  *   SELECT * FROM graft.db.docs VERSION AS OF 2        -- time travel
  *   SELECT * FROM graft.db.docs TIMESTAMP AS OF '...'
  *   INSERT INTO graft.db.docs SELECT ...               -- OCC append commit
  *   INSERT OVERWRITE graft.db.docs SELECT ...          -- recreate
  * }}}
  *
  * The catalog is a thin NAME → manifest-path registry: one small
  * `<dir>/<namespace>/<table>.tbl` file per table records the manifest
  * dir (everything else — key, stats/bloom declarations, data dir, log
  * store — already lives in the table's own `_table_props`, the
  * manifest being self-describing by design). Dropping a catalog entry
  * deletes NOTHING but the mapping.
  *
  * READS keep the full prunable path: [[GraftV2ExpandRule]] (installed
  * by [[graft.GraftExtensions]] / [[SnapshotSql.register]]) replaces
  * the analyzed [[org.apache.spark.sql.execution.datasources.v2
  * .DataSourceV2Relation]] over a [[GraftV2Table]] with the SAME
  * [[GraftSnapshotRelation]] plan the `graft_snapshot` TVF produces —
  * manifest box/bloom pruning, manifest-backed stats (unhinted
  * broadcasts), zero-footer planning, and the MoR deletion-vector read
  * all included. Without the extensions installed, the table still
  * works through its [[V1Scan]] fallback (correct, but unpruned and
  * rows cross a Row boundary — install the extensions for
  * production reads).
  *
  * WRITES ride [[V1Write]]: INSERT INTO is a multi-writer OCC append
  * commit ([[GraftTable.commitAppendOcc]]); INSERT OVERWRITE
  * re-creates the table — identical semantics to
  * `df.write.format("graft")`.
  *
  * `VERSION AS OF` / `TIMESTAMP AS OF` resolve through the catalog's
  * time-travel `loadTable` overloads to a version-pinned table.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var initDir: String = _
  // the session whose CatalogManager owns this plugin instance, captured
  // at initialize: registry reads/writes resolve against ITS conf, so a
  // background thread (or setActiveSession misuse) whose active session
  // differs cannot silently hit another session's
  // spark.sql.catalog.<name>.dir (ADVICE r13). SparkSession.active stays
  // the fallback for the initialize-outside-a-session edge.
  @transient private var ownerSession: Option[SparkSession] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    ownerSession = SparkSession.getActiveSession
    initDir = Option(options.get("dir")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.dir = " +
          "<registry directory> (one small name->manifest mapping file " +
          "per table lives there)"))
  }

  override def name(): String = catalogName

  /** The registry dir, resolved from the LIVE session conf on every
    * call: Spark's CatalogManager caches catalog plugins per name, so
    * a dir captured once at [[initialize]] would make a later
    * `spark.sql.catalog.<name>.dir` change SILENTLY ignored — every
    * read and write keeps hitting the old registry while the user
    * believes they re-pointed it (the r12 bench crash). Falls back to
    * the initialize-time value only when the conf entry is absent
    * (an isolated session whose conf clone dropped it — note a
    * conf.unset AFTER a re-point therefore resurrects the ORIGINAL
    * dir, not the re-pointed one; re-point with set, don't unset). */
  private def dir: String =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.dir")
      .getOrElse(initDir)

  private def spark: SparkSession =
    ownerSession.filterNot(_.sparkContext.isStopped)
      .getOrElse(SparkSession.active)
  private def fs = new Path(dir).getFileSystem(
    spark.sessionState.newHadoopConf())

  private def nsPath(ns: Array[String]): Path = {
    require(ns.length == 1,
      s"graft catalog namespaces are single-level; got ${ns.mkString(".")}")
    new Path(dir, ns.head)
  }
  private def tblPath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), s"${ident.name()}.tbl")

  private def readSmall(p: Path): String = GraftTable.readText(fs, p)

  /** The manifest dir a registered name maps to — also the resolution
    * hook for name-addressed maintenance TVFs ([[SnapshotSql]] accepts
    * `'catalog.ns.table'` wherever a manifest path is taken). */
  def manifestOf(ident: Identifier): String = {
    val p = tblPath(ident)
    if (!fs.exists(p)) throw new NoSuchTableException(ident)
    readSmall(p).linesIterator
      .collectFirst { case l if l.startsWith("man=") => l.drop(4).trim }
      .getOrElse(throw new IllegalStateException(
        s"catalog entry $p records no manifest path"))
  }
  private def manOf(ident: Identifier): String = manifestOf(ident)

  // ---- TableCatalog ------------------------------------------------

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val p = nsPath(ns)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(ns)
    GraftTable.listStatusSafe(fs, p)
      .filter(_.getPath.getName.endsWith(".tbl"))
      .map(st => Identifier.of(ns, st.getPath.getName.stripSuffix(".tbl")))
  }

  /** Whether a USABLE table is registered under the name. A crashed
    * half-create — a hard kill between the exclusive `.tbl` create and
    * the physical createEmpty leaves a registered name whose manifest
    * has NEITHER `_table_props` NOR any committed version — reads as
    * NONEXISTENT once aged past the adoption grace, because Spark's
    * CREATE pre-checks this method: reporting the wedged name as
    * existing would make re-running CREATE TABLE throw
    * TableAlreadyExists while reads also fail, with manual `.tbl`
    * surgery the only recovery. The grace (default 5 min,
    * `spark.graft.catalog.adoptGraceMs`) keeps an IN-FLIGHT create —
    * name registered, createEmpty still running — visible, so a
    * concurrent CREATE cannot adopt it mid-flight. */
  override def tableExists(ident: Identifier): Boolean =
    try fs.exists(tblPath(ident)) && !crashedHalfCreate(ident)
    catch { case _: IllegalArgumentException => false }

  private def adoptGraceMs: Long =
    spark.conf.get("spark.graft.catalog.adoptGraceMs", "300000").toLong

  /** True when the registered name is provably a crashed half-create:
    * aged past the grace AND its manifest has neither props nor any
    * committed version (every successful create writes props before
    * its v=1 commit; a torn `.tbl` with no man= line also qualifies). */
  private def crashedHalfCreate(ident: Identifier): Boolean = {
    val st = fs.getFileStatus(tblPath(ident))
    if (st.getModificationTime > System.currentTimeMillis() - adoptGraceMs)
      return false
    val staleMan =
      try manifestOf(ident)
      catch {
        // a registered `.tbl` whose own content records no man= line is
        // itself proof of a torn create — the read SUCCEEDED and came
        // back incomplete; a vanished `.tbl` (concurrent DROP between
        // our exists-check and the read) is affirmative absence
        case _: IllegalStateException => return true
        case _: NoSuchTableException => return true
      }
    // Adopt only on an AFFIRMATIVE probe: both reads succeeded AND both
    // came back empty. A transient failure (flaky object-store read)
    // must propagate — classifying it as "provably crashed" would let
    // requireAbsentOrAdopt delete a healthy table's registration.
    GraftTable.loadProps(spark, staleMan).isEmpty &&
      GraftTable(spark, data = "", man = staleMan, key = "")
        .snapshot().isEmpty
  }

  override def loadTable(ident: Identifier): Table =
    GraftV2Table(s"$catalogName.$ident", manOf(ident), pinned = None)

  /** `VERSION AS OF <v>` on the named table; an uncommitted or expired
    * version fails when the table resolves its snapshot. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val man = manOf(ident)
    val v = version.trim.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF takes an integer snapshot version; got '$version'"))
    GraftV2Table(s"$catalogName.$ident", man, pinned = Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` — micros since epoch, Spark's contract. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val man = manOf(ident)
    val t = GraftTable(spark, data = "", man = man, key = "")
    GraftV2Table(s"$catalogName.$ident", man,
      pinned = Some(t.versionAsOfTime(timestampMicros / 1000L)))
  }

  /** Reject-or-adopt on an already-registered name: a hard kill between
    * the exclusive `.tbl` create and the physical createEmpty leaves a
    * registered name whose manifest has NEITHER `_table_props` NOR any
    * committed version — permanently wedged (CREATE says exists, reads
    * say no snapshots) unless adopted. Such a name is provably a
    * crashed half-create (every successful create writes props before
    * its v=1 commit), so the stale registration is reclaimed and the
    * CREATE proceeds. A manifest with props but no versions is
    * indistinguishable from a concurrent create past writeProps —
    * those fail with explicit DROP TABLE recovery instead. */
  private def requireAbsentOrAdopt(ident: Identifier): Unit =
    if (fs.exists(tblPath(ident))) {
      if (crashedHalfCreate(ident)) fs.delete(tblPath(ident), false)
      else throw new TableAlreadyExistsException(ident)
    }

  /** Validated CREATE inputs: the manifest path plus the physical table
    * to create when the manifest holds no committed content yet (None =
    * pure name registration over an existing table). Validation runs
    * BEFORE anything is registered or written, so a malformed CREATE
    * leaves no trace. */
  private def planCreate(schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): (String, Option[GraftTable]) = {
    require(partitions.isEmpty,
      "graft tables take no PARTITIONED BY — the physical layout is " +
        "range-clustered on the table key")
    import scala.jdk.CollectionConverters._
    val props = properties.asScala
    def opt(k: String): Option[String] =
      props.get(k).orElse(props.get(TableCatalog.OPTION_PREFIX + k))
        .map(_.trim).filter(_.nonEmpty)
    val man = opt("man").getOrElse(throw new IllegalArgumentException(
      "CREATE TABLE ... USING graft needs OPTIONS (man '<manifest dir>') " +
        "— plus data/key when the manifest does not already exist"))
    // CHECK constraints: OPTIONS ('check.<name>' '<boolean expr>') —
    // names normalize to lowercase (option keys are case-insensitive
    // on the format surface too); validated by createEmpty against the
    // CREATE's declared schema, enforced by every commit's stats scan
    val checks = props.toSeq.flatMap { case (k0, v) =>
      val k = k0.toLowerCase(java.util.Locale.ROOT)
      val name =
        if (k.startsWith(TableCatalog.OPTION_PREFIX + "check."))
          Some(k.stripPrefix(TableCatalog.OPTION_PREFIX + "check."))
        else if (k.startsWith("check.")) Some(k.stripPrefix("check."))
        else None
      name.filter(_ => v.trim.nonEmpty).map(_ -> v.trim)
    }.sortBy(_._1)
    // per-table DML write modes: OPTIONS ('mode.delete' 'mor', ...) —
    // the Delta enableDeletionVectors idea as a declared default every
    // writer honors (session conf still overrides per statement)
    val dmlModes = props.flatMap { case (k0, v) =>
      val k = k0.toLowerCase(java.util.Locale.ROOT)
      val stmt =
        if (k.startsWith(TableCatalog.OPTION_PREFIX + "mode."))
          Some(k.stripPrefix(TableCatalog.OPTION_PREFIX + "mode."))
        else if (k.startsWith("mode.")) Some(k.stripPrefix("mode."))
        else None
      stmt.filter(_ => v.trim.nonEmpty).map(_ -> v.trim)
    }.toMap
    GraftTable.validateDmlModes(dmlModes)
    val exists = GraftTable.loadProps(spark, man).isDefined &&
      !GraftTable(spark, data = "", man = man, key = "").snapshot().isEmpty
    val newTable = if (exists) {
      require(checks.isEmpty && dmlModes.isEmpty,
        s"a graft table already exists at $man — this CREATE only " +
          "registers the name, so declare constraints/modes on the " +
          "table itself with ALTER TABLE ... SET TBLPROPERTIES " +
          "('check.<name>' = '<boolean expr>' / 'mode.<stmt>' = 'mor')")
      None
    } else {
      val key = opt("key").getOrElse(throw new IllegalArgumentException(
        s"no graft table exists at $man yet — creating one needs " +
          "OPTIONS (key '<cluster/skip column>', data '<data dir>')"))
      val data = opt("data").getOrElse(throw new IllegalArgumentException(
        s"no graft table exists at $man yet — creating one needs " +
          "OPTIONS (data '<data dir>')"))
      def list(k: String) = opt(k).toSeq.flatMap(_.split(","))
        .map(_.trim).filter(_.nonEmpty)
      Some(GraftTable(spark, data, man, key, list("stats"), list("bloom"),
        checks = checks, dmlModes = dmlModes))
    }
    (man, newTable)
  }

  /** Atomically register `ident -> man`: exclusive `.tbl` create decides
    * name races. The SAME storage capability the pointer log store
    * gates; one allowSchemes declaration covers both surfaces. */
  private def register(ident: Identifier, man: String): Unit = {
    GraftTable.requireAtomicCreate(spark, fs,
      s"catalog '$catalogName' name registration (.tbl exclusive create)")
    fs.mkdirs(nsPath(ident.namespace()))
    val out = fs.create(tblPath(ident), false) // exclusive: name races lose
    try out.write(s"man=$man\n".getBytes("UTF-8")) finally out.close()
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    requireAbsentOrAdopt(ident)
    val (man, newTable) = planCreate(schema, partitions, properties)
    register(ident, man)
    // physical creation AFTER the name is won: a lost name race leaves
    // no orphaned data/manifest dirs, and a failed physical create
    // takes its registration back out before rethrowing
    newTable.foreach { t =>
      try t.createEmpty(if (schema.isEmpty) None else Some(schema))
      catch { case e: Throwable =>
        fs.delete(tblPath(ident), false); throw e }
    }
    loadTable(ident)
  }

  // ---- StagingTableCatalog: atomic CTAS ------------------------------
  // `CREATE TABLE <name> USING graft OPTIONS (...) AS SELECT ...` with
  // the registration as the commit point: the physical table is created
  // and the query's rows written BEFORE the name exists, so a failed or
  // raced CTAS leaves no registered name (abort reclaims the fresh
  // physical dirs). The inverse of createTable's order, because here
  // the expensive step is the data write and the atomic step must come
  // last — exactly Delta/Iceberg's staged-commit shape.
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    requireAbsentOrAdopt(ident)
    // the registration gate is checked NOW, not only at commit: failing
    // after the full CTAS write because the scheme cannot arbitrate the
    // name would waste the write
    GraftTable.requireAtomicCreate(spark, fs,
      s"catalog '$catalogName' name registration (.tbl exclusive create)")
    val (man, newTable) = planCreate(schema, partitions, properties)
    // Abort must never destroy bytes this CTAS did not write: snapshot
    // which physical dirs exist BEFORE createEmpty (only dirs we
    // created fresh are reclaimable wholesale), and refuse a
    // pre-existing NON-EMPTY target outright — an aborted CTAS pointed
    // at one would otherwise delete unrelated files.
    val freshDirs: Set[String] = newTable.map { t =>
      Seq(t.man, t.data).filter { d =>
        val p = new Path(d)
        val dfs = p.getFileSystem(spark.sessionState.newHadoopConf())
        if (!dfs.exists(p)) true
        else {
          val contents = GraftTable.listStatusSafe(dfs, p)
          require(contents.isEmpty,
            s"CTAS target dir $d already exists and is not empty " +
              s"(holds ${contents.length} entr${
                if (contents.length == 1) "y" else "ies"}, e.g. ${
                contents.take(3).map(_.getPath.getName).mkString(", ")
              }) — creating a fresh graft table there would put its " +
              "contents at risk on abort; point man/data at fresh or " +
              "empty dirs, or — if this is debris from a previously " +
              s"failed CTAS — delete the dir $d yourself and re-run")
          false
        }
      }.toSet
    }.getOrElse(Set.empty)
    newTable.foreach(_.createEmpty(if (schema.isEmpty) None
      else Some(schema)))
    new StagedGraftTable(this, ident,
      GraftV2Table(s"${name()}.$ident", man, pinned = None),
      freshPhysical = newTable, freshDirs = freshDirs)
  }

  private[table] def commitStaged(ident: Identifier, man: String): Unit =
    register(ident, man)

  /** REPLACE cannot be atomic here: the physical create is destructive
    * on its target dirs, so an atomic swap would need a second
    * manifest location plus registry repointing — spell it as the
    * explicit two steps instead of pretending. */
  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    throw new UnsupportedOperationException(
      s"REPLACE TABLE is not supported on graft tables — run DROP TABLE " +
        s"$ident (the mapping only; data stays) then CREATE TABLE ... " +
        "AS SELECT with fresh man/data dirs, or INSERT OVERWRITE to " +
        "recreate content in place")

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    if (!tableExists(ident)) stageCreate(ident, schema, partitions, properties)
    else stageReplace(ident, schema, partitions, properties)

  /** ADD COLUMN(S) — the DDL face of the format's append-time schema
    * evolution: a layout-identical commit records the widened schema
    * ([[GraftTable.commitWidenSchema]]); existing files read the new
    * columns as NULL (q103 semantics), no data byte moves.
    *
    * SET/UNSET TBLPROPERTIES ('check.<name>' [= '<boolean expr>']) —
    * CHECK constraints after creation: SET validates the expression
    * (parse / BOOLEAN type / known columns / no subquery) AND that no
    * EXISTING row violates it (one distributed MoR-aware scan of the
    * current snapshot — adding a constraint the data already breaks
    * would make every future write fail), then records it in
    * `_table_props`; UNSET drops it (idempotent). Enforcement lives in
    * every commit path's stats scan ([[GraftTable!.fileStats]]).
    *
    * Every other TableChange is rejected loudly — narrowing/retyping
    * would make committed manifests lie about their files, and renames
    * would break the box/bloom column bindings. */
  override def alterTable(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.TableChange*): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange
    val man = manOf(ident)
    val adds = scala.collection.mutable.ArrayBuffer.empty[TableChange.AddColumn]
    val drops = scala.collection.mutable.ArrayBuffer.empty[TableChange.DeleteColumn]
    val renames = scala.collection.mutable.ArrayBuffer.empty[TableChange.RenameColumn]
    val setChecks = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val unsetChecks = scala.collection.mutable.ArrayBuffer.empty[String]
    val setModes = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val unsetModes = scala.collection.mutable.ArrayBuffer.empty[String]
    changes.foreach {
      case a: TableChange.AddColumn => adds += a
      case d: TableChange.DeleteColumn => drops += d
      case r: TableChange.RenameColumn => renames += r
      case sp: TableChange.SetProperty
          if sp.property.startsWith("check.") =>
        setChecks += sp.property.stripPrefix("check.") -> sp.value.trim
      case rp: TableChange.RemoveProperty
          if rp.property.startsWith("check.") =>
        unsetChecks += rp.property.stripPrefix("check.")
      case sp: TableChange.SetProperty
          if sp.property.startsWith("mode.") =>
        setModes += sp.property.stripPrefix("mode.") -> sp.value.trim
      case rp: TableChange.RemoveProperty
          if rp.property.startsWith("mode.") =>
        unsetModes += rp.property.stripPrefix("mode.")
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE on a graft table supports ADD COLUMN(S), " +
          "DROP COLUMN(S), RENAME COLUMN and SET/UNSET TBLPROPERTIES " +
          s"('check.<name>' / 'mode.<stmt>' ...) only — got " +
          s"${other.getClass.getSimpleName}; the table's " +
          "key/stats/bloom bindings and committed boxes are fixed at " +
          "creation")
    }
    // validate EVERY mode change up front — a malformed mode.<stmt>
    // must fail the whole ALTER before any check/mode property (or
    // schema widening) is persisted, not half-apply the statement
    GraftTable.validateDmlModes(setModes.toMap)
    unsetModes.foreach(s0 => GraftTable.validateDmlModes(Map(s0 -> "cow")))
    val t = GraftTable(spark, data = "", man = man, key = "")
    val log = t.snapshot()
    if (log.isEmpty) throw new NoSuchTableException(ident)
    val base = log.requireSchema("ALTER TABLE")
    val widened = adds.foldLeft(base) { (sch, a) =>
      require(a.fieldNames().length == 1,
        s"nested ADD COLUMN is not supported — graft tables are flat " +
          s"(got ${a.fieldNames().mkString(".")})")
      val n = a.fieldNames().head
      require(!sch.fieldNames.contains(n),
        s"column '$n' already exists in $ident")
      require(a.isNullable,
        s"ADD COLUMN '$n' must be nullable — existing files backfill NULL")
      StructType(sch.fields :+ org.apache.spark.sql.types.StructField(
        n, a.dataType(), nullable = true))
    }
    var cur: SnapshotRef = log
    if (adds.nonEmpty) cur = t.commitWidenSchema(widened, cur)
    // RENAME COLUMN: one metadata-only mapping commit per rename (the
    // column-mapping event list is per-version); flat names only
    renames.foreach { r =>
      require(r.fieldNames().length == 1,
        s"nested RENAME COLUMN is not supported — graft tables are " +
          s"flat (got ${r.fieldNames().mkString(".")})")
      cur = t.commitRenameColumn(r.fieldNames().head, r.newName(), cur)
    }
    if (drops.nonEmpty) {
      val names = drops.map { d =>
        require(d.fieldNames().length == 1,
          s"nested DROP COLUMN is not supported — graft tables are " +
            s"flat (got ${d.fieldNames().mkString(".")})")
        (d.fieldNames().head, d.ifExists())
      }
      val resolver = spark.sessionState.conf.resolver
      val present = widened.fieldNames
      // IF EXISTS drops of absent columns skip silently; plain drops of
      // absent columns fail loudly inside commitNarrowSchema
      val wanted = names.collect {
        case (n, ifExists) if !ifExists ||
          present.exists(resolver(_, n)) => n
      }
      if (wanted.nonEmpty) cur = t.commitNarrowSchema(wanted.toSeq, cur)
    }
    // checks validate against the schema as THIS statement left it
    // (post-widen, post-narrow), not the pre-ALTER one
    val effective = t.versionSchema(cur).getOrElse(widened)
    if (setChecks.nonEmpty) {
      setChecks.foreach { case (n, e) =>
        GraftTable.validateCheck(spark, n, e, effective) }
      val tm = SnapshotSql.tableForMaintenance(spark, man,
        detail => throw new IllegalStateException(detail))
      val latest = tm.snapshot().requireTable()
      val live = latest.files
      if (live.nonEmpty) {
        val df = tm.readAsOf(latest, live)
        val present = df.columns.toSet
        val aggs = setChecks.toSeq.map { case (_, e) =>
          sum(when(coalesce(GraftTable.checkColumn(spark, e, present),
            lit(true)) === lit(false), 1L).otherwise(0L)) }
        val counts = df.agg(aggs.head, aggs.tail: _*).head
        setChecks.toSeq.zipWithIndex.foreach { case ((n, e), i) =>
          val bad = if (counts.isNullAt(i)) 0L else counts.getLong(i)
          require(bad == 0,
            s"cannot add CHECK constraint '$n' ($e) to $ident: $bad " +
              "existing row(s) violate it — fix the data first, or " +
              "declare a constraint the table satisfies")
        }
      }
      setChecks.foreach { case (n, e) => tm.setCheckProp(n, Some(e)) }
    }
    unsetChecks.foreach(n => t.setCheckProp(n, None))
    setModes.foreach { case (s, m) => t.setModeProp(s, Some(m)) }
    unsetModes.foreach(s => t.setModeProp(s, None))
    loadTable(ident)
  }

  /** Drops the NAME MAPPING only — the table's data and manifest stay
    * untouched (re-register with CREATE TABLE ... OPTIONS (man ...)).
    * Unguarded delete: a direct drop must also clear a crashed
    * half-create's registration (which [[tableExists]] hides). */
  override def dropTable(ident: Identifier): Boolean =
    try fs.delete(tblPath(ident), false)
    catch { case _: IllegalArgumentException => false }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    fs.mkdirs(nsPath(to.namespace()))
    require(fs.rename(tblPath(from), tblPath(to)),
      s"could not rename catalog entry $from to $to")
  }

  // ---- SupportsNamespaces (single-level) ---------------------------

  override def defaultNamespace(): Array[String] = Array("default")

  override def listNamespaces(): Array[Array[String]] =
    GraftTable.listStatusSafe(fs, new Path(dir))
      .filter(_.isDirectory).map(st => Array(st.getPath.getName))

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (ns.isEmpty) return listNamespaces()
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Array.empty // single-level: no nested namespaces
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.length == 1 && fs.exists(nsPath(ns))

  override def loadNamespaceMetadata(ns: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(nsPath(ns)); ()
  }

  override def alterNamespace(ns: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*)
      : Unit =
    throw new UnsupportedOperationException("namespace metadata is empty")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) return false
    val tables = listTables(ns)
    require(cascade || tables.isEmpty,
      s"namespace ${ns.head} still holds ${tables.length} table " +
        "mapping(s); use CASCADE to drop them (data is never touched)")
    fs.delete(nsPath(ns), true)
  }
}

/** A catalog-loaded graft table, optionally pinned to a snapshot
  * version (`VERSION AS OF` / `TIMESTAMP AS OF`). The fast read path is
  * [[GraftV2ExpandRule]]; [[newScanBuilder]] is the extensions-free
  * fallback. Writes go through [[V1Write]] to the same OCC
  * append / create commits as `df.write.format("graft")`.
  *
  * `DELETE FROM <name> WHERE <pred>` works through [[SupportsDelete]]:
  * Spark pushes the condition as v1 filters and
  * [[GraftTable.commitDelete]] turns them into manifest pruning (only
  * the envelope's files rewrite) plus the row predicate — any pushable
  * predicate, not just key ranges; an untranslatable condition fails
  * loudly at analysis (Spark's own translation error).
  *
  * STREAMING by name rides [[V2TableWithV1Fallback]] (the public Delta
  * shape): `spark.readStream.table(<name>)` and
  * `df.writeStream.toTable(<name>)` resolve through [[v1Table]] to the
  * SAME v1 source/sink `format("graft")` provides —
  * [[GraftStreamSource]] / [[GraftChangeFeedSource]] on the read side
  * (pass `readChangeFeed`/`startingVersion` as reader options),
  * [[GraftStreamSink]]'s exactly-once manifest commits on the write
  * side (`.option("appId", ...)` required, as ever). */
final case class GraftV2Table(ident: String, man: String,
    pinned: Option[Int]) extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.GraftV1StreamFallback {

  private def spark: SparkSession = SparkSession.active
  private def probe: GraftTable =
    GraftTable(spark, data = "", man = man, key = "")

  /** The snapshot this table reads: pinned, else latest at load time —
    * one log listing for the table's whole statement. */
  lazy val snapshot: LogSnapshot = probe.snapshot(pinned).requireTable()

  override def name(): String =
    ident + pinned.map(v => s"@v$v").getOrElse("")

  override def schema(): StructType = snapshot.dataSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  /** Table shape for `DESCRIBE TABLE EXTENDED` / `SHOW TBLPROPERTIES`:
    * the manifest path plus everything `_table_props` records — an
    * operator can recover the physical addresses and declarations from
    * the NAME alone. */
  override def properties(): util.Map[String, String] = {
    val base = Map("man" -> man) ++
      GraftTable.loadProps(spark, man).toSeq.flatMap { p =>
        p.key.map("key" -> _).toSeq ++
          p.data.map("data" -> _).toSeq ++
          (if (p.statsCols.nonEmpty)
            Seq("stats" -> p.statsCols.mkString(",")) else Nil) ++
          (if (p.bloomCols.nonEmpty)
            Seq("bloom" -> p.bloomCols.mkString(",")) else Nil) ++
          p.logStore.map("logstore" -> _).toSeq ++
          p.checks.map { case (n, e) => s"check.$n" -> e } ++
          p.dmlModes.toSeq.sorted.map { case (s, m) => s"mode.$s" -> m }
      }
    import scala.jdk.CollectionConverters._
    base.asJava
  }

  // ---- row-level DELETE (SupportsDeleteV2) --------------------------

  /** Always claimable: any pushed predicate either has a Catalyst
    * translation (the common case — v2 pushdown speaks general scalar
    * expressions, so modulo/arithmetic conditions arrive intact) or
    * deleteWhere fails LOUDLY naming the offending conjunct; returning
    * false here would only trade that precise error for Spark's
    * generic one. */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Boolean = true

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    import org.apache.spark.sql.GraftSqlBridge
    require(pinned.isEmpty,
      s"cannot DELETE from the time-travel pinned snapshot ${name()}")
    val t = SnapshotSql.tableForMaintenance(spark, man,
      detail => throw new IllegalStateException(detail))
    val base = snapshot // the statement's one log snapshot
    if (predicates.isEmpty || predicates.forall(_.isInstanceOf[
        org.apache.spark.sql.connector.expressions.filter.AlwaysTrue])) {
      // unconditional DELETE FROM t (also TRUNCATE's default route):
      // commit a zero-entry snapshot at the recorded schema — no scan,
      // no rewrite; old versions stay time-travelable until vacuum
      t.commit(base, "DELETE FROM", GraftTable.Rule.NoRebase())(_ =>
        Some(GraftTable.Actions(replaces = true,
          schemaDdl = base.schema.map(_.toDDL))))
      return
    }
    // the full condition is the ROW predicate (Catalyst translation —
    // general scalar expressions included); the conjuncts with a v1
    // FILTER form additionally drive manifest box/bloom pruning, so
    // only the predicate's envelope rewrites
    val pred = predicates.toIndexedSeq.map { p =>
      GraftSqlBridge.v2ToCatalyst(p).map(GraftSqlBridge.column).getOrElse(
        throw new UnsupportedOperationException(
          s"DELETE predicate '$p' has no Catalyst translation — " +
            "rewrite the condition, or use the graft_delete TVF for a " +
            "key-range delete"))
    }.reduce(_ && _)
    val pruneFilters = predicates.toIndexedSeq
      .flatMap(GraftSqlBridge.v2PredicateToV1)
    // delete mode mor (session conf > table prop mode.delete > cow)
    // masks the matched rows with a deletion vector (O(matched
    // positions), zero data-file rewrites — the scattered-predicate
    // shape at 100 TB) instead of the COW survivor rewrite; like
    // merge.mode it is a performance hint, never a semantics change
    if (t.dmlMode("delete") == "mor")
      t.commitDeleteMor(pruneFilters, pred, base)
    else t.commitDelete(pruneFilters, pred, base, 2, None)
    ()
  }

  // ---- streaming by name (V2TableWithV1Fallback) --------------------

  /** The v1 face streaming resolution falls back to when the table
    * declares no MICRO_BATCH_READ/STREAMING_WRITE capability (it
    * doesn't — the engine's streaming is the v1 source/sink): a
    * synthetic EXTERNAL CatalogTable whose provider is `graft` and
    * whose storage names the manifest dir, so
    * `readStream.table(<name>)` / `writeStream.toTable(<name>)` build
    * exactly the `format("graft").load/start(<man>)` plan. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat,
      CatalogTable, CatalogTableType}
    require(pinned.isEmpty,
      s"cannot stream the time-travel pinned snapshot ${name()}")
    val parts = ident.split('.')
    CatalogTable(
      // the FULL three-part identifier: post-batch metadata refresh
      // re-resolves it, and without the catalog segment `db.sink`
      // would be looked up in the session catalog and not found
      identifier = TableIdentifier(parts.last,
        parts.dropRight(1).lastOption,
        if (parts.length >= 3) Some(parts.head) else None),
      tableType = CatalogTableType.EXTERNAL,
      // the write fallback streams to table.location; the read fallback
      // to storage properties' path — both are the MANIFEST dir (the
      // one address format("graft") takes)
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new Path(man).toUri),
        properties = Map("path" -> man)),
      schema = schema(),
      provider = Some("graft"))
  }

  // ---- fallback read path (no extensions installed) ----------------

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftFallbackScanBuilder(this)

  // ---- write path ---------------------------------------------------

  /** Batch writes, all three V2 verbs on the V1 write face: plain
    * INSERT appends (OCC — concurrent appenders rebase), truncate /
    * whole-table INSERT OVERWRITE recreates, and OVERWRITE BY FILTER
    * (`df.writeTo(name).overwrite(cond)` — Delta's `replaceWhere`)
    * routes to [[GraftTable.commitReplaceWhere]]: ONE atomic commit
    * that drops the predicate's rows and lands the new ones, with the
    * SAME filters pruning the rewrite to the matched envelope's files.
    * Every pushed predicate must translate to a v1 filter — a
    * partially-translated conjunction would silently replace a BROADER
    * region than the user asked for, so untranslatable conditions fail
    * loudly instead. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwriteV2 {
      require(pinned.isEmpty,
        s"cannot write to the time-travel pinned snapshot ${name()}")
      private var overwriteAll = false
      private var replaceFilters: Option[Seq[Filter]] = None
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def overwrite(
          preds: Array[org.apache.spark.sql.connector.expressions
            .filter.Predicate]): WriteBuilder = {
        val v1 = preds.toSeq.map { p =>
          org.apache.spark.sql.GraftSqlBridge.v2PredicateToV1(p)
            .getOrElse(throw new UnsupportedOperationException(
              s"OVERWRITE BY FILTER on ${name()}: predicate $p does not " +
                "translate to a source filter — a partial translation " +
                "would replace more than the condition selects"))
        }
        if (v1.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          overwriteAll = true
        else replaceFilters = Some(v1)
        this
      }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ov: Boolean): Unit = {
              val t = SnapshotSql.tableForMaintenance(data.sparkSession, man,
                detail => throw new IllegalStateException(detail))
              replaceFilters match {
                case Some(fs) =>
                  t.commitReplaceWhere(fs,
                    fs.map(GraftTable.v1FilterColumn).reduce(_ && _),
                    data, t.snapshot(), 8)
                  ()
                case None =>
                  if (overwriteAll || ov) t.create(data, 8)
                  else {
                    // the first attempt builds on the snapshot this
                    // statement already resolved; a lost race re-lists
                    t.commitAppendOcc(data, 8, start = Some(snapshot)); ()
                  }
              }
            }
          }
      }
    }
}

/** The staged face of an atomic CTAS ([[GraftCatalog.stageCreate]]):
  * delegates reads/writes to the (already physically created, still
  * UNREGISTERED) [[GraftV2Table]]; [[commitStagedChanges]] performs the
  * one atomic step — the exclusive `.tbl` registration — after the
  * query's rows are durably committed, and [[abortStagedChanges]]
  * reclaims the physical dirs ONLY when this CTAS created them fresh
  * (a registration-CTAS over an existing manifest must never delete
  * the pre-existing table's data). */
final class StagedGraftTable(catalog: GraftCatalog, ident: Identifier,
    table: GraftV2Table, freshPhysical: Option[GraftTable],
    freshDirs: Set[String] = Set.empty)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with SupportsRead with SupportsWrite {

  override def name(): String = table.name()
  override def schema(): StructType = table.schema()
  override def capabilities(): util.Set[TableCapability] =
    table.capabilities()
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = table.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    table.newWriteBuilder(info)

  override def commitStagedChanges(): Unit =
    catalog.commitStaged(ident, table.man)

  override def abortStagedChanges(): Unit =
    freshPhysical.foreach { t =>
      val conf = SparkSession.active.sessionState.newHadoopConf()
      Seq(t.man, t.data).foreach { d =>
        val p = new Path(d)
        val dfs = p.getFileSystem(conf)
        if (dfs.exists(p)) {
          if (freshDirs(d)) dfs.delete(p, true)
          else
            // pre-existing dir (stageCreate proved it EMPTY then):
            // reclaim only GRAFT-SHAPED entries — the emptiness probe
            // is TOCTOU vs abort, so a file a concurrent FOREIGN actor
            // wrote into the dir during the CTAS window survives; the
            // dir itself stays with its owner
            GraftTable.listStatusSafe(dfs, p)
              .filter(st =>
                StagedGraftTable.graftOwned(st.getPath.getName))
              .foreach(st => dfs.delete(st.getPath, true))
        }
      }
    }
}

object StagedGraftTable {
  /** Whether a man/data dir entry is one this table format itself
    * writes — the only names a CTAS abort may reclaim from a dir it
    * did not create: committed/staged manifests (`v=N`, `_tmp_v*`,
    * `_ptr_v=*`), props and data/DV parquet (`part-*`, `dv-*`). Every
    * table write, creation included, creates its files at their final
    * names through the table's own commit protocol; Spark's `_SUCCESS`
    * marker comes only from tables created before creation went
    * through it, and `_stage_*` dirs only from writers from before
    * commit writes did, so both count as owned for cleanup alone. */
  private[table] def graftOwned(name: String): Boolean =
    name.startsWith("v=") || name.startsWith("_tmp_v") ||
      name.startsWith("_ptr_v=") || name == GraftTable.PropsFile ||
      name.startsWith("part-") || name.startsWith("dv-") ||
      name.startsWith("_stage_") || name == "_SUCCESS"
}

/** Extensions-free fallback scan: correct but unpruned, and the rows
  * cross a DataFrame→Row boundary — [[GraftV2ExpandRule]] is the
  * production path. */
final class GraftFallbackScanBuilder(table: GraftV2Table)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {

  private var required: StructType = table.schema()
  private var filters: Array[Filter] = Array.empty

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all filters remain Spark's responsibility (pruning is a bonus)
  }
  override def pushedFilters(): Array[Filter] = filters

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new V1Scan {
    override def readSchema(): StructType = required
    override def toV1TableScan[T <: BaseRelation with TableScan](
        ctx: SQLContext): T = {
      val spark = ctx.sparkSession
      // self-contained: expand the snapshot leaf here rather than
      // relying on the session's (possibly absent) extension rules
      val plan = SnapshotSql.snapshotPlan(spark, table.snapshot)
        match {
          case r: GraftSnapshotRelation => SnapshotExpandRule(spark).expandNow(r)
          case p => p // the MoR read is already a full plan
        }
      val df = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, plan)
      // the relation must report EXACTLY the pruned schema the v2 scan
      // promised (a count(*) prunes to ZERO columns — project to an
      // empty row, not the full schema)
      val need = required
      val projected = df.select(need.fieldNames.toIndexedSeq
        .map(org.apache.spark.sql.functions.col): _*)
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = ctx
        override def schema: StructType = need
        override def buildScan(): org.apache.spark.rdd.RDD[
          org.apache.spark.sql.Row] = projected.rdd
      }.asInstanceOf[T]
    }
  }
}

/** The production read path for catalog tables: replace the analyzed
  * DataSourceV2Relation over a [[GraftV2Table]] with the SAME
  * [[GraftSnapshotRelation]] plan the `graft_snapshot` TVF builds —
  * manifest pruning, manifest-backed stats and the MoR read all apply,
  * and the attributes are aliased onto the v2 relation's expression
  * ids so every reference above resolves unchanged. Write commands
  * keep their v2 relation (the V1Write path needs it). */
final case class GraftV2ExpandRule(spark: SparkSession)
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project,
    V2WriteCommand}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  private def expand(r: DataSourceV2Relation, t: GraftV2Table)
      : LogicalPlan = {
    // NOTE: DataFrame-side time travel — spark.read
    // .option("versionAsOf", v).table(name) / option("timestampAsOf",
    // ts) — needs nothing here: Spark's own TimeTravelSpec consumes
    // those reader options during relation resolution and routes them
    // through the catalog's time-travel loadTable overloads, so the
    // table arrives already pinned (GraftCatalogSpec pins both
    // spellings and their misuse errors)
    val plan = SnapshotSql.snapshotPlan(spark, t.snapshot)
    require(plan.output.length == r.output.length &&
      plan.output.zip(r.output).forall { case (n, o) => n.name == o.name },
      s"catalog expansion schema drift: ${plan.output} vs ${r.output}")
    Project(plan.output.zip(r.output).map { case (n, o) =>
      Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }, plan)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    def rewrite(p: LogicalPlan): LogicalPlan = p match {
      case w: V2WriteCommand =>
        // the write TARGET stays a v2 relation; only the query rewrites
        val q2 = rewrite(w.query)
        if (q2 eq w.query) w else w.withNewQuery(q2)
      case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable =>
        d // DELETE's target must STAY a v2 relation: planning routes it
          // to SupportsDelete.deleteWhere, which prunes from the
          // manifest itself — expanding here would orphan the command
      case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable =>
        u // UPDATE/MERGE targets likewise stay v2 relations for
          // GraftDmlRewrite (post-hoc) to compile onto the table's own
          // envelope-pruned rewrite commands
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable =>
        val s2 = rewrite(m.sourceTable) // the SOURCE still expands to
                                        // the prunable snapshot plan
        if (s2 eq m.sourceTable) m else m.copy(sourceTable = s2)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftV2Table => expand(r, t)
        case _ => r
      }
      case other =>
        val kids = other.children.map(rewrite)
        if (kids.zip(other.children).forall { case (a, b) => a eq b }) other
        else other.withNewChildren(kids)
    }
    rewrite(plan)
  }
}
