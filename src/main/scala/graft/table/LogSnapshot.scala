package graft.table

import java.io.FileNotFoundException
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import scala.language.implicitConversions

/** Which snapshot a read or commit builds on: a version number or a
  * [[LogSnapshot]] the statement already holds. An Int converts
  * implicitly, so `t.readAsOf(2)` and `t.readAsOf(snap)` are the same
  * call. */
sealed trait SnapshotRef { def version: Int }

object SnapshotRef {
  final case class Version(version: Int) extends SnapshotRef
  implicit def ofVersion(v: Int): SnapshotRef = Version(v)
}

/** One statement's view of a table's log — Delta's `Snapshot` from one
  * `DeltaLog.update()`. Everything derived from `version` — manifest
  * entries, files, (file, dv) pairs, recorded schema, commit time — is
  * read at most once, on first use.
  *
  * [[GraftTable.snapshot]] lists the log at most once: the latest
  * version comes from that listing, and [[at]] resolves others from it.
  * A version the caller names needs no listing: its own manifest read
  * proves it committed, and only a failed read lists the log to name
  * the failure. A snapshot is never refreshed — a commit retry takes a
  * fresh one, and the atomic publish stays the only arbiter. An EMPTY
  * snapshot (no version in the log) has version 0; reading anything
  * from it fails with the one "no committed snapshots" message. */
final class LogSnapshot private[table] (private[table] val table: GraftTable,
    listing: Option[Seq[Int]], val version: Int) extends SnapshotRef {

  def man: String = table.man

  /** The committed versions: the listing this snapshot came from, or —
    * for a named version — listed on first use. */
  lazy val versions: Seq[Int] = listing.getOrElse(table.snapshot().versions)

  def isEmpty: Boolean = versions.isEmpty
  def contains(v: Int): Boolean = versions.contains(v)

  /** This snapshot once its version is proven committed: by the listing
    * it came from, else by reading its manifest. */
  def requireTable(): LogSnapshot = {
    if (listing.isEmpty) manifest else dir
    this
  }

  /** Version `v` resolved from this snapshot's listing — no second LIST.
    * Fails when the listing does not hold `v` (expired or never
    * committed). */
  def at(v: Int): LogSnapshot =
    if (v == version) this
    else {
      LogSnapshot.requireListed(man, versions, v)
      new LogSnapshot(table, Some(versions), v)
    }

  /** The latest version of this listing committed at or before `epochMs`
    * (Delta's TIMESTAMP AS OF). One commit-time read per version. */
  def asOfTime(epochMs: Long): LogSnapshot = {
    requireTable()
    val eligible = versions.filter(v => at(v).commitTime <= epochMs)
    if (eligible.isEmpty)
      LogSnapshot.fail(s"no snapshot committed at or before $epochMs " +
        s"(earliest commit: ${at(versions.min).commitTime})")
    at(eligible.max)
  }

  /** The version's manifest dir: the rename store's `man/v=N` (a path,
    * no HEAD) or the pointer store's pointer, read once. */
  lazy val dir: String = {
    listing.foreach(LogSnapshot.requireListed(man, _, version))
    try table.store.dirOf(table.manFs, new Path(man), version).toString
    catch { case e: FileNotFoundException if listing.isEmpty => unlisted(e) }
  }

  /** A named version whose manifest is missing: the listing names why. */
  private def unlisted(e: Throwable): Nothing = {
    LogSnapshot.requireListed(man, versions, version)
    throw e
  }

  private lazy val manifest: (Seq[Row], StructType) =
    try GraftTable.readManifestRows(table.spark, dir)
    catch { case e: FileNotFoundException if listing.isEmpty => unlisted(e) }

  /** The manifest entries, read once, driver-side (no Spark job). */
  lazy val rows: Array[Row] = manifest._1.toArray

  /** [[rows]] as a local relation — `.collect()` on it is driver-only. */
  lazy val entries: DataFrame = {
    import scala.jdk.CollectionConverters._
    table.spark.createDataFrame(manifest._1.asJava, manifest._2)
  }

  lazy val files: Seq[String] = rows.map(_.getAs[String]("file")).toSeq

  /** (file, deletion-vector path) pairs — an entry's EFFECTIVE content
    * identity. Pre-MoR manifests have no `dv` column; every pair reads
    * None. */
  lazy val pairs: Seq[(String, Option[String])] =
    rows.map(r => (r.getAs[String]("file"), GraftTable.entryDvOf(r))).toSeq

  def hasLiveDvs: Boolean = pairs.exists(_._2.isDefined)

  /** The data schema the commit recorded (`_schema.ddl`, riding the
    * atomic commit) — the zero-footer-read planning path. None for
    * manifests written before the file existed. */
  lazy val schema: Option[StructType] = {
    requireTable()
    try Some(StructType.fromDDL(GraftTable.readText(table.manFs,
      new Path(dir, GraftTable.SchemaFile))))
    catch { case _: FileNotFoundException => None }
  }

  /** [[schema]], or the footer union of the snapshot's files for a
    * manifest written before the schema was recorded. */
  def dataSchema: StructType = schema.getOrElse {
    require(files.nonEmpty, s"snapshot v=$version of $man references no " +
      "data files and records no schema (empty pre-r11 snapshots carry no " +
      "schema to scan)")
    table.spark.read.option("mergeSchema", "true").parquet(files: _*).schema
  }

  /** [[schema]] for a schema change (`what`) that extends it. */
  def requireSchema(what: String): StructType = schema.getOrElse(
    throw new UnsupportedOperationException(s"snapshot v=$version of $man " +
      s"records no schema (pre-r11 table) — $what needs the " +
      "commit-recorded schema"))

  /** The `_ts_<epochMs>` marker the commit carried; manifests from before
    * the marker fall back to the directory's modification time. */
  lazy val commitTime: Long = {
    val d = new Path(requireTable().dir)
    GraftTable.listStatusSafe(table.manFs, d).map(_.getPath.getName)
      .find(_.startsWith("_ts_")).map(_.drop(4).toLong)
      .getOrElse(table.manFs.getFileStatus(d).getModificationTime)
  }
}

object LogSnapshot {
  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** The one home of the version failures: an empty log, a version
    * below the vacuum horizon, a version never committed. */
  private def requireListed(man: String, versions: Seq[Int], v: Int): Unit = {
    if (versions.isEmpty)
      fail(s"no committed snapshots under $man (no committed versions in " +
        "its log) — not a GraftTable manifest dir, or the table was never " +
        "created (create()/createEmpty())")
    if (!versions.contains(v)) {
      val committed = s"(committed: ${versions.mkString(", ")})"
      if (v < versions.min)
        fail(s"snapshot v=$v of $man has been EXPIRED by vacuum — the " +
          s"retained version range is [${versions.min}, ${versions.max}] " +
          s"$committed; time travel below the vacuum horizon is " +
          "permanently gone (raise the retention if consumers need " +
          "deeper history)")
      fail(s"no committed snapshot v=$v under $man $committed")
    }
  }
}
