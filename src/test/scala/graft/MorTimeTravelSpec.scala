package graft

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import graft.operators.CurationQueries
import graft.table.GraftTable
import org.apache.spark.sql.functions._

/** q107's merge-on-read contract (a position delete writes NO data
  * bytes; compaction rewrites only DV-carrying files) and q108's snapshot
  * contract (committed manifest versions are immutable; as-of reads
  * reproduce the snapshot exactly). */
class MorTimeTravelSpec extends TestBase {

  private def md5s(dir: String): Map[String, String] = {
    val fs = new File(dir).listFiles()
    (if (fs == null) Array.empty[File] else fs)
      .filter(_.getName.startsWith("part-"))
      .map { f =>
        f.getName -> MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
      }.toMap
  }

  private def nameOf(p: String): String =
    new File(new java.net.URI(p).getPath).getName

  /** q107's table: orders over 8 clustered files, committed as v=1. */
  private def morTable(tag: String): GraftTable = {
    val (out, man) = CurationQueries.versionedLayout(spark, sfDir, tag)
    GraftTable(spark, out, man, "o_orderkey")
  }

  /** DELETE WHERE o_orderkey BETWEEN 1 AND 200 as position deletes,
    * planned on the key range: only the low-key files get a vector. */
  private def rangeDelete(tbl: GraftTable): Long = {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    tbl.commitDeleteMor(Seq(GreaterThanOrEqual("o_orderkey", 1L),
      LessThanOrEqual("o_orderkey", 200L)),
      col("o_orderkey").between(1, 200), 1)
  }

  test("q107: a scattered delete touches zero data bytes; the MOR read is exact") {
    val tbl = morTable("q107spec")
    val before = md5s(tbl.data)
    // every 7th key — scattered across ALL files, the COW worst case
    val deleted = tbl.commitDeleteMor(Nil, col("o_orderkey") % 7 === 3, 1)
    assert(md5s(tbl.data) == before, "a position delete must not touch data files")
    val expectDeleted = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 7 === 3).count()
    assert(deleted == expectDeleted, s"deleted $deleted != matches $expectDeleted")
    val dvPaths = tbl.entryPairs(2).flatMap(_._2).distinct
    val dvRows = spark.read.schema(GraftTable.dvSchema)
      .parquet(dvPaths: _*).count()
    assert(dvRows == expectDeleted, s"DV rows $dvRows != matches $expectDeleted")
    val got = tbl.readAsOf(2)
      .agg(count(lit(1)), sum("o_totalprice")).head
    val want = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 7 =!= 3)
      .agg(count(lit(1)), sum("o_totalprice")).head
    assert(got.getLong(0) == want.getLong(0), "MOR row count off")
    assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-6, "MOR sum off")
  }

  test("q107: the MOR read anti-joins only DV-dirty files; clean files bypass the join") {
    // the 100 TB shape: after a range-local delete, the overwhelming
    // majority of files carry no DVs and must stream straight from the
    // scan — paying the (file, pos) anti join for every row of a 100 TB
    // table to honor deletes in 1% of files is the regression this pins
    val tbl = morTable("q107spec")
    rangeDelete(tbl)
    val dirty = tbl.entryPairs(2).collect { case (f, Some(_)) => nameOf(f) }
      .toSet
    val total = tbl.files(2).size
    assert(dirty.nonEmpty && dirty.size < total,
      s"precondition: delete must touch a strict subset (${dirty.size} of $total)")
    val df = tbl.readAsOf(2)
    val plan = df.queryExecution.sparkPlan
    assert(plan.toString.contains("Union"),
      s"MOR read lost its clean/dirty split:\n$plan")
    // the anti-join side scans exactly the DV-named files (file-rooted
    // relation), not the whole table
    import org.apache.spark.sql.execution.FileSourceScanLike
    val scanned = plan.collectLeaves().collect {
      case f: FileSourceScanLike =>
        f.relation.location.rootPaths.map(_.getName).toSet
    }
    assert(scanned.contains(dirty),
      s"no scan restricted to the ${dirty.size} DV-dirty files: $scanned")
    // and the result is still exact
    val got = df.agg(count(lit(1))).head.getLong(0)
    val want = Tables.load(spark, sfDir, "orders")
      .filter(!col("o_orderkey").between(1, 200)).count()
    assert(got == want, s"pruned MOR read off: $got vs $want")
  }

  test("q107: compaction rewrites only DV-named files, then clears the DVs") {
    val tbl = morTable("q107spec")
    // a range-local delete: only the low-key files accumulate DVs
    rangeDelete(tbl)
    val before = md5s(tbl.data)
    val v2Names = tbl.files(2).map(nameOf).toSet
    val dvNames = tbl.entryPairs(2).collect { case (f, Some(_)) => nameOf(f) }
      .toSet
    assert(dvNames.nonEmpty && dvNames.size < v2Names.size,
      s"delete impacted ${dvNames.size} of ${v2Names.size} files — not range-local")
    val morBefore = tbl.readAsOf(2)
      .agg(count(lit(1)), sum("o_totalprice")).head

    // target = the smallest file's size: no file is undersized, so the
    // pack set is exactly the DV-carrying files
    val target = tbl.manifest(2).agg(min("bytes")).head.getLong(0)
    assert(tbl.commitCompaction(2, target) == dvNames.size)
    assert(!tbl.hasLiveDvs(3), "DVs not cleared")
    val v3Names = tbl.files(3).map(nameOf).toSet
    assert((v3Names & dvNames).isEmpty, "a DV-carrying file survived compaction")
    assert((v2Names -- dvNames).subsetOf(v3Names), "a DV-free file was rewritten")
    val after = md5s(tbl.data)
    (v2Names -- dvNames).foreach { n =>
      assert(after.get(n).contains(before(n)), s"untouched file $n changed")
    }
    // the PLAIN read of v3's files now equals what the MOR read said
    // before compaction, and the DV-free MOR read agrees with it
    val plain = spark.read.parquet(tbl.files(3): _*)
      .agg(count(lit(1)), sum("o_totalprice")).head
    assert(plain.getLong(0) == morBefore.getLong(0), "compaction changed rows")
    assert(math.abs(plain.getDouble(1) - morBefore.getDouble(1)) < 1e-6)
    val morAfter = tbl.readAsOf(3)
      .agg(count(lit(1)), sum("o_totalprice")).head
    assert(morAfter.getLong(0) == plain.getLong(0), "DV-free MOR read off")
  }

  test("q108: committed manifests are immutable; as-of reads reproduce the snapshot") {
    val layout @ (out, man) = CurationQueries.versionedLayout(spark, sfDir)
    val v1ManBytes = md5s(s"$man/v=1")
    val v1DataBytes = md5s(out)
    val snap1Keys = CurationQueries.readAsOf(spark, layout, 1)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet

    val batch = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey").between(1, 500))
      .select((-col("o_orderkey")).as("o_orderkey"), col("o_custkey"),
        col("o_totalprice"))
    val batchN = batch.count()
    CurationQueries.commitAppend(spark, layout, batch, 1, "o_orderkey")

    // v1's manifest and v1's data files: bit-for-bit after the commit
    assert(md5s(s"$man/v=1") == v1ManBytes, "v1 manifest changed by the commit")
    v1DataBytes.foreach { case (n, h) =>
      assert(md5s(out).get(n).contains(h), s"v1 data file $n changed")
    }
    // time travel: as-of v1 is the exact pre-commit row set, even though
    // the directory now holds the appended files too
    val again = CurationQueries.readAsOf(spark, layout, 1)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(again == snap1Keys, "as-of v1 read drifted after the commit")
    // and v2 sees exactly v1 + the batch
    val v2n = CurationQueries.readAsOf(spark, layout, 2).count()
    assert(v2n == snap1Keys.size + batchN, s"v2 rows $v2n != v1+batch")
    // the latest snapshot matches the plain directory read
    assert(v2n == spark.read.parquet(out).count(), "v2 != directory contents")
  }

  test("q110: time travel survives a COW merge until vacuum reclaims exactly the old files") {
    val layout @ (out, man) = CurationQueries.versionedLayout(spark, sfDir, "q110spec")
    val snap1Sum = CurationQueries.readAsOf(spark, layout, 1)
      .agg(sum("o_totalprice")).head.getDouble(0)
    val v1Files = md5s(out)
    val updates = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey").between(1000, 1200))
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") * 2).as("o_totalprice"))
    CurationQueries.commitMerge(spark, layout, updates, 1, "o_orderkey")

    // snapshot isolation: the commit deleted NOTHING — v1 still reads
    // its exact pre-merge state, byte-identical files included
    v1Files.foreach { case (n, h) =>
      assert(md5s(out).get(n).contains(h), s"commitMerge touched v1 file $n")
    }
    val snap1Again = CurationQueries.readAsOf(spark, layout, 1)
      .agg(sum("o_totalprice")).head.getDouble(0)
    assert(math.abs(snap1Again - snap1Sum) < 1e-6, "v1 read drifted across the merge")

    // v2 is the merged state
    val want = Tables.load(spark, sfDir, "orders").agg(
      sum(when(col("o_orderkey").between(1000, 1200),
        col("o_totalprice") * 2).otherwise(col("o_totalprice")))).head.getDouble(0)
    val v2Sum = CurationQueries.readAsOf(spark, layout, 2)
      .agg(sum("o_totalprice")).head.getDouble(0)
    assert(math.abs(v2Sum - want) < 1e-6, s"merged state off: $v2Sum != $want")

    // vacuum retaining only v2: exactly the files v2 no longer
    // references disappear; the v2 read is bit-stable through it
    val v2Referenced = spark.read.parquet(s"$man/v=2").select("file").collect()
      .map(r => new File(new java.net.URI(r.getString(0)).getPath).getName).toSet
    val expectGone = v1Files.keySet -- v2Referenced
    assert(expectGone.nonEmpty, "merge impacted no files — fixture too narrow")
    val deleted = CurationQueries.vacuum(spark, layout, keepFrom = 2, latest = 2)
    assert(deleted.toSet == expectGone,
      s"vacuum deleted ${deleted.toSet} != expected $expectGone")
    val onDisk = GraftTable(spark, out, man, "o_orderkey").partFiles
    assert(onDisk == v2Referenced ++ (onDisk -- v1Files.keySet) &&
      (onDisk & expectGone).isEmpty,
      "directory does not match the retained reference set")
    assert(!new File(s"$man/v=1").exists(), "expired manifest version survived vacuum")
    val v2After = CurationQueries.readAsOf(spark, layout, 2)
      .agg(sum("o_totalprice")).head.getDouble(0)
    assert(math.abs(v2After - v2Sum) < 1e-6, "v2 read changed across vacuum")
  }

  test("q111: the change feed comes from churned files only, survivors fall out") {
    val layout @ (_, man) = CurationQueries.versionedLayout(spark, sfDir, "q111spec")
    val updates = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey").between(1000, 1200))
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") * 2).as("o_totalprice"))
    val nUpd = updates.count()
    CurationQueries.commitMerge(spark, layout, updates, 1, "o_orderkey")

    def refs(v: Int): Set[String] = spark.read.parquet(s"$man/v=$v")
      .select("file").collect().map(_.getString(0)).toSet
    // the diff's input is the symmetric difference — a strict subset
    val churned = (refs(1) -- refs(2)) ++ (refs(2) -- refs(1))
    assert(churned.nonEmpty && churned.size < (refs(1) ++ refs(2)).size,
      s"churn ${churned.size} of ${(refs(1) ++ refs(2)).size} — nothing pruned")
    // rewritten-but-unchanged survivors live in churned files on both
    // sides with equal values; the feed must contain ONLY the real batch
    val cdc = CurationQueries.cdcBetween(spark, layout, 1, 2).collect()
    assert(cdc.length == nUpd, s"feed ${cdc.length} rows, batch had $nUpd")
    assert(cdc.forall(_.getAs[String]("op") == "update"), "non-update op leaked")
    val keys = cdc.map(_.getAs[Long]("o_orderkey")).toSet
    assert(keys.forall(k => k >= 1000 && k <= 1200), "survivor leaked into the feed")
  }
}
