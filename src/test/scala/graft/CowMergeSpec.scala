package graft

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import graft.operators.CurationQueries
import graft.table.GraftTable
import org.apache.spark.sql.functions._

/** q105's copy-on-write contract: a merge rewrites ONLY the
  * manifest-impacted files — everything else must be byte-identical
  * afterward — and commits a version whose entries name exactly the
  * surviving and replacement files with their true boxes, so skipping
  * keeps working. Nothing is deleted at commit: the previous version
  * still reads the pre-merge rows. */
class CowMergeSpec extends TestBase {

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

  test("merge rewrites only impacted files; the rest stay byte-identical") {
    val (out, man) = CurationQueries.versionedLayout(spark, sfDir, "q105spec")
    val tbl = GraftTable(spark, out, man, "o_orderkey")
    val before = md5s(out)
    val total = before.size
    val v1Rows = tbl.readAsOf(1).collect().toSet
    val updates = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey").between(1000, 1200))
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") * 2).as("o_totalprice"))
    val (impacted, _) = tbl.prune(1, 1000L, 1200L)
    assert(impacted.nonEmpty && impacted.size < total,
      s"impacted ${impacted.size} of $total — range does not prune")
    val impactedNames = impacted.map(nameOf).toSet

    tbl.commitMerge(updates, 1)
    val after = md5s(out)

    // every untouched file is bit-for-bit; every replaced file is out
    // of v2's manifest, and v2 names the untouched files plus new ones
    (before.keySet -- impactedNames).foreach { n =>
      assert(after.get(n).contains(before(n)), s"untouched file $n changed")
    }
    val v2Names = tbl.files(2).map(nameOf).toSet
    impactedNames.foreach(n =>
      assert(!v2Names.contains(n), s"$n still in v2's manifest"))
    assert((before.keySet -- impactedNames).subsetOf(v2Names),
      "an untouched file dropped out of v2's manifest")
    assert((v2Names -- before.keySet).nonEmpty, "no replacement written")
    assert(v2Names.subsetOf(after.keySet), "v2 names a missing file")

    // the merged snapshot is the straight full-table restatement
    val got = tbl.readAsOf(2)
      .filter(col("o_orderkey").between(1000, 1200))
      .agg(sum("o_totalprice")).head.getDouble(0)
    val want = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey").between(1000, 1200))
      .agg(sum(col("o_totalprice") * 2)).head.getDouble(0)
    assert(math.abs(got - want) < 1e-6, s"$got != $want")

    // every v2 box matches its file's true min/max
    tbl.manifest(2).collect().foreach { r =>
      val (f, lo, hi) = (r.getAs[String]("file"),
        r.getAs[Number]("lo").longValue, r.getAs[Number]("hi").longValue)
      val mm = spark.read.parquet(f)
        .agg(min("o_orderkey"), max("o_orderkey")).head
      assert(mm.getLong(0) == lo && mm.getLong(1) == hi,
        s"stale box for ${nameOf(f)}: [$lo,$hi] vs " +
          s"[${mm.getLong(0)},${mm.getLong(1)}]")
    }

    // skipping still works on the post-merge manifest
    val (kept2, total2) = tbl.prune(2, 1000L, 1200L)
    assert(kept2.nonEmpty && kept2.size < total2)

    // the replaced files are still on disk, so v1 reads its exact
    // pre-merge rows (an in-place merge that deletes before it commits
    // has no such version to fall back to)
    assert(tbl.readAsOf(1).collect().toSet == v1Rows,
      "v1 read drifted across the merge")
  }
}
