package graft.table

import graft.TestBase
import org.apache.spark.sql.functions._

/** Shallow clone = branch-by-manifest-reference: zero data copied,
  * full table semantics on the branch, and deletion safety in the one
  * direction the format can enforce structurally (a clone's vacuum
  * lists only its OWN data dir, so source bytes are unreachable). The
  * other direction — source vacuum breaking a clone — is the caller's
  * retention contract, recorded as provenance in the clone's props. */
class ShallowCloneSpec extends TestBase {

  import spark.implicits._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_clone_$tag").toString

  private def freshSource(tag: String): GraftTable = {
    val root = scratch(tag)
    val t = GraftTable(spark, s"$root/data", s"$root/man", "id",
      statsCols = Seq("v2"))
    t.create((0L until 400L).map(i => (i, i * 10L, s"r$i"))
      .toDF("id", "v2", "payload"), 4)
    t
  }

  private def dataFiles(t: GraftTable): Set[String] =
    t.partFiles

  test("clone v=1 reads the source snapshot row-for-row, copying nothing") {
    val src = freshSource("parity")
    val root = scratch("parity_cl")
    val cl = src.shallowClone(1, s"$root/data", s"$root/man")
    assert(cl.readAsOf(1).collect().toSet ==
      src.readAsOf(1).collect().toSet)
    assert(dataFiles(cl).isEmpty,
      "a SHALLOW clone must not copy any data file")
    // every cloned manifest entry still points into the source dir
    assert(cl.files(1).forall(_.contains(src.data)))
  }

  test("divergence is two-way isolated: branch writes never cross") {
    val src = freshSource("diverge")
    val root = scratch("diverge_cl")
    val cl = src.shallowClone(1, s"$root/data", s"$root/man")
    cl.commitAppend((1000L until 1100L).map(i =>
      (i, i * 10L, s"c$i")).toDF("id", "v2", "payload"), 1)
    src.commitAppend((2000L until 2050L).map(i =>
      (i, i * 10L, s"s$i")).toDF("id", "v2", "payload"), 1)
    assert(cl.readAsOf(2).count() == 500)
    assert(src.readAsOf(2).count() == 450)
    assert(cl.readAsOf(2).filter($"id" >= 2000).count() == 0,
      "source's post-clone append leaked into the clone")
    assert(src.readAsOf(2).filter($"id" >= 1000 && $"id" < 1100).count() == 0,
      "clone's append leaked into the source")
    // the clone's new files landed in the clone's dir; pruning still
    // works across the mixed (source + clone) reference set
    assert(dataFiles(cl).nonEmpty)
    val (kept, total) = cl.prune(2, 1000L, 1099L)
    assert(total == cl.files(2).size)
    assert(kept.nonEmpty && kept.forall(_.contains(cl.data)),
      "the appended id range must prune to clone-dir files only")
  }

  test("a clone's COW merge rewrites into the clone dir; source files survive") {
    val src = freshSource("merge")
    val before = dataFiles(src)
    val root = scratch("merge_cl")
    val cl = src.shallowClone(1, s"$root/data", s"$root/man")
    cl.commitMerge((0L until 50L).map(i =>
      (i, -1L, s"upd$i")).toDF("id", "v2", "payload"), 1)
    assert(cl.readAsOf(2).filter($"v2" === -1L).count() == 50)
    assert(dataFiles(src) == before,
      "merging the clone touched the source's data dir")
    assert(src.readAsOf(1).filter($"v2" === -1L).count() == 0)
  }

  test("vacuuming the clone can never reclaim source bytes") {
    val src = freshSource("vacuum")
    val before = dataFiles(src)
    val root = scratch("vacuum_cl")
    val cl = src.shallowClone(1, s"$root/data", s"$root/man")
    cl.commitMerge((0L until 200L).map(i =>
      (i, -5L, s"m$i")).toDF("id", "v2", "payload"), 1)
    cl.commitAppend((5000L until 5100L).map(i =>
      (i, 1L, s"a$i")).toDF("id", "v2", "payload"), 2)
    // drop the clone's v=1..2 history, reclaim its orphans
    cl.vacuum(keepFrom = 3, latest = 3)
    assert(dataFiles(src) == before,
      "clone vacuum deleted source files")
    assert(cl.readAsOf(3).count() == 500)
  }

  test("clone props record provenance; loadProps still parses the shape") {
    val src = freshSource("props")
    val root = scratch("props_cl")
    val cl = src.shallowClone(1, s"$root/data", s"$root/man")
    val props = GraftTable.loadProps(spark, cl.man)
    assert(props.exists(p => p.key.contains("id") &&
      p.statsCols == Seq("v2") && p.data.contains(cl.data)))
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(cl.man, "_table_props")), "UTF-8")
    assert(raw.contains(s"source=${src.man}@v=1"),
      s"provenance line missing from:\n$raw")
  }

  test("guards: shared dirs and uncommitted snapshots are rejected") {
    val src = freshSource("guards")
    intercept[IllegalArgumentException] {
      src.shallowClone(1, scratch("g1"), src.man)
    }
    intercept[IllegalArgumentException] {
      src.shallowClone(1, src.data, scratch("g2"))
    }
    intercept[IllegalArgumentException] {
      src.shallowClone(7, scratch("g3"), scratch("g4"))
    }
  }
}
