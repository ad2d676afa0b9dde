package graft.perfbench

import graft.table.{GraftCatalog, GraftTable}

import scala.collection.mutable
import scala.util.Random

/** table-lifecycle: one writer on a GraftCatalog table whose catalog,
  * data and manifest directories all live on graft://, seeded from
  * sf0.1 `orders` (o_orderkey, o_custkey, o_totalprice).
  *
  * The writer runs a seeded list of INSERT INTO, MERGE INTO (copy on
  * write), UPDATE and DELETE FROM (both merge-on-read through the
  * table's `mode.update` / `mode.delete` properties). Every commit and
  * every vacuum is followed by a `graft_snapshot` read of the latest
  * version, every DML commit also by a time-travel read of the version
  * before it, and every [[TableLifecycle.OptimizeEvery]] DML commits run
  * `graft_optimize`, then `graft_vacuum` keeping the last three
  * versions. Each read must match the row count, key sum and
  * o_custkey sum of an in-memory model of the table at that version. */
final class TableLifecycle(ctx: Ctx) extends SparkWorkload(ctx) {
  import TableLifecycle._

  protected val memBytes: Long = 256L << 20
  protected val diskBytes: Long = 256L << 20
  protected val writeCacheBytes: Long = 2L << 30

  private val root = ctx.dir("remote/tbl")
  private val warmRoot = ctx.dir("warm/tbl")
  // the table's directories: on graft:// for set-up and the timed phase,
  // on the plain local path for the JIT warm-up
  private var man, data = ""

  private var initial: Model = _
  private var list: IndexedSeq[Op] = IndexedSeq.empty
  def ops: IndexedSeq[Op] = list

  // run-time version bookkeeping: the version each model state lives at
  private var version = 0
  private var keepFrom = 0
  private val states = mutable.Map.empty[Int, State]

  /** Loads the model, generates the op list, then warms the JIT with
    * the first [[WarmOps]] ops of another seed's op list on a plain local
    * table. */
  def prepare(): Unit = {
    spark = startSpark()
    try {
      val rows = spark.read.parquet(s"$SfDir/orders.parquet")
        .select("o_orderkey", "o_custkey").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      initial = new Model(rows)
      list = generate(new Model(rows), new Random(ctx.seed))
      val warm = generate(new Model(rows), new Random(~ctx.seed))
        .take(WarmOps)
      createTable(warmRoot.getAbsolutePath)
      warm.foreach(op => require(run(op), s"warm-up ${op.kind} went wrong"))
    } finally {
      teardown()
      Harness.deleteTree(warmRoot)
    }
  }

  /** The op list, applying each statement to `m` as it goes. */
  private def generate(m: Model, rnd: Random): IndexedSeq[Op] = {
    val commits = math.max(2 * OptimizeEvery,
      math.round(CommitsPerSecond * ctx.seconds * ctx.scale).toInt)
    val out = mutable.ArrayBuffer.empty[Op]
    // every block of OptimizeEvery commits runs the same kinds in the
    // same order; the seed picks key ranges, sizes and values
    (1 to commits).foreach { c =>
      val salt = rnd.nextInt(1000)
      val stmt = BlockKinds((c - 1) % OptimizeEvery) match {
        case "insert" =>
          val a = m.nextKey
          val b = a + 200 + rnd.nextInt(800)
          Dml("insert",
            s"INSERT INTO $Name SELECT id AS o_orderkey, " +
              s"(id * 7 + $salt) % 15000 AS o_custkey, " +
              s"CAST(id % 100000 AS DOUBLE) / 100.0 AS o_totalprice " +
              s"FROM range($a, $b)",
            m.upsert((a until b).map(k => k -> (k * 7 + salt) % 15000)),
            m.state)
        case "merge" =>
          val a = rnd.nextInt(m.nextKey.toInt).toLong
          val b = a + 300 + rnd.nextInt(1200)
          val src = (a until b by 3).map(k => k -> (k * 11 + salt) % 15000)
          Dml("merge",
            s"MERGE INTO $Name t USING (SELECT id AS k, " +
              s"(id * 11 + $salt) % 15000 AS c FROM range($a, $b, 3)) s " +
              "ON t.o_orderkey = s.k " +
              "WHEN MATCHED THEN UPDATE SET o_custkey = s.c " +
              "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, " +
              "o_totalprice) VALUES (s.k, s.c, 1.0)",
            m.upsert(src), m.state)
        case "update" =>
          val a = m.liveAtOrAfter(rnd.nextInt(m.nextKey.toInt).toLong)
          val b = a + 100 + rnd.nextInt(900)
          val d = 1 + rnd.nextInt(9)
          Dml("update",
            s"UPDATE $Name SET o_custkey = o_custkey + $d " +
              s"WHERE o_orderkey BETWEEN $a AND $b",
            m.update(a, b, d), m.state)
        case _ =>
          val a = m.liveAtOrAfter(rnd.nextInt(m.nextKey.toInt).toLong)
          val b = a + 50 + rnd.nextInt(450)
          Dml("delete", s"DELETE FROM $Name WHERE o_orderkey BETWEEN $a AND $b",
            m.delete(a, b), m.state)
      }
      out ++= Seq(stmt, Snapshot(back = 0), Snapshot(back = 1))
      if (c % OptimizeEvery == 0)
        out ++= Seq(Optimize, Snapshot(back = 0), Vacuum, Snapshot(back = 0))
    }
    out.toIndexedSeq
  }

  def setup(): Unit = {
    teardown()
    Harness.clearCaches(ctx)
    Harness.deleteTree(root)
    spark = startSpark()
    createTable(ctx.graft(root))
    // warm-up: one snapshot read of the new table through the remote
    require(run(Snapshot(back = 0)),
      "warm-up snapshot read does not match the seeded table")
    resetProbe()
  }

  /** Create the seeded table under `dir` and register it as g.db.t. */
  private def createTable(dir: String): Unit = {
    man = s"$dir/man"
    data = s"$dir/data"
    val src = spark.read.parquet(s"$SfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    GraftTable(spark, data, man, "o_orderkey").create(src, InitialFiles)
    spark.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g.dir", s"$dir/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql(s"CREATE TABLE $Name USING graft OPTIONS (man '$man')")
    spark.sql(s"ALTER TABLE $Name SET TBLPROPERTIES " +
      "('mode.delete' = 'mor', 'mode.update' = 'mor')")
    version = GraftTable(spark, "", man, "").committedVersions.max
    keepFrom = 0
    states.clear()
    states(version) = initial.state
  }

  def run(op: Op): Boolean = op match {
    case s: Snapshot => Tracer.span("table.snapshot_read")(read(s))
    case _ => Tracer.span(s"table.${op.kind}")(commit(op))
  }

  private def commit(op: Op): Boolean = op match {
    case d: Dml =>
      val r = spark.sql(d.sql).collect()
      version += 1
      states(version) = d.after
      d.kind match {
        case "merge" | "update" =>
          r.headOption.exists(_.getLong(0) == d.changed)
        case _ => true
      }
    case Optimize =>
      val r = spark.sql(
        s"SELECT * FROM graft_optimize('$Name', $TargetBytes)").head
      val v = r.getAs[Long]("latest_version").toInt
      states(v) = states(version)
      version = v
      true
    case Vacuum =>
      keepFrom = math.max(keepFrom, version - 2)
      spark.sql(s"SELECT * FROM graft_vacuum('$Name', $keepFrom)").collect()
      states.keys.filter(_ < keepFrom).foreach(states.remove)
      true
  }

  private def read(s: Snapshot): Boolean = {
    val v = math.max(keepFrom, version - s.back)
    val r = spark.sql(
      "SELECT count(*) AS n, sum(o_orderkey) AS ks, sum(o_custkey) AS cs " +
        s"FROM graft_snapshot('$Name', $v)").head
    states.get(v).contains(State(r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  def userBytes(done: Seq[OpRec]): Long =
    ops.zip(done).collect { case (d: Dml, r) if r.ok => d.changed }.sum *
      RowBytes

  override def extra(done: Seq[OpRec]): Map[String, Double] = Map(
    "table.versions" -> version.toDouble,
    "table.live_data_files" ->
      GraftTable(spark, "", man, "").files(version).size.toDouble)
}

object TableLifecycle {
  val SfDir: String = SqlHot.SfDir
  val Name = "g.db.t"
  val InitialFiles = 8
  /** Untimed warm-up ops: every DML kind and both read kinds. */
  val WarmOps = 12
  val OptimizeEvery = 5
  /** The DML kinds of one block of OptimizeEvery commits, in order. */
  val BlockKinds: Seq[String] =
    Seq("insert", "merge", "update", "delete", "insert")
  /** graft_optimize's target file size. */
  val TargetBytes: Long = 1L << 20
  /** Logical bytes of one row: three 8-byte columns. */
  val RowBytes = 24L
  /** DML commits per requested second (fixed work). */
  val CommitsPerSecond = 1.0

  final case class State(rows: Long, keySum: Long, custSum: Long)

  final case class Dml(kind: String, sql: String, changed: Long,
      after: State) extends Op { def cls = "write" }
  case object Optimize extends Op { def kind = "optimize"; def cls = "write" }
  case object Vacuum extends Op { def kind = "vacuum"; def cls = "write" }
  final case class Snapshot(back: Int) extends Op {
    def kind: String = if (back == 0) "snapshot" else "time_travel"
    def cls = "read"
  }

  /** The in-memory model: live key -> o_custkey. Each mutator returns
    * the number of rows it added, changed or removed. */
  final class Model(init: Array[(Long, Long)]) {
    private val rows = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    init.foreach { case (k, c) => rows.put(k, c) }
    var nextKey: Long = if (init.isEmpty) 0L else init.map(_._1).max + 1

    def state: State = {
      var ks = 0L; var cs = 0L
      rows.forEach((k, c) => { ks += k; cs += c })
      State(rows.size.toLong, ks, cs)
    }

    def liveAtOrAfter(k: Long): Long =
      Option(rows.ceilingKey(k)).orElse(Option(rows.floorKey(k)))
        .map(_.longValue).getOrElse(k)

    def upsert(src: Seq[(Long, Long)]): Long = {
      src.foreach { case (k, c) =>
        rows.put(k, c)
        if (k >= nextKey) nextKey = k + 1
      }
      src.size.toLong
    }

    def update(a: Long, b: Long, d: Long): Long = {
      val sub = rows.subMap(a, true, b, true)
      sub.replaceAll((_, c) => c + d)
      sub.size.toLong
    }

    def delete(a: Long, b: Long): Long = {
      val sub = rows.subMap(a, true, b, true)
      val n = sub.size.toLong
      sub.clear()
      n
    }
  }
}
