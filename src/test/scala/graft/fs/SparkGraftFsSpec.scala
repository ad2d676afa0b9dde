package graft.fs

import graft.{Tables, TestBase}
import org.apache.spark.sql.functions._

/** End-to-end: Spark reads and writes parquet THROUGH the caching
  * filesystem (`graft://` scheme). This is the integration the whole
  * layer exists for — the reference is "a caching FS under Spark"
  * (SURVEY.md §0); here Spark's parquet scans, vectorized readers and
  * rename-based commit protocol all run against GraftCachingFileSystem.
  */
class SparkGraftFsSpec extends TestBase {

  private lazy val scratch =
    java.nio.file.Files.createTempDirectory("graft_spark_fs").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graft.impl", classOf[GraftCachingFileSystem].getName)
    hc.set("graft.fs.disk.cache.dir", s"$scratch/pages")
    hc.set("graft.fs.write.cache.dir", s"$scratch/wc")
  }

  private def fsInstance: GraftCachingFileSystem =
    GraftCachingFileSystem.instanceFor("graft://local/").getOrElse(
      fail("graft fs instance not registered"))

  test("spark reads parquet through the caching fs; re-read is remote-free") {
    val path = s"graft://local$sfDir/lineitem.parquet"
    val df = spark.read.schema(Tables.lineitem).parquet(path)
    val n1 = df.count()
    assert(n1 > 0)
    val stats = fsInstance.stats
    val remoteAfterFirst = stats.bytesFromRemote.get
    assert(remoteAfterFirst > 0, "first scan should hit the remote tier")

    val agg = spark.read.schema(Tables.lineitem).parquet(path)
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    assert(agg.collect().length > 0)
    val remoteAfterSecond = stats.bytesFromRemote.get
    assert(remoteAfterSecond == remoteAfterFirst,
      s"second scan went remote: $remoteAfterFirst -> $remoteAfterSecond " +
        s"(page cache should serve it; ${stats.snapshot.filter(_._2 > 0)})")
    assert(stats.bytesFromPageCache.get + stats.bytesFromPrefetch.get > 0)
  }

  test("spark writes parquet through the caching fs (rename-based commit)") {
    val out = s"graft://local$scratch/out_orders"
    val orders = Tables.load(spark, sfDir, "orders")
    orders.write.mode("overwrite").parquet(out)

    // written files are readable back through the cache...
    val back = spark.read.schema(Tables.orders).parquet(out)
    assert(back.count() == orders.count())
    // ...and the copies landed in the write cache (read-your-writes tier)
    assert(fsInstance.stats.filesWritten.get > 0)
    assert(fsInstance.stats.bytesWritten.get > 0)
  }

  test("structured streaming sink + checkpoint run through graft://") {
    // checkpoints go through CheckpointFileManager, which prefers the
    // FileContext API — wiring the AbstractFileSystem shim makes the
    // atomic checkpoint renames flow through the caching FS too
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.AbstractFileSystem.graft.impl",
      classOf[graft.fs.adapters.GraftFs].getName)
    val src = java.nio.file.Files.createTempDirectory("graft_stream_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/nation.parquet"),
      src.resolve("nation.parquet"))
    val outPath = s"graft://local$scratch/stream_out"
    val ckpt = s"graft://local$scratch/stream_ckpt"
    val q = spark.readStream.schema(Tables.nation).parquet(src.toString)
      .writeStream.format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()

    val written = spark.read.schema(Tables.nation).parquet(outPath).count()
    val expected = Tables.load(spark, sfDir, "nation").count()
    assert(written == expected, s"streamed $written vs $expected")
    // the checkpoint landed through the caching filesystem
    val fs = fsInstance
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$ckpt/offsets")),
      "checkpoint offsets dir missing behind graft://")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$ckpt/commits")))
  }

  /** Mounts `graft://<auth>/` over the request-counting remote (the conf
    * keys only apply while the instance initializes; Hadoop's FileSystem
    * cache then serves it to Spark's driver and tasks). */
  private def mountCounting(auth: String): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Map(
      "graft.fs.remote.impl" -> classOf[CountingRemoteFileSystem].getName,
      "graft.fs.disk.cache.dir" -> s"$scratch/pages_$auth",
      "graft.fs.write.cache.dir" -> s"$scratch/wc_$auth")
    val saved = keys.keys.map(k => k -> Option(hc.get(k))).toMap
    keys.foreach { case (k, v) => hc.set(k, v) }
    try new org.apache.hadoop.fs.Path(s"graft://$auth/").getFileSystem(hc)
    finally saved.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None) => hc.unset(k)
    }
  }

  /** (result, HEADs, LISTs, LISTs of a file path) of one action. */
  private def remoteCalls[T](body: => T): (T, Long, Long, Long) = {
    CountingRemoteState.reset()
    val r = body
    (r, CountingRemoteState.statusCalls.get, CountingRemoteState.listCalls.get,
      CountingRemoteState.fileListCalls.get)
  }

  // Ceilings pin the remote calls of each read. Tighten them when a read
  // gets cheaper; never raise them. While every file listing went
  // remote, the parquet read made 4 LISTs (one per file) and 4 HEADs
  // cold, 0 warm, and the snapshot read 3 HEADs and 5 LISTs (4 of data
  // files). The snapshot read's HEADs fell to 2 when the manifest read
  // stopped stat-ing its dir before listing it. Once a created file's
  // record came from its close instead of a HEAD, every count below
  // held but the INSERT's and the create's.
  test("reading parquet file paths over graft:// lists no file remotely") {
    mountCounting("listguard")
    val local = java.nio.file.Files.createTempDirectory("graft_list_guard").toString
    spark.range(0, 4000).selectExpr("id", "id % 7 AS k").repartition(4)
      .write.parquet(s"$local/parts")
    val files = new java.io.File(s"$local/parts").list()
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
      .map(n => s"graft://listguard$local/parts/$n")
    assert(files.length == 4)
    Seq("cold", "warm").foreach { pass =>
      val (n, heads, lists, fileLists) =
        remoteCalls(spark.read.parquet(files: _*).count())
      info(s"$pass read of ${files.length} files: HEAD=$heads LIST=$lists " +
        s"file LIST=$fileLists")
      assert(n == 4000)
      assert(fileLists == 0, s"$pass read listed $fileLists file paths remotely")
      assert(lists == 0, s"$pass read: $lists LISTs")
      // before the close-time record: cold 4, warm 0
      assert(heads <= (if (pass == "cold") 4 else 0), s"$pass read: $heads HEADs")
    }
  }

  test("a graft_snapshot read of a GraftTable on graft:// lists no file remotely") {
    mountCounting("tblguard")
    val local = java.nio.file.Files.createTempDirectory("graft_tbl_guard").toString
    val man = s"graft://tblguard$local/man"
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    graft.table.GraftTable(spark, s"graft://tblguard$local/data", man,
      "o_orderkey").create(orders, 4)
    val (n, heads, lists, fileLists) = remoteCalls(
      spark.sql(s"SELECT count(*) FROM graft_snapshot('$man', 1)").head.getLong(0))
    info(s"graft_snapshot read: HEAD=$heads LIST=$lists file LIST=$fileLists")
    assert(n == orders.count())
    assert(fileLists == 0, s"listed $fileLists file paths remotely")
    assert(lists <= 1, s"$lists LISTs")
    assert(heads <= 2, s"$heads HEADs") // 2 before the close-time record
  }

  /** LISTs of `path` (a local path under the counting remote) in the
    * last [[remoteCalls]] window. */
  private def listsOf(path: String): Int = {
    import scala.jdk.CollectionConverters._
    CountingRemoteState.listedPaths.asScala.count(_ == path)
  }

  // One snapshot per statement: the log (the manifest root) and a
  // version's manifest dir are each listed at most once per statement.
  // Ceilings are this change's counts; tighten them, never raise them.
  // Before it, the MoR read below listed its manifest dir 3 times
  // (snapshotPlan, then readAsOf's files and entry pairs): LIST=3,
  // HEAD=2; the INSERT listed the log twice (the table's schema, then
  // the commit): LIST=13, HEAD=52. While commit writes went through
  // Hadoop's FileOutputCommitter and a staged move, the INSERT made
  // LIST=12, HEAD=51, 25 RENAMEs and 54 calls from the committer, and
  // the MoR read HEADed its deletion vector, whose meta record the move
  // had dropped: HEAD=2.
  test("a graft_snapshot read of a MoR version lists its manifest dir and the log at most once") {
    mountCounting("morguard")
    val local = java.nio.file.Files.createTempDirectory("graft_mor_guard").toString
    val man = s"graft://morguard$local/man"
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val t = graft.table.GraftTable(spark, s"graft://morguard$local/data", man,
      "o_orderkey").create(orders, 4)
    val nDel = t.commitDeleteMor(Nil, col("o_orderkey") % 7 === 0, 1)
    assert(nDel > 0 && t.hasLiveDvs(2))
    val (n, heads, lists, _) = remoteCalls(
      spark.sql(s"SELECT count(*) FROM graft_snapshot('$man', 2)").head.getLong(0))
    val (logLists, dirLists) = (listsOf(s"$local/man"), listsOf(s"$local/man/v=2"))
    info(s"MoR graft_snapshot read: HEAD=$heads LIST=$lists " +
      s"(log $logLists, manifest dir $dirLists)")
    assert(n == orders.count() - nDel)
    assert(logLists <= 1, s"the log was listed $logLists times")
    assert(dirLists <= 1, s"the manifest dir was listed $dirLists times")
    assert(lists <= 1, s"$lists LISTs")
    assert(heads <= 1, s"$heads HEADs") // 1 before the close-time record
  }

  test("one INSERT INTO a catalog table on graft:// lists the log once per commit attempt") {
    mountCounting("insguard")
    val local = java.nio.file.Files.createTempDirectory("graft_ins_guard").toString
    val man = s"graft://insguard$local/man"
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    graft.table.GraftTable(spark, s"graft://insguard$local/data", man,
      "o_orderkey").create(orders, 2)
    spark.conf.set("spark.sql.catalog.gins", classOf[graft.table.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gins.dir", s"$local/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gins.db")
    spark.sql(s"CREATE TABLE gins.db.t USING graft OPTIONS (man '$man')")
    orders.limit(100).createOrReplaceTempView("ins_src")
    val (_, heads, lists, _) = remoteCalls(
      spark.sql("INSERT INTO gins.db.t SELECT * FROM ins_src").collect())
    val logLists = listsOf(s"$local/man")
    val (renames, committer) = (CountingRemoteState.renameCalls.get,
      CountingRemoteState.committerCalls.get)
    info(s"INSERT INTO: HEAD=$heads LIST=$lists (log $logLists) " +
      s"RENAME=$renames FileOutputCommitter calls=$committer")
    assert(graft.table.GraftTable(spark, "", man, "").committedVersions == Seq(1, 2))
    assert(logLists == 1, s"one commit attempt listed the log $logLists times")
    // the data files are created at their final names: the log publish
    // is the only rename, and Hadoop's committer is never called
    assert(renames == 1, s"$renames RENAMEs")
    assert(committer == 0, s"$committer FileOutputCommitter calls")
    assert(lists <= 2, s"$lists LISTs")
    // 16 while each created file's close HEADed the remote
    assert(heads <= 4, s"$heads HEADs")
  }

  // Table creation writes its layout through the table's own commit
  // protocol: each task creates its file at its final name, so the v=1
  // log publish is the only rename. Ceilings are this change's counts;
  // tighten them, never raise them. While creation wrote through
  // Spark's writer and Hadoop's FileOutputCommitter, the same create
  // made LIST=6, HEAD=32, RENAME=9 and 30 calls from the committer, and
  // left a `_SUCCESS` in data/.
  test("create of a 4-file table on graft:// renames no data file and leaves no committer marker") {
    mountCounting("createguard")
    val local = java.nio.file.Files.createTempDirectory("graft_create_guard").toString
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val (t, heads, lists, _) = remoteCalls(
      graft.table.GraftTable(spark, s"graft://createguard$local/data",
        s"graft://createguard$local/man", "o_orderkey").create(orders, 4))
    val (renames, committer) = (CountingRemoteState.renameCalls.get,
      CountingRemoteState.committerCalls.get)
    info(s"create: HEAD=$heads LIST=$lists RENAME=$renames " +
      s"FileOutputCommitter calls=$committer")
    val names = new java.io.File(s"$local/data").list().toSeq.sorted
    assert(!names.exists(n => n == "_SUCCESS" || n == "_temporary"), names)
    // the data dir holds exactly the files the write tasks created, and
    // v=1 names every one of them
    assert(names.size == 4 && names.forall(_.startsWith("part-")), names)
    assert(t.files(1).map(f => new org.apache.hadoop.fs.Path(f).getName).sorted == names)
    assert(t.readAsOf(1).count() == orders.count())
    assert(renames == 1, s"$renames RENAMEs (the v=1 publish is the only one)")
    assert(committer == 0, s"$committer FileOutputCommitter calls")
    assert(lists == 0, s"$lists LISTs")
    // 14 while each created file's close HEADed the remote
    assert(heads <= 5, s"$heads HEADs")
  }

  test("query results identical with and without the caching layer") {
    val direct = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("q"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toSeq).toSeq
    val cached = spark.read.schema(Tables.lineitem)
      .parquet(s"graft://local$sfDir/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("q"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toSeq).toSeq
    assert(direct == cached)
  }
}
