package graft.operators

import graft.Tables
import graft.functions.Det.dround
import graft.functions.VectorExprs.cosine_similarity
import graft.table.{GraftTable, SnapshotRef}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTED IVF ANN index as a first-class graft table, maintained
  * INCREMENTALLY from the corpus change feed — the missing piece that
  * makes the q46* family a 100 TB operator instead of a per-query
  * pipeline: q46b retrains k-means cells and re-assigns the whole
  * corpus on EVERY call; here the index is built ONCE per corpus
  * (train on a bounded sample + one map-only assign scan), stored as a
  * cell-keyed graft table whose manifest boxes make every probe
  * FILE-PRUNED, and corpus changes fold in by encoding ONLY the churn
  * with the frozen model (the row-78 IVM pattern applied to the index
  * itself). Search cost is O(probed cells' files + un-indexed churn) —
  * it never scans the corpus or the whole index.
  *
  * Layout (under one `root`):
  *  - `root/model` — the coarse quantizer (cid, centroid), a k x dim
  *    parquet written once at build; REFRESH NEVER RETRAINS IT (FAISS
  *    practice: the quantizer trains once and freezes; cells drift only
  *    on an explicit rebuild).
  *  - `root/idx_data` + `root/idx_man` — a GraftTable keyed by `cell`
  *    with rows (cell, nid, embedding, iv, dead), range-clustered by
  *    cell so the manifest's (lo, hi) key boxes file-prune a probe
  *    exactly. `iv` is the corpus version whose refresh wrote the row;
  *    `dead` marks a tombstone. Each index commit carries a
  *    `corpus_v=<N>` tag recording the corpus version it covers, so
  *    [[refresh]] knows where the change feed resumes — provenance via
  *    the same tag mechanism the streaming sink keys replay on, no
  *    side state.
  *
  * The maintenance model is the LSM/Lucene-segment one:
  *  - INSERT/UPDATE churn appends live rows encoded with the frozen
  *    model (an update's new vector may land in a new cell; its old
  *    row is superseded, below).
  *  - DELETE/UPDATE churn appends a TOMBSTONE row into the OLD
  *    vector's cell (the cdc old_embedding encodes to exactly the cell
  *    the stale row sits in), so the same probe that would find the
  *    stale row finds its tombstone.
  *  - Search resolves multiplicity per (query, nid) by generation: the
  *    highest-`iv` row wins (live beats tombstone at equal iv), then
  *    tombstoned candidates drop. Changes NEWER than the indexed
  *    version come from the change feed directly (the "fresh segment"):
  *    un-indexed inserts/updates brute-force against the O(churn) cdc
  *    rows, un-indexed deletes tombstone via an anti-join — so search
  *    is correct against the LIVE corpus at any index lag, and a
  *    refresh only moves cost from the fresh segment into the pruned
  *    index.
  *  - [[build]] is the rebuild/compaction verb: it drops superseded
  *    rows and tombstones and retrains the quantizer.
  *
  * Reported scores are EXACT cosines of current vectors (index rows
  * store the vector verbatim; updates rescore from their cdc/new row);
  * the index approximates candidate pruning only — the same contract
  * as q46b. AnnIndexSpec pins all of it.
  */
object AnnIndex {

  /** Same coarse geometry as q46b so the operating points transfer. */
  val K = 16
  val Iters = 3

  private[operators] def modelPath(root: String): String = s"$root/model"

  /** Read-through cache for the frozen driver-side model parquets
    * (coarse quantizer / codebook / srp params): one lifecycle query
    * loads the same frozen model two-plus times (refresh encode +
    * search probing), each a Spark collect job. The cache key is the
    * model dir; the VALIDATOR is the dir's (file name, length, mtime)
    * listing — the [[graft.Tables]] tsNanosCache pattern — so a
    * rebuild (new part-file uuid) can never replay a stale model, and
    * the frozen-model contract makes a validated hit exact. */
  /** Bounded LRU (model state is small but NOT free — full codebooks /
    * centroid sets; an unbounded process-global map would grow with
    * every index ever touched), keyed by the dir's FILESYSTEM URI +
    * path so two filesystems rendering the same path string can never
    * share an entry. */
  private val ModelCacheMax = 64
  private val modelCache =
    new java.util.LinkedHashMap[String, (String, AnyRef)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, AnyRef)]): Boolean =
        size() > ModelCacheMax
    }

  private[operators] def cachedModel[T <: AnyRef](spark: SparkSession,
      dir: String)(read: => T): T = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val (key, fp) =
      try {
        val fs = p.getFileSystem(hconf)
        val k = s"${fs.getUri}$dir"
        (k, fs.listStatus(p).filter(_.isFile)
          .map(s => s"${s.getPath.getName}|${s.getLen}|${s.getModificationTime}")
          .sorted.mkString(";"))
      } catch { case _: java.io.IOException => return read }
    val hit = modelCache.synchronized(modelCache.get(key))
    if (hit != null && hit._1 == fp) hit._2.asInstanceOf[T]
    else {
      val v = read
      modelCache.synchronized(modelCache.put(key, (fp, v)))
      v
    }
  }

  /** The index graft table handle. `nid` is a declared stats column:
    * maintenance predicates on vector id (audits, targeted rebuilds)
    * file-prune too. */
  def table(spark: SparkSession, root: String): GraftTable =
    GraftTable(spark, s"$root/idx_data", s"$root/idx_man", "cell",
      statsCols = Seq("nid"))

  /** Driver-side direct read of a frozen-model parquet dir — the
    * [[GraftTable.readManifestRows]] shape extended with single-level
    * LIST columns (the three model schemas are flat primitives plus
    * array<float/double>): loading O(model) driver-side state must not
    * schedule Spark jobs (each `spark.read.parquet(...).collect()`
    * burned two jobs + their planning gaps per load). Any unexpected
    * shape falls back to the Spark read in the caller (loud-safe:
    * throws here, caught at the call sites below). Rows behave like
    * collected Spark rows (getInt/getLong/getString/getSeq). */
  private def readModelRows(spark: SparkSession,
      dir: String): Seq[org.apache.spark.sql.Row] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val parts = fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")
    }
    require(parts.nonEmpty, s"model dir $dir holds no parquet part")
    def primType(p: org.apache.parquet.schema.PrimitiveType): DataType =
      p.getPrimitiveTypeName match {
        case INT32 => IntegerType
        case INT64 => LongType
        case FLOAT => FloatType
        case DOUBLE => DoubleType
        case BINARY
          if p.getLogicalTypeAnnotation != null &&
            p.getLogicalTypeAnnotation.isInstanceOf[
              LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          StringType
        case BOOLEAN => BooleanType
        case other =>
          throw new IllegalStateException(s"model field type $other")
      }
    def primValue(g: Group, i: Int, dt: DataType): Any = dt match {
      case IntegerType => g.getInteger(i, 0)
      case LongType => g.getLong(i, 0)
      case FloatType => g.getFloat(i, 0)
      case DoubleType => g.getDouble(i, 0)
      case StringType => g.getString(i, 0)
      case BooleanType => g.getBoolean(i, 0)
      case other => throw new IllegalStateException(other.toString)
    }
    var schema: StructType = null
    var firstMsg: org.apache.parquet.schema.MessageType = null
    val out = Seq.newBuilder[org.apache.spark.sql.Row]
    parts.foreach { st =>
      val reader =
        ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try {
        val msg = reader.getFooter.getFileMetaData.getSchema
        if (firstMsg == null) firstMsg = msg
        else require(msg == firstMsg, s"model parts disagree on schema in $dir")
        // field plan: Left(primitive spark type) or Right(element type)
        // for Spark's 3-level list shape (group(LIST){ repeated group
        // list { optional <elem> element } })
        val plan: Seq[Either[DataType, DataType]] =
          (0 until msg.getFieldCount).map { i =>
            val f = msg.getType(i)
            if (f.isPrimitive) Left(primType(f.asPrimitiveType()))
            else {
              val ann = f.getLogicalTypeAnnotation
              require(ann != null && ann.isInstanceOf[
                  LogicalTypeAnnotation.ListLogicalTypeAnnotation],
                s"model field '${f.getName}' is a non-LIST group")
              val rep = f.asGroupType().getType(0).asGroupType()
              Right(primType(rep.getType(0).asPrimitiveType()))
            }
          }
        if (schema == null) schema = StructType(plan.zipWithIndex.map {
          case (Left(dt), i) => StructField(msg.getType(i).getName, dt)
          case (Right(et), i) =>
            StructField(msg.getType(i).getName, ArrayType(et))
        })
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val recReader = new ColumnIOFactory().getColumnIO(msg)
            .getRecordReader(pages, new GroupRecordConverter(msg))
          var r = 0L
          while (r < pages.getRowCount) {
            val g = recReader.read()
            val vals = plan.zipWithIndex.map {
              case (_, i) if g.getFieldRepetitionCount(i) == 0 => null
              case (Left(dt), i) => primValue(g, i, dt)
              case (Right(et), i) =>
                val lst = g.getGroup(i, 0)
                val n = lst.getFieldRepetitionCount(0)
                (0 until n).map { j =>
                  val e = lst.getGroup(0, j)
                  if (e.getFieldRepetitionCount(0) == 0) null
                  else primValue(e, 0, et)
                }
            }
            out += new GenericRowWithSchema(vals.toArray, schema)
            r += 1
          }
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    out.result()
  }

  /** [[readModelRows]] with the Spark-read fallback — the ONE model
    * load primitive every frozen-model reader goes through. */
  private[operators] def modelRows(spark: SparkSession,
      dir: String): Seq[org.apache.spark.sql.Row] =
    try readModelRows(spark, dir)
    catch { case scala.util.control.NonFatal(_) =>
      spark.read.parquet(dir).collect().toSeq
    }

  private[operators] def dv(c: Column): Column = transform(c, x => x.cast("double"))

  /** The frozen coarse quantizer, loaded from the model parquet —
    * k x dim doubles of driver-side model state (the same legitimacy as
    * kmeansCentroids' collect). */
  def loadModel(spark: SparkSession, root: String): Seq[(Int, Seq[Double])] =
    cachedModel(spark, modelPath(root)) {
      modelRows(spark, modelPath(root))
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
    }

  private def encode(cents: Seq[(Int, Seq[Double])], e: DataFrame,
      iv: Int, dead: Boolean): DataFrame =
    e.select(
      SketchQueries.nearestCell(cents, col("embedding"))
        .cast("long").as("cell"),
      col("vec_id").as("nid"), col("embedding"),
      lit(iv.toLong).as("iv"), lit(dead).as("dead"))

  /** Build (or REBUILD — the compaction verb: superseded rows and
    * tombstones drop, the quantizer retrains) the index over corpus
    * snapshot `corpusV`: bounded-sample Lloyd + ONE map-only assign
    * scan; the coded rows commit as the index table's v=2 (v=1 is the
    * typed empty manifest) tagged `corpus_v=<corpusV>`. Destructive by
    * contract, like [[GraftTable.create]]. Returns the index table. */
  def build(spark: SparkSession, corpus: GraftTable, corpusV: Int,
      root: String, nParts: Int = 4): GraftTable = {
    import spark.implicits._
    val e = corpus.readAsOf(corpusV).select("vec_id", "embedding")
    val cents = SketchQueries.kmeansCentroids(spark, e, K, Iters)
    require(cents.nonEmpty,
      s"cannot build an ANN index over an empty corpus (v=$corpusV)")
    cents.toDF("cid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(modelPath(root))
    // destructive by contract: stale index versions from a prior build
    // would otherwise win the v=2 commit race with different content
    val hconf = spark.sessionState.newHadoopConf()
    Seq(s"$root/idx_data", s"$root/idx_man").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val idx = table(spark, root)
    // persist: the clustered write's range sampler would otherwise run
    // the whole encode scan (K cosines per corpus row) a second time
    val coded = encode(cents, e, corpusV, dead = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      idx.createEmpty(Some(coded.schema))
      idx.commitAppend(coded, 1, nParts, tag = Some(s"corpus_v=$corpusV"))
    } finally { coded.unpersist(blocking = false); () }
    idx
  }

  /** The corpus version the index covers — the highest `corpus_v=` tag
    * any committed index version carries. */
  def indexedCorpusVersion(idx: GraftTable): Int = {
    val vs = idx.committedTags("corpus_v=")
      .map(_.stripPrefix("corpus_v=").toInt)
    require(vs.nonEmpty,
      s"${idx.man} carries no corpus_v tag — not an AnnIndex table")
    vs.max
  }

  /** The corpus change feed `from -> to` shaped for index maintenance:
    * (op, nid, old/new embedding). */
  private[operators] def churn(corpus: GraftTable, from: SnapshotRef,
      to: SnapshotRef): DataFrame =
    corpus.cdc(from, to).select(col("op"),
      col(corpus.key).as("nid"),
      col("old_embedding"), col("new_embedding"))

  /** Fold corpus changes `indexed .. toV` into the index: ONE O(churn)
    * cdc pass encoded with the FROZEN model — live rows for
    * inserts/updates (new vector), tombstones into the OLD vector's
    * cell for deletes/updates — and one tagged append. The base corpus
    * is never re-read or re-encoded; the quantizer never retrains.
    * No-op when the index already covers `toV`. Returns the number of
    * live vectors encoded (tombstones ride the same commit). */
  def refresh(spark: SparkSession, corpus: GraftTable, toV: Int,
      root: String, nParts: Int = 2): Long = {
    lazy val cents = loadModel(spark, root)
    refreshWith(spark, corpus, toV, table(spark, root), nParts,
      (e, iv, dead) => encode(cents, e, iv, dead))
  }

  /** The maintenance skeleton [[refresh]] and [[AnnIndexPq.refresh]]
    * share — only the per-row encoding differs between the raw-vector
    * and PQ-coded index shapes; the LSM mechanics (cdc churn, live
    * rows, old-cell tombstones, one tagged append, no-op on covered
    * versions) must stay identical or the two indexes would drift. */
  private[operators] def refreshWith(spark: SparkSession,
      corpus: GraftTable, toV: Int, idx: GraftTable, nParts: Int,
      encodeFn: (DataFrame, Int, Boolean) => DataFrame): Long = {
    val from = indexedCorpusVersion(idx)
    if (from >= toV) return 0L
    // the covered version anchors the change feed; once vacuum expires
    // it the feed from there is permanently unreadable and the ONLY
    // recovery is a rebuild — name it instead of surfacing cdc's
    // generic expired-version error
    val covered = try corpus.snapshot(Some(from)).requireTable()
    catch { case e: IllegalArgumentException =>
      throw new IllegalArgumentException(
        s"index ${idx.man} covers corpus v=$from: ${e.getMessage}" +
          " — the change feed from the covered version is no longer " +
          "readable, so incremental refresh is impossible; REBUILD the " +
          "index (build() at the current corpus version) to re-anchor it")
    }
    val delta = churn(corpus, covered, toV)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val live = encodeFn(delta
        .filter(col("op").isin("insert", "update"))
        .select(col("nid").as("vec_id"),
          col("new_embedding").as("embedding")), toV, false)
      val tombs = encodeFn(delta
        .filter(col("op").isin("delete", "update"))
        .select(col("nid").as("vec_id"),
          col("old_embedding").as("embedding")), toV, true)
      // one pipeline, persisted so the count and the staged write don't
      // re-run the cdc join + encode twice
      val coded = live.unionByName(tombs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // distinct VECTORS, not rows — the SRP shape writes one row per
        // hash table per vector and must still report churn vectors
        val nLive = coded.filter(!col("dead"))
          .select("nid").distinct().count()
        idx.commitAppend(coded, idx.snapshot(), nParts,
          tag = Some(s"corpus_v=$toV"))
        nLive
      } finally { coded.unpersist(); () }
    } finally { delta.unpersist(); () }
  }

  /** Index-lag observable — the `graft_files` DV-debt pattern applied
    * to index maintenance: search's fresh segment is CORRECT at any
    * lag, but its cost is O(un-indexed churn x probes), and a user who
    * never refreshes degrades silently toward the brute-force q45
    * shape. One row of manifest-only numbers (no data file is read):
    * the covered corpus version, the latest, the churned (file, dv)
    * entry count between them and the live-row sums on each side —
    * `fresh_rows_est` bounds the fresh segment's brute-force side,
    * `removed_rows_est` the anti-join side. `covered_readable` = false
    * means vacuum expired the covered version: refresh will refuse
    * loudly and only build() recovers (the [[refresh]] contract).
    * Works for all three index shapes (IVF / PQ / SRP share the tag
    * mechanism). */
  def lag(spark: SparkSession, corpus: GraftTable, root: String)
      : DataFrame = lagOf(spark, corpus, table(spark, root))

  private[operators] def lagOf(spark: SparkSession, corpus: GraftTable,
      idx: GraftTable): DataFrame = {
    import spark.implicits._
    val indexed = indexedCorpusVersion(idx)
    val log = corpus.snapshot().requireTable()
    val latest = log.version
    val readable = log.contains(indexed)
    def entryRows(v: Int): Map[String, Long] = {
      val m = log.at(v)
      m.pairs.zip(m.rows).map { case ((f, dv), r) =>
        s"$f|${dv.getOrElse("")}" -> r.getAs[Long]("n_rows") }.toMap
    }
    val (churnEntries, freshRows, removedRows) =
      if (!readable || latest <= indexed) (0L, 0L, 0L)
      else {
        // (file, dv) PAIRS, like cdc's churn set: a DV-only change (a
        // MoR delete) counts as churn even though the file survives
        val a = entryRows(indexed)
        val b = entryRows(latest)
        val fresh = b.view.filterKeys(k => !a.contains(k)).toMap
        val removed = a.view.filterKeys(k => !b.contains(k)).toMap
        ((fresh.size + removed.size).toLong,
          fresh.values.sum, removed.values.sum)
      }
    Seq((indexed.toLong, latest.toLong, (latest - indexed).toLong,
      churnEntries, freshRows, removedRows, readable))
      .toDF("indexed_corpus_v", "corpus_latest_v", "versions_behind",
        "churn_entries", "fresh_rows_est", "removed_rows_est",
        "covered_readable")
  }

  /** Generation-resolving REPACK — OPTIMIZE for the index WITHOUT
    * retraining: fold the LSM debt ([[refresh]]'s superseded
    * generations and tombstones) out of the stored rows while the
    * frozen model stays untouched — the middle ground between
    * `commitCompaction` (packs files, keeps every generation row) and
    * [[build]] (retrains, re-encodes the whole corpus). Per `nid` the
    * highest-generation LIVE rows survive (all of them — the SRP shape
    * stores T rows per vector per generation); every superseded row
    * and every tombstone drops. Search results are IDENTICAL by
    * construction: search already resolves per-(query, nid) to exactly
    * these rows, and a probe that reached only a stale cell finds
    * nothing after the repack just as it found
    * tombstone-dominated rows before. One atomic full swap
    * (REPLACE WHERE true) re-clusters by the index key, so probe
    * file-pruning tightens back to the build-time layout; the commit
    * carries the covered `corpus_v` tag forward, so refresh provenance
    * survives. `minDeadFraction` is the debt threshold (the OPTIMIZE
    * minDvFraction pattern): repack only when dropped/(total) reaches
    * it. Returns rows dropped (0 = no commit burned). */
  def repack(spark: SparkSession, root: String, nParts: Int = 4,
      minDeadFraction: Double = 0.0): Long =
    repackOf(spark, table(spark, root), nParts, minDeadFraction)

  private[operators] def repackOf(spark: SparkSession, idx: GraftTable,
      nParts: Int, minDeadFraction: Double): Long = {
    require(minDeadFraction >= 0.0 && minDeadFraction <= 1.0,
      s"minDeadFraction must be in [0, 1]; got $minDeadFraction")
    val v = idx.snapshot().requireTable()
    val covered = indexedCorpusVersion(idx)
    val df = idx.readAsOf(v)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = df.count()
      if (total == 0) return 0L
      val maxIv = df.groupBy("nid").agg(max("iv").as("__maxiv"))
      // keep = highest generation AND live: an update's old rows and
      // every tombstone are dominated; a deleted nid's max generation
      // IS its tombstone, so nothing of it survives
      val kept = df.join(maxIv, Seq("nid"))
        .filter(col("iv") === col("__maxiv") && !col("dead"))
        .drop("__maxiv")
      val nKept = kept.count()
      val dropped = total - nKept
      if (dropped == 0L ||
          dropped.toDouble / total < minDeadFraction) return 0L
      // one atomic full swap, re-clustered by the index key; the
      // corpus_v tag rides the commit so indexedCorpusVersion still
      // answers after older versions expire. check=false: the
      // predicate is literally `true`, so the staged-validation scan
      // can never reject — skip its footer reads (the r20 verdict's
      // "what's wrong" (b))
      idx.commitReplaceWhere(Seq.empty, lit(true), kept, v, nParts,
        tag = Some(s"corpus_v=$covered"), check = false)
      dropped
    } finally { df.unpersist(); () }
  }

  /** Probe the PERSISTED index: top-`k` exact-cosine neighbors of each
    * probe row, reading ONLY the probed cells' FILES plus the O(churn)
    * un-indexed change feed.
    *
    *  - probe cells come from the frozen model (a per-row sorted score
    *    array over k centroids — tiny, no corpus work);
    *  - the probed cell ids (nQueries x nprobe ints, driver-side
    *    planning state) file-prune through the index manifest's key
    *    boxes ([[GraftTable.prune]] per cell — the probe NEVER plans a
    *    scan of the whole index; AnnIndexSpec counts the files);
    *  - candidates score from the INDEX'S OWN stored vectors (the
    *    rerank never scans the corpus); per (query, nid) the
    *    highest-generation row wins and tombstones drop;
    *  - corpus changes newer than the indexed version join in from the
    *    change feed (fresh inserts/updates brute-force — they are in no
    *    cell yet; fresh deletes/updates anti-join stale candidates
    *    away), so results are correct against the LIVE corpus at any
    *    index lag.
    *
    * Scores are EXACT; the index approximates candidate pruning only —
    * the same contract as q46b. */
  def search(spark: SparkSession, corpus: GraftTable, root: String,
      probes: DataFrame, k: Int = 5,
      nprobe: Int = SketchQueries.DefaultIvfProbes): DataFrame = {
    val idx = table(spark, root)
    val v = idx.snapshot().requireTable()
    val indexed = indexedCorpusVersion(idx)
    val latest = corpus.snapshot().requireTable().version
    val cents = loadModel(spark, root)
    val qonly = probes
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val probed = probes
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        posexplode(slice(
          SketchQueries.cellScores(cents, col("embedding")), 1, nprobe)))
      .select(col("qid"), col("qe"), (col("col.ncid") * -1).cast("long")
        .as("cell"))
    // the probed cell set is nQueries x nprobe ints — driver-side
    // planning state, exactly like the manifest rows it prunes against
    val cells = probed.select("cell").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    // ONE manifest pass plans every probed cell (boxes AND blooms —
    // the shared pruneIn planner); zero probes is a legal empty search
    val files =
      if (cells.isEmpty) Seq.empty[String]
      else idx.pruneIn(v, idx.key, cells)._1
    val emptyCands = qonly.select(col("qid"), col("qe"),
      col("qid").as("nid"), col("qe").as("ne")).limit(0)
    // per-(query, nid) generation resolution: highest iv wins; at equal
    // iv (an update's live row + its same-cell tombstone) live wins
    val genW = Window.partitionBy("qid", "nid")
      .orderBy(col("iv").desc, col("dead").asc)
    val base =
      if (files.isEmpty) emptyCands
      else idx.readAsOf(v, files)
        .join(broadcast(probed), Seq("cell"))
        .filter(col("qid") =!= col("nid"))
        .withColumn("__g", row_number().over(genW))
        .filter(col("__g") === 1 && !col("dead"))
        .select(col("qid"), col("qe"), col("nid"),
          col("embedding").as("ne"))
    val cands =
      if (latest <= indexed) base
      else {
        // the fresh segment: O(churn) cdc rows, always broadcast-small
        // relative to the corpus (that is what refresh bounds)
        val delta = churn(corpus, indexed, latest)
        val dead = delta.filter(col("op").isin("delete", "update"))
          .select("nid")
        val fresh = delta.filter(col("op").isin("insert", "update"))
          .select(col("nid"), col("new_embedding").as("ne"))
          .join(broadcast(qonly), col("qid") =!= col("nid"))
          .select("qid", "qe", "nid", "ne")
        base.join(dead, Seq("nid"), "left_anti").unionByName(fresh)
      }
    val rankW = Window.partitionBy("qid")
      .orderBy(col("sim_raw").desc, col("nid"))
    cands
      .withColumn("sim_raw", cosine_similarity(col("qe"), col("ne")))
      .withColumn("rn", row_number().over(rankW).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"),
        dround(col("sim_raw"), 4).as("sim"))
      .orderBy("qid", "rn")
  }
}

/** PQ-CODED persisted ANN index — [[AnnIndex]]'s billions-of-vectors
  * sibling (SURVEY §2B row 108): the index table stores (cell, nid,
  * code, iv, dead) with M=8 int codes per vector and NO raw embedding
  * column, so the persisted index is a small fraction of the corpus's
  * vector bytes and every probe moves codes, not floats — at 100 TB
  * the difference between an index whose hot cells live in executor
  * memory and one that cannot. Search is the FAISS IVFADC shape, made
  * incremental:
  *
  *  - probe cells come from the FROZEN coarse quantizer and file-prune
  *    through the index manifest's key boxes (identical to
  *    [[AnnIndex.search]]);
  *  - candidates score by ASYMMETRIC distance: each query's M x K
  *    subspace dot table is driver-computed model state broadcast with
  *    the probe row; a candidate's approximate cosine is M codegen'd
  *    HOF lookups over its stored codes (denominator guarded — a
  *    degenerate all-zero codebook must not NaN-poison the ranking);
  *  - generation dedup and tombstone drop happen BEFORE the ADC
  *    ranking, so superseded rows can never crowd the shortlist;
  *  - the ADC top-R shortlist reranks with the EXACT cosine of the
  *    CURRENT corpus vectors. The R x Q shortlisted ids are driver
  *    planning state (bounded, like the probed cells), and the fetch
  *    is planned by [[GraftTable.pruneIn]] — the rerank reads ONLY the
  *    corpus files those ids can live in (key boxes + blooms), never
  *    the corpus;
  *  - corpus changes newer than the indexed version ride the fresh
  *    segment exactly as in [[AnnIndex.search]]: un-indexed
  *    inserts/updates join in with their exact vectors (they skip ADC
  *    — their scores are exact already), un-indexed deletes/updates
  *    anti-join stale candidates away.
  *
  * Maintenance is [[AnnIndex]]'s LSM model verbatim (shared
  * [[AnnIndex.refreshWith]] skeleton): the coarse cells AND the
  * codebooks are frozen at build; refresh encodes only the churn;
  * [[build]] doubles as rebuild/compaction. Reported scores are exact
  * cosines of current vectors; PQ approximates shortlist ordering
  * only. Use a root distinct from any [[AnnIndex]] root — the two
  * layouts share dir names. */
object AnnIndexPq {

  /** Same PQ geometry as q46c so the operating points transfer. */
  val M = 8
  val Kw = 16
  val TrainIters = 3
  /** ADC orders coarsely (8-code sketches); the exact-rerank shortlist
    * width is the recall knob. The PERSISTED index defaults to 12x the
    * final k — the operating point AnnIndexPqSpec validates (recall
    * 1.0 on the clustered fixture; 30 measured 0.88/0.78) and exactly
    * what the spec gates, so default == gated. The rerank fetch is
    * pruneIn-planned either way, so the extra 30 ids per query cost
    * O(ids), not a scan. (q46c's per-query pipeline keeps its own
    * R=30 — SketchQueries.PqRerank — with its own gate.) */
  val Rerank = 60

  private def cbPath(root: String): String = s"$root/codebook"

  /** The PQ index table handle — the [[AnnIndex]] layout with codes in
    * place of vectors; [[AnnIndex.lag]] and [[AnnIndex.repack]] apply
    * to PQ roots verbatim (same cell-keyed handle, payload-agnostic
    * generation rule). */
  def table(spark: SparkSession, root: String): GraftTable =
    AnnIndex.table(spark, root)

  /** The frozen codebooks, loaded from the codebook parquet — M x K x
    * (dim/M) floats of driver-side model state. */
  def loadCodebook(spark: SparkSession, root: String)
      : Array[Array[Array[Float]]] =
    AnnIndex.cachedModel(spark, cbPath(root)) {
      val rows = AnnIndex.modelRows(spark, cbPath(root))
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Float](2).toArray))
        .toMap
      val m = rows.keys.map(_._1).max + 1
      val k = rows.keys.map(_._2).max + 1
      Array.tabulate(m, k)((mi, c) => rows((mi, c)))
    }

  private def encode(cents: Seq[(Int, Seq[Double])],
      cb: Array[Array[Array[Float]]], e: DataFrame, iv: Int,
      dead: Boolean): DataFrame =
    e.select(
      SketchQueries.nearestCell(cents, col("embedding"))
        .cast("long").as("cell"),
      col("vec_id").as("nid"),
      graft.functions.PqExprs.pq_encode(col("embedding"), cb).as("code"),
      lit(iv.toLong).as("iv"), lit(dead).as("dead"))

  /** Build (or REBUILD) the PQ index over corpus snapshot `corpusV`:
    * coarse cells train exactly as [[AnnIndex.build]]; codebooks train
    * on a bounded deterministic sample (first 256 ids — FAISS
    * practice: train on a subset, the corpus-wide pass is encode);
    * both persist and FREEZE. One map-only encode scan codes the
    * corpus. Destructive by contract, like [[GraftTable.create]]. */
  def build(spark: SparkSession, corpus: GraftTable, corpusV: Int,
      root: String, nParts: Int = 4): GraftTable = {
    import spark.implicits._
    val e = corpus.readAsOf(corpusV).select("vec_id", "embedding")
    val cents = SketchQueries.kmeansCentroids(spark, e,
      AnnIndex.K, AnnIndex.Iters)
    require(cents.nonEmpty,
      s"cannot build a PQ ANN index over an empty corpus (v=$corpusV)")
    val sample = e.orderBy("vec_id").limit(256)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val cb = graft.functions.Pq.train(sample, M, Kw, TrainIters)
    cents.toDF("cid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(AnnIndex.modelPath(root))
    cb.zipWithIndex.flatMap { case (cws, mi) =>
      cws.zipWithIndex.map { case (cw, c) => (mi, c, cw.toSeq) }
    }.toSeq.toDF("m", "c", "w").coalesce(1)
      .write.mode("overwrite").parquet(cbPath(root))
    val hconf = spark.sessionState.newHadoopConf()
    Seq(s"$root/idx_data", s"$root/idx_man").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val idx = table(spark, root)
    // persist: see AnnIndex.build — the encode (cells + PQ codes) must
    // not run twice under the range sampler
    val coded = encode(cents, cb, e, corpusV, dead = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      idx.createEmpty(Some(coded.schema))
      idx.commitAppend(coded, 1, nParts, tag = Some(s"corpus_v=$corpusV"))
    } finally { coded.unpersist(blocking = false); () }
    idx
  }

  /** Fold corpus changes into the PQ index — [[AnnIndex.refreshWith]]
    * with the code encoding; O(churn), frozen models, tombstones into
    * the old vector's cell. */
  def refresh(spark: SparkSession, corpus: GraftTable, toV: Int,
      root: String, nParts: Int = 2): Long = {
    lazy val cents = AnnIndex.loadModel(spark, root)
    lazy val cb = loadCodebook(spark, root)
    AnnIndex.refreshWith(spark, corpus, toV, table(spark, root), nParts,
      (e, iv, dead) => encode(cents, cb, e, iv, dead))
  }

  /** Probe the PQ index: exact top-`k` cosine neighbors of each probe
    * row — ADC shortlist from codes, exact rerank of the CURRENT
    * vectors fetched through a [[GraftTable.pruneIn]]-planned read.
    * See the object doc for the full cost contract. */
  def search(spark: SparkSession, corpus: GraftTable, root: String,
      probes: DataFrame, k: Int = 5,
      nprobe: Int = SketchQueries.DefaultIvfProbes,
      rerank: Int = Rerank): DataFrame = {
    val idx = table(spark, root)
    val v = idx.snapshot().requireTable()
    val indexed = AnnIndex.indexedCorpusVersion(idx)
    val latestV = corpus.snapshot().requireTable().version
    val cents = AnnIndex.loadModel(spark, root)
    val cb = loadCodebook(spark, root)
    val qdf = adcQueryRows(spark, probes, cb)
    val probed = qdf.select(col("qid"), col("qtab"), col("qnorm"),
        posexplode(slice(SketchQueries.cellScores(cents,
          col("qe")), 1, nprobe)))
      .select(col("qid"), col("qtab"), col("qnorm"),
        (col("col.ncid") * -1).cast("long").as("cell"))
    val cells = probed.select("cell").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    // ONE manifest pass plans every probed cell (boxes AND blooms —
    // the shared pruneIn planner); zero probes is a legal empty search
    val files =
      if (cells.isEmpty) Seq.empty[String]
      else idx.pruneIn(v, idx.key, cells)._1
    val joined =
      if (files.isEmpty) None
      else Some(idx.readAsOf(v, files).join(broadcast(probed), Seq("cell")))
    searchCodedTail(spark, corpus, qdf, joined, cb, indexed, latestV,
      k, rerank)
  }

  /** Per-query ADC state: (qid, qe, qtab, qnorm) — the M x K dot
    * tables are driver-computed model state riding the broadcast probe
    * rows (q46c's shape); the query vector itself stays exact. Shared
    * by [[search]] and [[AnnIndexSrp]]'s codes-only storage. */
  private[operators] def adcQueryRows(spark: SparkSession,
      probes: DataFrame, cb: Array[Array[Array[Float]]]): DataFrame = {
    import spark.implicits._
    probes.select("vec_id", "embedding").collect().map { r =>
      val q = r.getSeq[Float](1).toArray
      (r.getLong(0), q.toSeq,
        graft.functions.Pq.dotTable(q, cb).map(_.toSeq).toSeq,
        math.sqrt(q.map(x => x.toDouble * x).sum))
    }.toSeq.toDF("qid", "qe", "qtab", "qnorm")
  }

  /** The ADC-shortlist + fresh-segment + exact-rerank tail every
    * codes-only index shares ([[search]]'s IVF cells and
    * [[AnnIndexSrp]]'s LSH buckets differ only in probe geometry):
    * `joined` is the probed index rows joined with their query's ADC
    * state — columns (qid, qtab, qnorm, nid, code, iv, dead) — or None
    * when zero files were probed. Generation dedup runs BEFORE the ADC
    * ranking; the top-`rerank` shortlist is driver planning state
    * whose exact-cosine fetch is [[GraftTable.pruneIn]]-planned. */
  private[operators] def searchCodedTail(spark: SparkSession,
      corpus: GraftTable, qdf: DataFrame, joined: Option[DataFrame],
      cb: Array[Array[Array[Float]]], indexed: Int, latestV: Int,
      k: Int, rerank: Int): DataFrame = {
    import spark.implicits._
    val normTab = graft.functions.Pq.normTable(cb).map(_.toSeq).toSeq
    val genW = Window.partitionBy("qid", "nid")
      .orderBy(col("iv").desc, col("dead").asc)
    val adcW = Window.partitionBy("qid")
      .orderBy(col("adc").desc, col("nid"))
    val short0 = joined match {
      case None => spark.emptyDataFrame
        .withColumn("qid", lit(0L)).withColumn("nid", lit(0L)).limit(0)
      case Some(j) => j
        .filter(col("qid") =!= col("nid"))
        // generation dedup BEFORE the ranking: a superseded row or
        // tombstone must never crowd the shortlist
        .withColumn("__g", row_number().over(genW))
        .filter(col("__g") === 1 && !col("dead"))
        .withColumn("adc", graft.functions.Pq.adcCosine(col("code"),
          col("qtab"), col("qnorm"), normTab))
        .withColumn("arn", row_number().over(adcW))
        .filter(col("arn") <= rerank)
        .select(col("qid"), col("nid"))
    }
    // fresh segment: changes newer than the indexed version
    val (shortDistributed, fresh) =
      if (latestV <= indexed) (short0, None)
      else {
        val delta = AnnIndex.churn(corpus, indexed, latestV)
        val deadN = delta.filter(col("op").isin("delete", "update"))
          .select("nid")
        val f = delta.filter(col("op").isin("insert", "update"))
          .select(col("nid"), col("new_embedding").as("ne"))
          .join(broadcast(qdf.select("qid", "qe")),
            col("qid") =!= col("nid"))
          .select("qid", "qe", "nid", "ne")
        (short0.join(deadN, Seq("nid"), "left_anti"), Some(f))
      }
    // the shortlist IS driver planning state (<= rerank x Q ids): land
    // it once, plan the exact-rerank fetch with pruneIn, and the final
    // plan never re-runs the ADC pipeline
    val slRows = shortDistributed.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nids = slRows.map(_._2).distinct
    val exactBase =
      if (nids.isEmpty)
        qdf.select(col("qid"), col("qe"), col("qid").as("nid"),
          col("qe").as("ne")).limit(0)
      else {
        val (kept, _) = corpus.pruneIn(latestV, corpus.key, nids)
        // every shortlisted id can have left the corpus (deleted at
        // latest) — an empty pruned set is a legal empty fetch, not a
        // zero-entry read error
        if (kept.isEmpty)
          qdf.select(col("qid"), col("qe"), col("qid").as("nid"),
            col("qe").as("ne")).limit(0)
        else {
          val sl = slRows.toDF("qid", "nid")
            .join(broadcast(qdf.select("qid", "qe")), Seq("qid"))
          corpus.readAsOf(latestV, kept)
            .filter(col(corpus.key).isin(nids: _*))
            .select(col(corpus.key).as("nid"), col("embedding").as("ne"))
            .join(broadcast(sl), Seq("nid"))
            .select("qid", "qe", "nid", "ne")
        }
      }
    val cands = fresh.map(exactBase.unionByName(_)).getOrElse(exactBase)
    val rankW = Window.partitionBy("qid")
      .orderBy(col("sim_raw").desc, col("nid"))
    cands
      .withColumn("sim_raw", cosine_similarity(col("qe"), col("ne")))
      .withColumn("rn", row_number().over(rankW).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"),
        dround(col("sim_raw"), 4).as("sim"))
      .orderBy("qid", "rn")
  }
}

/** PERSISTED multi-table multiprobe SRP-LSH index — the third member
  * of the persisted-ANN family (SURVEY §2B row 111), completing the
  * q46 story the way rows 107/108 completed q46b/q46c: the corpus-side
  * `srp_buckets` computation happens ONCE at build instead of on every
  * query call. The index is a graft table keyed by `bkey = table *
  * 2^bits + bucket` (one combined long so the manifest key boxes
  * file-prune any probed bucket), rows (bkey, nid, embedding, iv,
  * dead) — each vector writes one row per hash table (T× rows, the
  * standard LSH storage trade; the data-oblivious family needs no
  * training at all, so build is ONE map-only scan). `build(storage =
  * "pq")` (SURVEY row 113) swaps the vector payload for M int codes
  * and routes search through the shared [[AnnIndexPq.searchCodedTail]]
  * — cancelling the T× multiplier in bytes at row-108's memory
  * shape. The (tables, bits,
  * probes) geometry freezes at build in `root/srp_params` — mixing
  * geometries would make old rows unreachable.
  *
  * Search probes each query's `srp_probe_buckets` (query-side
  * multiprobe — corpus index stays one bucket per table, zero index
  * growth), file-prunes the probed bkeys through ONE
  * [[GraftTable.pruneIn]] pass, resolves per-(query, nid) multiplicity
  * by generation exactly as [[AnnIndex.search]] — and the tombstone
  * placement makes that resolution airtight: an update's tombstones
  * land in the OLD vector's buckets, the very bkeys through which a
  * probe could still reach the stale live row, so any probe that sees
  * stale data sees its higher-generation tombstone too. The fresh
  * segment serves changes newer than the indexed version. Maintenance
  * shares [[AnnIndex.refreshWith]]; refresh reports churn VECTORS
  * (rows / T). Scores are exact cosines of current vectors. */
object AnnIndexSrp {

  private def paramsPath(root: String): String = s"$root/srp_params"
  private def cbPath(root: String): String = s"$root/codebook"

  /** The SRP index table handle — keyed by the combined bucket key (the
    * probe dimension), with `nid` a declared stats column like the
    * sibling indexes. */
  def table(spark: SparkSession, root: String): GraftTable =
    GraftTable(spark, s"$root/idx_data", s"$root/idx_man", "bkey",
      statsCols = Seq("nid"))

  /** The frozen (tables, bits, probes, storage) geometry. */
  def loadParams(spark: SparkSession, root: String)
      : (Int, Int, Int, String) =
    AnnIndex.cachedModel(spark, paramsPath(root)) {
      val r = AnnIndex.modelRows(spark, paramsPath(root)).head
      ((r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
    }

  private def bucketed(tables: Int, bits: Int, e: DataFrame): DataFrame = {
    import graft.functions.TextHashExprs.srp_buckets
    e.select(col("vec_id").as("nid"), col("embedding"),
        posexplode(srp_buckets(col("embedding"), tables, bits))
          .as(Seq("tbl", "bucket")))
      .withColumn("bkey",
        col("tbl").cast("long") * (1L << bits) + col("bucket"))
  }

  /** Row encoding per storage mode: `vector` rows carry the embedding
    * (exact scores straight from the index); `pq` rows carry M int
    * codes (the row-108 memory shape — here it also cancels LSH's
    * T-rows-per-vector storage multiplier). */
  private def encode(tables: Int, bits: Int, storage: String,
      cb: => Array[Array[Array[Float]]], e: DataFrame, iv: Int,
      dead: Boolean): DataFrame = {
    val b = bucketed(tables, bits, e)
    val payload =
      if (storage == "pq")
        graft.functions.PqExprs.pq_encode(col("embedding"), cb).as("code")
      else col("embedding")
    b.select(col("bkey"), col("nid"), payload,
      lit(iv.toLong).as("iv"), lit(dead).as("dead"))
  }

  /** Build (or REBUILD/compact) the SRP index over corpus snapshot
    * `corpusV`: one map-only bucket scan (T rows per vector),
    * bkey-clustered so every probed bucket file-prunes. `storage =
    * "vector"` (default) needs NO training; `storage = "pq"` trains
    * codebooks on a bounded deterministic sample (frozen thereafter)
    * and stores M int codes per row instead of the vector — rows
    * 108+111 composed: LSH probe geometry over codes-only storage,
    * with the exact rerank fetching current vectors through pruneIn.
    * Destructive by contract, like [[GraftTable.create]]. */
  def build(spark: SparkSession, corpus: GraftTable, corpusV: Int,
      root: String, nParts: Int = 4,
      tables: Int = graft.functions.TextHash.SrpTables,
      bits: Int = graft.functions.TextHash.SrpTableBits,
      probes: Int = graft.functions.TextHash.SrpProbes,
      storage: String = "vector"): GraftTable = {
    import spark.implicits._
    require(storage == "vector" || storage == "pq",
      s"storage must be vector or pq; got '$storage'")
    val e = corpus.readAsOf(corpusV).select("vec_id", "embedding")
    val cb: Array[Array[Array[Float]]] =
      if (storage != "pq") null
      else {
        val sample = e.orderBy("vec_id").limit(256)
          .select("embedding").collect().map(_.getSeq[Float](0).toArray)
        // mirror AnnIndexPq.build's contract: a codes-only build over
        // an empty corpus has nothing to train codebooks on
        require(sample.nonEmpty,
          "cannot build a codes-only (storage=pq) SRP ANN index over " +
            s"an empty corpus (v=$corpusV)")
        val trained = graft.functions.Pq.train(sample,
          AnnIndexPq.M, AnnIndexPq.Kw, AnnIndexPq.TrainIters)
        trained.zipWithIndex.flatMap { case (cws, mi) =>
          cws.zipWithIndex.map { case (cw, c) => (mi, c, cw.toSeq) }
        }.toSeq.toDF("m", "c", "w").coalesce(1)
          .write.mode("overwrite").parquet(cbPath(root))
        trained
      }
    // srp_params lands AFTER the codebook: a failed pq train leaves NO
    // partially-initialized root (no srp_params => not an index root),
    // instead of frozen params with no codebook behind them
    Seq((tables, bits, probes, storage))
      .toDF("tables", "bits", "probes", "storage")
      .coalesce(1).write.mode("overwrite").parquet(paramsPath(root))
    val hconf = spark.sessionState.newHadoopConf()
    Seq(s"$root/idx_data", s"$root/idx_man").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val idx = table(spark, root)
    // persist: see AnnIndex.build — the T-per-vector bucket expansion
    // must not run twice under the range sampler
    val coded = encode(tables, bits, storage, cb, e, corpusV,
      dead = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      idx.createEmpty(Some(coded.schema))
      idx.commitAppend(coded, 1, nParts, tag = Some(s"corpus_v=$corpusV"))
    } finally { coded.unpersist(blocking = false); () }
    idx
  }

  /** [[AnnIndex.lag]] for an SRP root — same manifest-only debt
    * numbers; only the index-table handle (bkey key) differs. */
  def lag(spark: SparkSession, corpus: GraftTable, root: String)
      : org.apache.spark.sql.DataFrame =
    AnnIndex.lagOf(spark, corpus, table(spark, root))

  /** [[AnnIndex.repack]] for an SRP root: the generation-resolving
    * rule is payload-agnostic and keeps ALL max-generation live rows
    * per nid — exactly the T bucket rows the SRP shape stores — so the
    * shared [[AnnIndex.repackOf]] applies with this table's bkey-keyed
    * handle (the IVF handle's `cell` key would fail loudly here). */
  def repack(spark: SparkSession, root: String, nParts: Int = 4,
      minDeadFraction: Double = 0.0): Long =
    AnnIndex.repackOf(spark, table(spark, root), nParts, minDeadFraction)

  /** Fold corpus changes into the SRP index — [[AnnIndex.refreshWith]]
    * with the bucket encoding (T rows per churn vector; tombstones
    * into the OLD vector's buckets), codes or vectors per the frozen
    * storage mode. Returns churn VECTORS. */
  def refresh(spark: SparkSession, corpus: GraftTable, toV: Int,
      root: String, nParts: Int = 2): Long = {
    lazy val p = loadParams(spark, root)
    lazy val cb =
      if (p._4 == "pq") AnnIndexPq.loadCodebook(spark, root) else null
    AnnIndex.refreshWith(spark, corpus, toV, table(spark, root), nParts,
      (e, iv, dead) => encode(p._1, p._2, p._4, cb, e, iv, dead))
  }

  /** Probe the persisted SRP index: top-`k` exact-cosine neighbors of
    * each probe row through query-side multiprobe buckets, reading
    * ONLY the probed bkeys' files + the O(churn) un-indexed change
    * feed. See the object doc for the tombstone-placement argument. */
  def search(spark: SparkSession, corpus: GraftTable, root: String,
      probes: DataFrame, k: Int = 5,
      rerank: Int = AnnIndexPq.Rerank): DataFrame = {
    import graft.functions.TextHashExprs.srp_probe_buckets
    val idx = table(spark, root)
    val v = idx.snapshot().requireTable()
    val indexed = AnnIndex.indexedCorpusVersion(idx)
    val latest = corpus.snapshot().requireTable().version
    val (tables, bits, nprobe, storage) = loadParams(spark, root)
    if (storage == "pq") {
      // codes-only rows: LSH probe geometry, then the shared
      // ADC-shortlist + pruneIn exact-rerank tail (rows 108+111)
      val cb = AnnIndexPq.loadCodebook(spark, root)
      val qdf = AnnIndexPq.adcQueryRows(spark, probes, cb)
      val probed = qdf.select(col("qid"), col("qtab"), col("qnorm"),
          posexplode(srp_probe_buckets(
            transform(col("qe"), x => x.cast("float")), tables, bits,
            nprobe)).as(Seq("pidx", "bucket")))
        .select(col("qid"), col("qtab"), col("qnorm"),
          ((col("pidx") / lit(nprobe)).cast("long") * (1L << bits) +
            col("bucket")).as("bkey"))
      val bkeys = probed.select("bkey").distinct().collect()
        .map(_.getLong(0)).sorted.toSeq
      val files =
        if (bkeys.isEmpty) Seq.empty[String]
        else idx.pruneIn(v, idx.key, bkeys)._1
      val joined =
        if (files.isEmpty) None
        else Some(idx.readAsOf(v, files)
          .join(broadcast(probed), Seq("bkey")))
      return AnnIndexPq.searchCodedTail(spark, corpus, qdf, joined, cb,
        indexed, latest, k, rerank)
    }
    val qonly = probes
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val probed = probes
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        posexplode(srp_probe_buckets(col("embedding"), tables, bits,
          nprobe)).as(Seq("pidx", "bucket")))
      .select(col("qid"), col("qe"),
        ((col("pidx") / lit(nprobe)).cast("long") * (1L << bits) +
          col("bucket")).as("bkey"))
    // probed bkeys are nQueries x tables x probes longs — driver
    // planning state; ONE manifest pass prunes them all
    val bkeys = probed.select("bkey").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    // zero probe rows -> zero buckets is a legal empty search, not a
    // pruneIn misuse
    val files =
      if (bkeys.isEmpty) Seq.empty[String]
      else idx.pruneIn(v, idx.key, bkeys)._1
    val emptyCands = qonly.select(col("qid"), col("qe"),
      col("qid").as("nid"), col("qe").as("ne")).limit(0)
    val genW = Window.partitionBy("qid", "nid")
      .orderBy(col("iv").desc, col("dead").asc)
    val base =
      if (files.isEmpty) emptyCands
      else idx.readAsOf(v, files)
        .join(broadcast(probed), Seq("bkey"))
        .filter(col("qid") =!= col("nid"))
        // one row per (query, candidate): multi-table collisions pay
        // the cosine once, and the highest-generation row decides
        // liveness (tombstones ride the old buckets — see object doc)
        .withColumn("__g", row_number().over(genW))
        .filter(col("__g") === 1 && !col("dead"))
        .select(col("qid"), col("qe"), col("nid"),
          col("embedding").as("ne"))
    val cands =
      if (latest <= indexed) base
      else {
        val delta = AnnIndex.churn(corpus, indexed, latest)
        val dead = delta.filter(col("op").isin("delete", "update"))
          .select("nid")
        val fresh = delta.filter(col("op").isin("insert", "update"))
          .select(col("nid"), col("new_embedding").as("ne"))
          .join(broadcast(qonly), col("qid") =!= col("nid"))
          .select("qid", "qe", "nid", "ne")
        base.join(dead, Seq("nid"), "left_anti").unionByName(fresh)
      }
    val rankW = Window.partitionBy("qid")
      .orderBy(col("sim_raw").desc, col("nid"))
    cands
      .withColumn("sim_raw", cosine_similarity(col("qe"), col("ne")))
      .withColumn("rn", row_number().over(rankW).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"),
        dround(col("sim_raw"), 4).as("sim"))
      .orderBy("qid", "rn")
  }
}

/** q46d: the persisted-index lifecycle end to end on the embeddings
  * fixture — create a corpus graft table, build the index, append new
  * vectors, fold them in incrementally (no retrain, no base re-encode),
  * search through the index at the latest corpus. Declared bench-only
  * (the hash/k-means family is not DuckDB-expressible); AnnIndexSpec
  * gates recall, churn-only maintenance, file-pruned probes and the
  * delete/update read paths. */
object AnnIndexQueries {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val q46d_ann_indexed: Q = (s, dir) => {
    val root = RelationalQueries.scratch("q46d_ann", dir)
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val corpus = GraftTable(s, s"$root/corpus_data", s"$root/corpus_man",
      "vec_id")
    // base corpus = all but the last 50 vectors; build the index on it
    corpus.create(e.filter(col("vec_id") < 450), 4)
    AnnIndex.build(s, corpus, 1, root)
    // corpus grows; the index folds in ONLY the churn (frozen model)
    corpus.commitAppend(e.filter(col("vec_id") >= 450), 1, 2)
    AnnIndex.refresh(s, corpus, 2, root)
    AnnIndex.search(s, corpus, root,
      e.filter(col("vec_id") < 10), k = 5)
  }

  /** q46e: the PQ-coded persisted-index lifecycle — same corpus
    * choreography as q46d, with the index storing 8 int codes per
    * vector instead of the vector, ADC shortlisting, and the exact
    * rerank fetching only the shortlist's corpus files via pruneIn.
    * Declared bench-only; AnnIndexPqSpec gates recall, codes-only
    * storage, frozen codebooks, churn-only refresh, pruned rerank and
    * the delete/update read paths. */
  val q46e_ann_pq_indexed: Q = (s, dir) => {
    val root = RelationalQueries.scratch("q46e_ann", dir)
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val corpus = GraftTable(s, s"$root/corpus_data", s"$root/corpus_man",
      "vec_id")
    corpus.create(e.filter(col("vec_id") < 450), 4)
    AnnIndexPq.build(s, corpus, 1, root)
    corpus.commitAppend(e.filter(col("vec_id") >= 450), 1, 2)
    AnnIndexPq.refresh(s, corpus, 2, root)
    AnnIndexPq.search(s, corpus, root,
      e.filter(col("vec_id") < 10), k = 5)
  }

  /** q46f: the persisted SRP-LSH index lifecycle — the q46 family's
    * corpus-side bucket scan moved to build time; same corpus
    * choreography as q46d/q46e. Declared bench-only; AnnIndexSrpSpec
    * is the correctness gate. */
  val q46f_ann_srp_indexed: Q = (s, dir) => {
    val root = RelationalQueries.scratch("q46f_ann", dir)
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val corpus = GraftTable(s, s"$root/corpus_data", s"$root/corpus_man",
      "vec_id")
    corpus.create(e.filter(col("vec_id") < 450), 4)
    AnnIndexSrp.build(s, corpus, 1, root)
    corpus.commitAppend(e.filter(col("vec_id") >= 450), 1, 2)
    AnnIndexSrp.refresh(s, corpus, 2, root)
    AnnIndexSrp.search(s, corpus, root,
      e.filter(col("vec_id") < 10), k = 5)
  }

  val queries: Map[String, Q] = Map(
    "q46d_ann_indexed" -> q46d_ann_indexed,
    "q46e_ann_pq_indexed" -> q46e_ann_pq_indexed,
    "q46f_ann_srp_indexed" -> q46f_ann_srp_indexed)

  // k-means/hash ANN family — not DuckDB-expressible; AnnIndexSpec /
  // AnnIndexPqSpec are the value-level gates (driver records rows>0)
  val oracles: Map[String, String] = Map.empty
}
