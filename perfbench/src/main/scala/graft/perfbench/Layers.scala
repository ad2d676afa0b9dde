package graft.perfbench

/** Per-layer numbers of one run: graft.fs counters (deltas of the FS
  * instance's `stats.snapshot` over the timed phase), the modeled
  * remote's counters, and, from the traced run, span and Spark-job
  * figures. Every ratio is reported next to its numerator and
  * denominator; a ratio whose denominator is 0 reads 0. */
object Layers {
  private val MiB = Harness.MiB
  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  val TableKinds: Seq[String] =
    Seq("insert", "merge", "update", "delete", "optimize", "vacuum")
  val FsCalls: Seq[String] =
    Seq("open", "pread", "create", "close", "get_file_status")

  def apply(recs: Seq[OpRec], fs: Map[String, Long], remote: Map[String, Long],
      userBytes: Long, spans: Seq[Span], jobs: Seq[JobRec],
      traced: Boolean): Map[String, Double] = {
    val n = math.max(1, recs.size).toDouble
    val read = fs("bytesRead").toDouble
    val lookups = (fs("metaHits") + fs("metaMisses")).toDouble
    val fsPart = Map(
      "fs.bytes_read_mib" -> read / MiB,
      "fs.page_cache_mib" -> fs("bytesFromPageCache") / MiB,
      "fs.prefetch_mib" -> fs("bytesFromPrefetch") / MiB,
      "fs.remote_read_mib" -> fs("bytesFromRemote") / MiB,
      "fs.write_cache_read_mib" -> fs("bytesFromWriteCache") / MiB,
      "fs.page_hit_ratio" -> ratio(fs("bytesFromPageCache"), read),
      "fs.prefetch_hit_ratio" -> ratio(fs("bytesFromPrefetch"), read),
      "fs.remote_byte_ratio" -> ratio(fs("bytesFromRemote"), read),
      "fs.write_cache_hit_ratio" -> ratio(fs("bytesFromWriteCache"), read),
      "fs.meta_hits" -> fs("metaHits").toDouble,
      "fs.meta_lookups" -> lookups,
      "fs.meta_hit_ratio" -> ratio(fs("metaHits"), lookups),
      "fs.pages_evicted_to_disk" -> fs("pagesEvictedToDisk").toDouble,
      "fs.pages_rejected_scan" -> fs("pagesRejectedScan").toDouble,
      "fs.read_calls" -> fs("readRequests").toDouble,
      "fs.remote_read_ms" -> fs("remoteReadNanos") / 1e6)
    val remotePart = RemoteStore.Kinds.map(k => s"remote.$k" -> remote(k).toDouble)
      .toMap ++ Map(
      "remote.requests" -> RemoteStore.requests(remote).toDouble,
      "remote.read_mib" -> remote("read_bytes") / MiB,
      "remote.write_mib" -> remote("write_bytes") / MiB,
      "remote.busy_ms" -> remote("busy_ns") / 1e6,
      "remote_mib_per_op" -> remote("read_bytes") / MiB / n,
      "user_mib" -> userBytes / MiB,
      "write_amplification" -> ratio(remote("write_bytes"), userBytes),
      "failed_frac" -> recs.count(!_.ok) / n,
      "table.live_data_files" -> 0.0)
    if (!traced) fsPart ++ remotePart
    else fsPart ++ remotePart ++ traceLayers(recs, spans, jobs, n)
  }

  private def traceLayers(recs: Seq[OpRec], spans: Seq[Span],
      jobs: Seq[JobRec], n: Double): Map[String, Double] = {
    // each job belongs to the op whose interval holds its start (listener
    // times have millisecond resolution, hence the slack)
    val slack = 2000000L
    val opSpan = spans.filter(_.parent == 0).map(s => s.op -> s).toMap
    val jobOp: Map[Int, Seq[JobRec]] = jobs.filter(_.endNs > 0).flatMap { j =>
      recs.find(r => j.startNs >= r.startNs - slack && j.startNs <= r.endNs + slack)
        .map(_.n -> j)
    }.groupMap(_._1)(_._2)
    val jobSpans = jobOp.toSeq.flatMap { case (op, js) =>
      js.map(j => Span(-j.id - 1, opSpan.get(op).map(_.id).getOrElse(0), op,
        "spark.job", j.startNs, j.endNs))
    }
    val all = spans ++ jobSpans
    val self = Tracer.selfNanos(all)
    def jobsOf(r: OpRec) = jobOp.getOrElse(r.n, Nil)
    def jobUnion(r: OpRec) = Tracer.union(jobsOf(r).map(j => (j.startNs, j.endNs)))
    def p50(name: String) = Harness.median(spans.filter(_.name == name).map(_.ns / 1e6))

    val selfPart = Seq("op", "fs", "remote", "sql", "table", "spark").map { l =>
      s"self_ms_per_op.$l" -> all.filter(_.layer == l).map(s => self(s.id)).sum / 1e6 / n
    }.toMap
    val callPart = FsCalls.map(c => s"fs.call_ms.$c" -> p50(s"fs.$c")).toMap
    val allJobs = recs.flatMap(jobsOf)
    val sparkPart = Map(
      "spark.jobs" -> allJobs.size.toDouble,
      "spark.jobs_per_op" -> allJobs.size / n,
      "spark.stages_per_op" -> allJobs.map(_.stages).sum / n,
      "spark.tasks_per_op" -> allJobs.map(_.tasks).sum / n,
      "spark.job_ms_per_op" -> recs.map(jobUnion).sum / 1e6 / n,
      "spark.gap_ms_per_op" -> (if (allJobs.isEmpty) 0.0
        else recs.map(r => (r.endNs - r.startNs) - jobUnion(r)).sum / 1e6 / n),
      "spark.executor_cpu_ms_per_op" -> allJobs.map(_.cpuNs).sum / 1e6 / n,
      "spark.gc_ms_per_op" -> allJobs.map(_.gcMs).sum.toDouble / n,
      "spark.shuffle_write_mib_per_op" -> allJobs.map(_.shuffleWriteBytes).sum / MiB / n,
      "spark.input_mib_per_op" -> allJobs.map(_.inputBytes).sum / MiB / n)
    val sqlPart = Map(
      "sql.plan_ms" -> p50("sql.plan"),
      "sql.exec_ms" -> p50("sql.exec")) ++
      recs.filter(_.kind.startsWith("q")).groupBy(_.kind).map { case (q, rs) =>
        s"sql.query_ms.$q" -> Harness.median(rs.map(_.ms))
      }
    val commits = recs.filter(r => TableKinds.contains(r.kind))
    val tablePart = TableKinds.flatMap { k =>
      val rs = recs.filter(_.kind == k)
      val c = math.max(1, rs.size).toDouble
      Seq(
        s"table.commits.$k" -> rs.size.toDouble,
        s"table.commit_ms.$k" -> Harness.median(rs.map(_.ms)),
        s"table.jobs_per_commit.$k" -> rs.map(jobsOf(_).size).sum / c,
        s"table.driver_gap_ms.$k" -> Harness.median(rs.map(r =>
          ((r.endNs - r.startNs) - jobUnion(r)) / 1e6)),
        s"table.remote_requests_per_commit.$k" ->
          rs.map(r => RemoteStore.requests(r.remote)).sum / c,
        s"table.remote_write_mib_per_commit.$k" ->
          rs.map(_.remote("write_bytes")).sum / MiB / c)
    }.toMap ++ Map(
      "table.commits" -> commits.size.toDouble,
      "table.jobs_per_commit" ->
        ratio(commits.map(jobsOf(_).size).sum, commits.size),
      "table.remote_requests_per_commit" ->
        ratio(commits.map(r => RemoteStore.requests(r.remote)).sum, commits.size),
      "table.snapshot_read_ms" -> Harness.median(recs.filter(r =>
        r.kind == "snapshot" || r.kind == "time_travel").map(_.ms)))
    selfPart ++ callPart ++ sparkPart ++ sqlPart ++ tablePart
  }

  /** Op latency histogram: log2 buckets in microseconds, keyed by the
    * bucket's lower bound ("le_<upper>" names the upper bound). */
  def histogram(recs: Seq[OpRec]): Map[String, Double] =
    recs.filter(_.ok).groupBy { r =>
      val us = math.max(1L, (r.endNs - r.startNs) / 1000)
      s"le_${java.lang.Long.highestOneBit(us) * 2}"
    }.map { case (k, v) => k -> v.size.toDouble }
}

/** Just enough JSON to write flat objects of numbers and strings. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
