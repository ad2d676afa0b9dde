package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.control.NonFatal

/** Runs one workload and writes every metric it measured as one JSON
  * object to `--out`:
  *
  * {{{
  *   Main --workload fs-zipf --seed 1 --seconds 10 --trace 0
  *        --request-ms 10 --mib-per-s 100 --work <dir> --out <file>
  *        [--scale <x>]
  * }}}
  *
  * The run: make the inputs (no clock), set up [[SetupRuns]] times
  * (timed, median reported), then execute the fixed op list one op at a
  * time and check every output. `--trace 1` additionally records spans
  * and the Spark listener and reports the per-layer numbers. */
object Main {
  val SetupRuns = 3
  private val MiB = Harness.MiB

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toInt,
      a.get("trace").contains("1"), new File(a("work")).getAbsoluteFile,
      RemoteModel(a("request-ms").toDouble, a("mib-per-s").toDouble),
      a.get("scale").map(_.toDouble).getOrElse(1.0))
    val out = new File(a("out"))
    // Spark leaves non-daemon threads behind after stop(): leave through
    // System.exit on every path
    val code = try {
      Files.write(out.toPath, run(ctx).getBytes(UTF_8))
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally Harness.deleteTree(ctx.work)
    System.exit(code)
  }

  def workload(ctx: Ctx): Workload = ctx.workload match {
    case "fs-zipf" => new FsZipf(ctx)
    case "sql-hot" => new SqlHot(ctx)
    case "table-lifecycle" => new TableLifecycle(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def run(ctx: Ctx): String = {
    Harness.deleteTree(ctx.work)
    ctx.work.mkdirs()
    Tracer.enabled = ctx.trace
    val w = workload(ctx)
    val p0 = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9
    val setups = (1 to SetupRuns).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }

    // ---- timed phase ----
    Tracer.reset()
    val fs = w.fs
    val fs0 = fs.stats.snapshot
    val r0 = RemoteStore.snapshot
    var errors = 0
    val t0 = System.nanoTime()
    val recs = w.ops.zipWithIndex.map { case (op, i) =>
      val before = RemoteStore.snapshot
      val s = System.nanoTime()
      val ok = try Tracer.op(op.kind, i + 1)(w.run(op)) catch {
        case NonFatal(e) =>
          errors += 1
          if (errors <= 3) System.err.println(s"[perfbench] op ${i + 1} " +
            s"(${op.kind}) failed: $e")
          false
      }
      val e = System.nanoTime()
      w.afterOp()
      val after = RemoteStore.snapshot
      OpRec(i + 1, op.kind, op.cls, s, e, ok,
        after.map { case (k, v) => k -> (v - before(k)) })
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val fsd = fs.stats.snapshot.map { case (k, v) => k -> (v - fs0(k)) }
    val rd = RemoteStore.snapshot.map { case (k, v) => k -> (v - r0(k)) }
    val cacheBytes = Harness.localCacheBytes(fs)
    val extra = w.extra(recs)
    val user = w.userBytes(recs)
    val jobs = w match {
      case s: SparkWorkload => s.jobs
      case _ => Nil
    }
    val spans = Tracer.all
    w.teardown()

    val n = recs.size
    val reads = recs.filter(_.cls == "read")
    val writes = recs.filter(_.cls == "write")
    val hits = reads.filter(w.hitRead)
    val failed = recs.count(!_.ok)
    val requests = RemoteStore.requests(rd)

    val e2e = Map(
      "setup_s" -> Harness.median(setups),
      "ops_per_s" -> n / wallS,
      // every read's latency as measured, failed ones included (failures
      // show in `correct` and `failed`)
      "read_mean_ms" -> reads.map(_.ms).sum / math.max(1, reads.size),
      // the reads that took the caches' hit path: free of the modeled
      // store's waits, so a slower hit path shows here
      "read_hit_iqm_ms" -> Harness.iqm(hits.map(_.ms)),
      "remote_requests_per_op" -> requests.toDouble / n,
      "local_cache_mib" -> cacheBytes / MiB)

    // user-visible numbers outside the end-to-end list; a pXX is reported
    // only where the run has ten samples beyond it
    val more = Seq(
      Some("read_p50_ms" -> Harness.pct(reads, 0.5)).filter(_ => reads.size >= 20),
      Some("read_p90_ms" -> Harness.pct(reads, 0.9)).filter(_ => reads.size >= 100),
      Some("write_p50_ms" -> Harness.pct(writes, 0.5)).filter(_ => writes.size >= 20),
      Some("write_p90_ms" -> Harness.pct(writes, 0.9)).filter(_ => writes.size >= 100),
      Some("write_amplification" -> rd("write_bytes").toDouble / user).filter(_ => user > 0),
      Some("wall_s" -> wallS),
      Some("prepare_s" -> prepareS),
      Some("reads" -> reads.size.toDouble),
      Some("writes" -> writes.size.toDouble),
      // reads that needed at least one remote GET (the miss mode)
      Some("read_miss_frac" ->
        reads.count(_.remote("get") > 0).toDouble / math.max(1, reads.size))
    ).flatten.toMap

    val layer = Layers(recs, fsd, rd, user, spans, jobs, ctx.trace) ++ extra
    Json.obj(Seq(
      "workload" -> Json.str(ctx.workload),
      "seed" -> ctx.seed.toString,
      "seconds" -> ctx.seconds.toString,
      "trace" -> (if (ctx.trace) "1" else "0"),
      "correct" -> (failed == 0).toString,
      "attempted" -> n.toString,
      // identifies the op list: same seed, same hash
      "ops_hash" -> Json.str(f"${w.ops.mkString("\n").hashCode}%08x"),
      "failed" -> failed.toString,
      "setups_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "e2e" -> Json.nums(e2e),
      "more" -> Json.nums(more),
      "layer" -> Json.nums(layer),
      "op_kinds" -> Json.nums(recs.groupBy(_.kind).map { case (k, v) =>
        k -> v.size.toDouble }),
      "read_histogram_us" -> Json.nums(Layers.histogram(reads)),
      "op_ms" -> recs.map(r => Json.num(r.ms)).mkString("[", ",", "]"),
      "op_kind" -> recs.map(r => Json.str(r.kind)).mkString("[", ",", "]")))
  }
}
