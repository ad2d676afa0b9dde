#!/usr/bin/env python3
"""Attribute a perfbench run's remote requests to their call chains.

    python3 plans/pr8/callsites.py --checkout DIR --scratch DIR \
        --workload table-lifecycle --seed 1 --out plans/pr8/callsites_X.json

Copies the checkout's perfbench/, src/main/, build files and project/ into
--scratch (the checkout, its perfbench/ included, is never written), patches
the copy's modeled store so that every timed-phase request but GET records
its call chain — getFileStatus (HEAD), listStatus (LIST), the upload at a
write stream's close (PUT), rename (RENAME), delete (DELETE) and mkdirs
(MKDIRS) — runs the workload there once with --trace 0, and writes the
counts to --out. Uploads are synchronous unless the write cache's async
close is on (the benchmark leaves it off), so a PUT's chain is its
writer's.

A LIST is "list_file" when the listed path is a file on the store,
"list_log" when it is a table's manifest root (it holds `_table_props`),
"list_version" when it is one version's manifest dir (`v=N`), and
"list_dir" otherwise. A call chain is the first stack frame outside the
JDK, Scala, Hadoop's fs package, graft.fs and the benchmark, followed by
up to 8 graft.* frames above it (graft.fs and the benchmark excluded),
innermost first.
"""
import argparse
import json
import os
import shutil
import subprocess

RECORDER = r'''
package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

object CallSites {
  @volatile var on = false
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val skip = Seq("java.", "jdk.", "sun.", "scala.", "org.apache.hadoop.fs.",
    "graft.fs.", "graft.perfbench.")

  def record(kind: String, p: org.apache.hadoop.fs.Path): Unit = if (on) {
    val k = if (kind != "list") kind else {
      val f = new java.io.File(p.toUri.getPath)
      if (f.isFile) "list_file"
      else if (new java.io.File(f, "_table_props").exists) "list_log"
      else if (f.getName.matches("v=\\d+")) "list_version"
      else "list_dir"
    }
    def name(f: StackTraceElement) = s"${f.getClassName}.${f.getMethodName}"
    val st = new Throwable().getStackTrace.toSeq
      .filterNot(f => skip.exists(f.getClassName.startsWith))
    val site = st.headOption.map(name).getOrElse("?")
    val chain = st.filter(_.getClassName.startsWith("graft.")).map(name)
      .filter(_ != site).take(8)
    val full = (site +: chain).mkString(" <- ")
    counts.computeIfAbsent(s"$k\t$full", _ => new AtomicLong).incrementAndGet()
  }

  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try counts.asScala.toSeq.sortBy(-_._2.get).foreach { case (k, v) =>
      w.println(s"${v.get}\t$k") }
    finally w.close()
  }
}
'''


def patch(path, old, new):
    with open(path) as f:
        s = f.read()
    assert old in s, (path, old)
    with open(path, "w") as f:
        f.write(s.replace(old, new, 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--checkout", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    if os.path.exists(a.scratch):
        shutil.rmtree(a.scratch)
    os.makedirs(a.scratch)
    for name in ("perfbench", "src/main", "project", "build.sbt", "BENCHMARK.json"):
        src, dst = os.path.join(a.checkout, name), os.path.join(a.scratch, name)
        if os.path.isdir(src):
            shutil.copytree(src, dst, ignore=shutil.ignore_patterns("target", "work"))
        else:
            shutil.copy(src, dst)
    pb = os.path.join(a.scratch, "perfbench/src/main/scala/graft/perfbench")
    with open(os.path.join(pb, "CallSites.scala"), "w") as f:
        f.write(RECORDER)
    fs = os.path.join(pb, "ModeledRemoteFs.scala")
    patch(fs, 'RemoteStore.call("head", model)(fs.getFileStatus(f))',
          '{ CallSites.record("head", f); RemoteStore.call("head", model)(fs.getFileStatus(f)) }')
    patch(fs, 'RemoteStore.call("list", model)(fs.listStatus(f))',
          '{ CallSites.record("list", f); RemoteStore.call("list", model)(fs.listStatus(f)) }')
    patch(fs, 'RemoteStore.call("mkdirs", model)(fs.mkdirs(f, permission))',
          '{ CallSites.record("mkdirs", f); '
          'RemoteStore.call("mkdirs", model)(fs.mkdirs(f, permission)) }')
    patch(fs, 'RemoteStore.call("rename", model)(fs.rename(src, dst))',
          '{ CallSites.record("rename", src); RemoteStore.call("rename", model)(fs.rename(src, dst)) }')
    patch(fs, 'RemoteStore.call("delete", model)(fs.delete(f, recursive))',
          '{ CallSites.record("delete", f); '
          'RemoteStore.call("delete", model)(fs.delete(f, recursive)) }')
    patch(fs, '    RemoteStore.call("put", model, bytes) {',
          '    CallSites.record("put", path)\n    RemoteStore.call("put", model, bytes) {')
    main_scala = os.path.join(pb, "Main.scala")
    patch(main_scala, "    val r0 = RemoteStore.snapshot\n",
          "    val r0 = RemoteStore.snapshot\n    CallSites.on = true\n")
    patch(main_scala, "    val rd = RemoteStore.snapshot.map",
          "    CallSites.on = false\n"
          "    CallSites.dump(sys.env(\"PERFBENCH_CALLSITES\"))\n"
          "    val rd = RemoteStore.snapshot.map")
    tsv = os.path.join(a.scratch, "callsites.tsv")
    env = dict(os.environ, PERFBENCH_CALLSITES=tsv)
    out = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", "10", "--trace", "0"],
        cwd=a.scratch, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, check=True, timeout=1200)
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    sites = []
    with open(tsv) as f:
        for line in f:
            n, kind, site = line.rstrip("\n").split("\t")
            sites.append({"kind": kind, "count": int(n), "site": site})
    totals = {}
    for s in sites:
        totals[s["kind"]] = totals.get(s["kind"], 0) + s["count"]
    with open(a.out, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "totals": totals,
                   "remote_requests_per_op": rec["metrics"]["remote_requests_per_op"]["value"],
                   "correct": rec["correct"], "failed": rec["failed"],
                   "sites": sites}, f, indent=1)
        f.write("\n")
    print(json.dumps(totals))


if __name__ == "__main__":
    main()
