#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload fs-zipf --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library (with the
repository's own build, into target/) and the benchmark (into
perfbench/target) from source with sbt, offline; later runs reuse the build
while no source is newer. The JVM writes its full record to
perfbench/work/result-<workload>.json; the last stdout line holds the metrics
BENCHMARK.json lists (end_to_end with --trace 0, per_layer with --trace 1).
Exits non-zero, printing no result, if the build or the run fails. The
modeled remote store's constants come from perfbench/remote_model.json.
report.py, selftest.py and steadiness.py import run_workload from here.
"""
import argparse
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
CLASSPATH = os.path.join(BENCH, "target", "bench-classpath.txt")
WORKLOADS = ("fs-zipf", "sql-hot", "table-lifecycle")
# the JVM's share of the 180 s a run may take once built
RUN_TIMEOUT_S = 175
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build depends on."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    for d in (ROOT, BENCH):
        yield os.path.join(d, "build.sbt")
        yield os.path.join(d, "project", "build.properties")


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the recorded classpath is newer than every source."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            with open(CLASSPATH) as f:
                return f.read().strip()
    log("building (sbt compile)")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    cp = [l for l in p.stdout.splitlines()
          if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        sys.exit(3)
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1].strip()


def contract_line(detail, spec, trace, partial):
    """The result object of a run: the metrics BENCHMARK.json names. A
    partial (reduced-scale) run may lack percentiles it has too few samples
    for; a full run must report every metric."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    pool = {}
    for part in ("e2e", "more", "layer"):
        pool.update(detail.get(part, {}))
    metrics = {}
    for m in wanted:
        if pool.get(m["name"]) is None:
            if partial:
                continue
            raise KeyError(f"run reported no value for {m['name']}")
        metrics[m["name"]] = {"value": pool[m["name"]], "unit": m["unit"]}
    return {"correct": detail["correct"], "attempted": detail["attempted"],
            "failed": detail["failed"], "metrics": metrics}


def run_workload(workload, seed, seconds, trace, scale=1.0, quiet=False):
    """Build if needed, run one workload in a fresh JVM and return its full
    record (the JSON the JVM wrote). The JVM's output goes to stderr, or
    nowhere with `quiet`. Exits non-zero if the build or the run fails, or
    if the JVM runs longer than RUN_TIMEOUT_S."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no library sources under {ROOT}/src/main/scala/graft")
        sys.exit(2)
    cp = build()
    with open(os.path.join(BENCH, "remote_model.json")) as f:
        model = json.load(f)

    run_dir = os.path.join(WORK, f"run-{workload}")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(WORK, f"result-{workload}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--scale", str(scale), "--work", run_dir, "--out", out,
              "--request-ms", str(model["request_ms"]),
              "--mib-per-s", str(model["mib_per_s"])])
    sink = subprocess.DEVNULL if quiet else sys.stderr
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sink, stderr=sink)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(4)
    if code != 0 or not os.path.exists(out):
        log(f"run failed (exit {code})")
        sys.exit(5)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink the op list (determinism self-test); "
                    "metrics short of samples are then left out")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    detail = run_workload(a.workload, a.seed, a.seconds, a.trace, a.scale)
    log("e2e " + json.dumps(detail["e2e"]) + " more " + json.dumps(detail["more"]))
    print(json.dumps(contract_line(detail, spec, a.trace, a.scale != 1.0)))


if __name__ == "__main__":
    main()
