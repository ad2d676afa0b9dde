#!/usr/bin/env python3
"""Steadiness record: run each workload with several seeds, report spreads.

    python3 perfbench/steadiness.py [--runs 10] [--workloads fs-zipf,...]
                                    [--out perfbench/STEADINESS.json]

Run from the repository root. Each of two sets runs every workload --runs
times, one seed per run (the second set's seeds follow the first's). The runs
are interleaved: round i runs seed i of both sets on every workload before
round i+1 starts, so a change in host load reaches both sets alike. For every
end-to-end metric of BENCHMARK.json and each set it records the values, their
median and quartiles (Python's statistics.quantiles(values, n=4)) and the
interquartile spread as a share of the median, next to the metric's bound and
the reason for that bound. A spread must stay under its bound (setup_s
excepted); the benchmark aims for under a third of it. It also records how
far the second set's median lies from the first's: that distance must stay
within the bound too.
"""
import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import ROOT, contract_line, run_workload  # noqa: E402

SETS = 2

# Why each end-to-end bound is what it is.
REASONS = {
    "setup_s": "largest bound allowed: three Spark or FS set-ups per run, median "
               "taken, but JVM warm-up and host load still move it more than "
               "the timed phase",
    "ops_per_s": "fixed op list whose time is modeled remote waits plus CPU "
                 "work on a shared 4-core host, where CPU-bound work moves "
                 "10-15% between runs; largest bound allowed",
    "read_mean_ms": "mean of 24 to 540 reads per run: Spark queries and "
                    "commits on a shared 4-core host, and on fs-zipf the "
                    "modeled remote waits of the misses; largest bound allowed",
    "read_hit_iqm_ms": "interquartile mean of the reads served without a "
                       "remote GET (about 330 page-cache hits per fs-zipf "
                       "run, every read of the Spark workloads): CPU and "
                       "memory-bound work on a shared host; largest bound "
                       "allowed",
    "remote_requests_per_op": "a count: the same seed repeats it exactly, "
                              "seeds move it by about 5% on fs-zipf (which "
                              "pages miss)",
    "local_cache_mib": "bytes held by the caches at the end: exact for a seed, "
                       "seeds move it only through file sizes",
}


def summary(vals, bound):
    q1, _, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    spread = (q3 - q1) / med if med else float("inf")
    return {"values": vals, "median": med, "q1": q1, "q3": q3,
            "spread": round(spread, 4), "within_bound": spread <= bound,
            "within_third_of_bound": spread < bound / 3}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    rows = {(w, k): [] for w in names for k in range(SETS)}
    walls = {(w, k): [] for w in names for k in range(SETS)}
    for i in range(a.runs):
        for w in names:
            for k in range(SETS):
                seed = a.first_seed + k * a.runs + i
                t0 = time.time()
                detail = run_workload(w, seed, spec["run_seconds"], 0, quiet=True)
                wall = time.time() - t0
                if not detail["correct"]:
                    raise SystemExit(f"{w} seed {seed}: outputs wrong")
                res = contract_line(detail, spec, 0, False)
                rows[(w, k)].append(res["metrics"])
                walls[(w, k)].append(round(wall, 1))
                print(f"{w} set {k + 1} seed {seed}: " + ", ".join(
                    f"{n}={v['value']:.4g}" for n, v in res["metrics"].items())
                    + f" ({wall:.0f} s)", file=sys.stderr, flush=True)
    record = {"runs_per_workload": a.runs, "sets": SETS,
              "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in names:
        sets = []
        for k in range(SETS):
            metrics = {}
            for m in spec["end_to_end"]:
                vals = [r[m["name"]]["value"] for r in rows[(w, k)]]
                metrics[m["name"]] = dict(unit=m["unit"], bound=m["bound"],
                                          **summary(vals, m["bound"]),
                                          reason=REASONS.get(m["name"], ""))
            sets.append({"first_seed": a.first_seed + k * a.runs,
                         "run_wall_s": walls[(w, k)], "metrics": metrics})
        entry = {"sets": sets}
        entry["median_vs_first_set"] = {
            m["name"]: [round(s["metrics"][m["name"]]["median"]
                              / sets[0]["metrics"][m["name"]]["median"] - 1, 4)
                        for s in sets[1:]]
            for m in spec["end_to_end"]}
        entry["sets_agree_within_bound"] = all(
            abs(d) <= m["bound"] for m in spec["end_to_end"]
            for d in entry["median_vs_first_set"][m["name"]])
        record["workloads"][w] = entry
        for m in spec["end_to_end"]:
            print(f"  {w} {m['name']}: " + "; ".join(
                f"median {s['metrics'][m['name']]['median']:.4g} spread "
                f"{s['metrics'][m['name']]['spread']:.3f}" for s in sets)
                + f" (bound {m['bound']})", file=sys.stderr, flush=True)
    text = json.dumps(record, indent=1) + "\n"
    if a.out:
        with open(os.path.join(ROOT, a.out), "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)


if __name__ == "__main__":
    main()
