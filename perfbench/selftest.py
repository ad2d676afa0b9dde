#!/usr/bin/env python3
"""Determinism self-test: same seed, same counts; new seed, new op list.

    python3 perfbench/selftest.py [--scale 0.3] [--out perfbench/DETERMINISM.json]

Run from the repository root. Each workload runs twice with the same seed and
once with another, traced, at a reduced op count. Every count metric of the
two same-seed runs must be identical, except the few listed in VARIABLE with
the reason they move; their spread is recorded instead. The other seed must
produce a different op list. Exits 1 on any unexpected difference.
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import ROOT, run_workload  # noqa: E402

# Count metrics compared exactly between two same-seed runs.
EXACT = (
    ["remote_requests_per_op", "remote_mib_per_op", "write_amplification",
     "user_mib", "failed_frac", "read_miss_frac", "table.live_data_files",
     "fs.bytes_read_mib", "fs.page_cache_mib", "fs.prefetch_mib",
     "fs.remote_read_mib", "fs.write_cache_read_mib", "fs.meta_hits",
     "fs.meta_lookups", "fs.pages_evicted_to_disk", "fs.pages_rejected_scan",
     "fs.read_calls", "remote.read_mib", "remote.write_mib",
     "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op"]
    + [f"remote.{k}" for k in
       ("get", "head", "list", "put", "rename", "delete", "mkdirs", "requests")]
    + ["local_cache_mib"])

# Counts that legitimately move between same-seed runs, per workload.
VARIABLE = {
    "table-lifecycle": {
        "local_cache_mib": "the table's files carry values that differ per "
                           "run, such as wall-clock commit times, so their "
                           "sizes move by a few bytes (relative spread "
                           "below 1e-4)",
        "remote.write_mib": "the bytes of those files",
        "write_amplification": "its numerator is remote.write_mib",
        "fs.bytes_read_mib": "reads of those files move with their sizes",
        "fs.page_cache_mib": "same as fs.bytes_read_mib",
        "fs.prefetch_mib": "same as fs.bytes_read_mib",
    },
}


def run(workload, seed, scale):
    d = run_workload(workload, seed, 10, 1, scale, quiet=True)
    if not d["correct"]:
        raise SystemExit(f"{workload} seed {seed}: outputs wrong")
    pool = {}
    for part in ("e2e", "more", "layer"):
        pool.update(d[part])
    return pool, d["ops_hash"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--scale", type=float, default=0.3)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workloads", default="fs-zipf,sql-hot,table-lifecycle")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    record, bad = {"scale": a.scale, "seed": a.seed, "workloads": {}}, []
    for w in a.workloads.split(","):
        (m1, h1), (m2, h2), (_, h3) = (run(w, a.seed, a.scale),
                                       run(w, a.seed, a.scale),
                                       run(w, a.seed + 1, a.scale))
        exact, variable = {}, {}
        for k in EXACT:
            if k in VARIABLE.get(w, {}):
                variable[k] = {"values": [m1[k], m2[k]],
                               "relative_spread": abs(m1[k] - m2[k]) / max(abs(m1[k]), 1e-12),
                               "reason": VARIABLE[w][k]}
            else:
                exact[k] = m1[k]
                if m1[k] != m2[k]:
                    bad.append(f"{w}: {k} {m1[k]} != {m2[k]}")
        if h1 != h2:
            bad.append(f"{w}: the same seed gave two op lists")
        if h1 == h3:
            bad.append(f"{w}: seeds {a.seed} and {a.seed + 1} gave one op list")
        record["workloads"][w] = {
            "identical_counts": exact, "variable_counts": variable,
            "op_list_hashes": {"seed": h1, "seed_again": h2, "other_seed": h3}}
        print(f"{w}: {len(exact)} counts compared, {len(variable)} recorded "
              "as variable", file=sys.stderr, flush=True)
    record["unexpected_differences"] = bad
    text = json.dumps(record, indent=1) + "\n"
    if a.out:
        with open(os.path.join(ROOT, a.out), "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)
    for b in bad:
        print("DIFFERS " + b, file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
