#!/usr/bin/env python3
"""Traced-run report: per-layer numbers, self times, histogram, overhead.

    python3 perfbench/report.py [--seed 1] [--out perfbench/REPORT.md]

Run from the repository root. For each workload it runs the benchmark once
untraced and once traced with the same seed, then writes a Markdown report:
the end-to-end metrics of both runs (the difference is the tracing overhead),
every per-layer number of the traced run grouped by layer, the self time of
each layer (span time minus child spans) and, for fs-zipf, the read latency
histogram with the share of reads in each latency mode.
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import ROOT, run_workload  # noqa: E402

LAYERS = [("graft.fs", "fs."), ("modeled remote", "remote."),
          ("graft.table", "table."), ("graft.operators + Spark (SQL)", "sql."),
          ("Spark listener", "spark."), ("self time per op", "self_ms_per_op.")]


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def histogram(lines, d):
    """Read latency histogram and the share of reads in each mode."""
    h = sorted(((int(k[3:]), int(v)) for k, v in d["read_histogram_us"].items()))
    n = sum(c for _, c in h)
    lines += ["", "Read latency histogram (log2 buckets, microseconds):", "",
              "| upper bound (us) | reads | cumulative |", "|---:|---:|---:|"]
    acc = 0
    for ub, c in h:
        acc += c
        lines.append(f"| {ub} | {c} | {acc / n:.2f} |")
    miss = d["more"]["read_miss_frac"]
    lines += ["", f"Reads that needed a remote GET (the miss mode): {miss:.1%}, "
              f"so the miss mode starts near cumulative share {1 - miss:.2f}. "
              f"read_p50_ms = {d['more']['read_p50_ms']:.3f} lies among the "
              f"hits; read_p90_ms = {d['more'].get('read_p90_ms', 0):.2f} lies "
              f"inside the miss mode."]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default="fs-zipf,sql-hot,table-lifecycle")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    lines = ["# Traced-run report", "",
             f"Generated by `python3 perfbench/report.py --seed {a.seed}`: one "
             "untraced and one traced run per workload, same seed, "
             f"--seconds {spec['run_seconds']}. Ratios whose denominator is 0 "
             "read 0; counts are deltas over the timed phase."]
    for w in a.workloads.split(","):
        plain = run_workload(w, a.seed, spec["run_seconds"], 0, quiet=True)
        traced = run_workload(w, a.seed, spec["run_seconds"], 1, quiet=True)
        lines += ["", f"## {w}", "",
                  "End-to-end, untraced versus traced (tracing overhead):", "",
                  "| metric | untraced | traced | overhead |",
                  "|---|---:|---:|---:|"]
        for k in sorted(set(plain["e2e"]) | set(plain["more"])):
            u = plain["e2e"].get(k, plain["more"].get(k))
            t = traced["e2e"].get(k, traced["more"].get(k))
            if u is None or t is None:
                continue
            ovh = f"{(t - u) / u:+.1%}" if u else "-"
            lines.append(f"| {k} | {fmt(u)} | {fmt(t)} | {ovh} |")
        layer = traced["layer"]
        for title, prefix in LAYERS:
            keys = sorted(k for k in layer if k.startswith(prefix))
            if not any(layer[k] for k in keys):
                lines += ["", f"{title}: not exercised by this workload."]
                continue
            lines += ["", f"{title}:", "", "| metric | value |", "|---|---:|"]
            lines += [f"| {k} | {fmt(layer[k])} |" for k in keys if layer[k]]
            zero = [k for k in keys if not layer[k]]
            if zero:
                lines.append("")
                lines.append("Zero in this run: " + ", ".join(f"`{k}`" for k in zero) + ".")
        if w == "fs-zipf":
            histogram(lines, traced)
        print(f"{w}: done", file=sys.stderr, flush=True)
    text = "\n".join(lines) + "\n"
    if a.out:
        with open(os.path.join(ROOT, a.out), "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)


if __name__ == "__main__":
    main()
