#!/usr/bin/env python3
"""Interleaved A/B runs of one perfbench workload over two checkouts.

    python3 plans/pr3/pairs.py --parent DIR --change DIR --workload fs-zipf \
        --seeds 11-20 --out plans/pr3/fs_zipf_pairs.json

Pair i runs seed i on both checkouts, parent first on even pair indexes
and change first on odd ones, each as `python3 perfbench/run.py --workload
W --seed N --seconds 10 --trace 0` from the checkout's root. Writes every
run's end-to-end metrics, and per metric the medians, quartiles and the
number of pairs the change won, to --out; prints a markdown table.
"""
import argparse
import json
import statistics
import subprocess
import sys


def run(checkout, workload, seed):
    out = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "10", "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        check=True, timeout=900)
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    metrics = {k: v["value"] for k, v in rec["metrics"].items()}
    return {"correct": rec["correct"], "failed": rec["failed"], "metrics": metrics}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[1], q[2]


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 11-20")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        lower_better = {m["name"]: m["better"] == "lower" for m in json.load(f)["end_to_end"]}

    pairs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "order": order}
        for side in order:
            pair[side] = run(getattr(args, side), args.workload, seed)
            print(f"seed {seed} {side}: {pair[side]}", file=sys.stderr, flush=True)
        pairs.append(pair)

    summary = {}
    for name, lower in lower_better.items():
        p = [x["parent"]["metrics"][name] for x in pairs]
        c = [x["change"]["metrics"][name] for x in pairs]
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        summary[name] = {
            "parent_q1_median_q3": pq, "change_q1_median_q3": cq,
            "change_vs_parent_median": cq[1] / pq[1] - 1 if pq[1] else None,
            "change_wins": wins, "pairs": len(pairs)}

    with open(args.out, "w") as f:
        json.dump({"workload": args.workload, "pairs": pairs, "summary": summary}, f, indent=1)
        f.write("\n")

    print(f"| {args.workload} metric | parent q1 / median / q3 | change q1 / median / q3 "
          "| median change | change wins |")
    print("|---|---|---|---|---|")
    for name, s in summary.items():
        fmt = lambda q: " / ".join(f"{v:.4g}" for v in q)
        d = s["change_vs_parent_median"]
        print(f"| {name} | {fmt(s['parent_q1_median_q3'])} | {fmt(s['change_q1_median_q3'])} "
              f"| {'' if d is None else f'{d:+.1%}'} | {s['change_wins']}/{s['pairs']} |")
    failed = sum(x[s]["failed"] for x in pairs for s in ("parent", "change"))
    incorrect = sum(not x[s]["correct"] for x in pairs for s in ("parent", "change"))
    print(f"\nfailed ops over all runs: {failed}; runs with a failed output check: {incorrect}")


if __name__ == "__main__":
    main()
