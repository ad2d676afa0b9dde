#!/usr/bin/env python3
"""Interleaved A/B runs of one perfbench workload in ONE checkout directory.

    python3 plans/pr11/same_dir_pairs.py --dir DIR --parent-src P/src/main \
        --change-src C/src/main --workload fs-zipf --seeds 11-15 --out OUT.json

fs-zipf's page keys hash each file's path, so the checkout directory moves
shard placement and with it GETs and read latency. Here both sides run in
the same directory: before each run, DIR/src/main is replaced by a copy of
that side's src/main (the benchmark rebuilds it). Pair i runs seed i on
both sides, parent first on even pair indexes and change first on odd
ones, through `run` of plans/pr8/pairs.py. Writes every run and, per
end-to-end metric, the medians, quartiles and the change's wins to --out,
and prints the same markdown tables as pairs.py.
"""
import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "pr8"))
import pairs  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--parent-src", required=True)
    ap.add_argument("--change-src", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 11-15")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        lower_better = {m["name"]: m["better"] == "lower" for m in json.load(f)["end_to_end"]}
    srcs = {"parent": args.parent_src, "change": args.change_src}

    runs = []
    for i, seed in enumerate(pairs.seeds_of(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "order": order}
        for side in order:
            dst = os.path.join(args.dir, "src", "main")
            shutil.rmtree(dst)
            # fresh mtimes: the benchmark rebuilds only when a source is
            # newer than its last build
            shutil.copytree(srcs[side], dst, copy_function=shutil.copy)
            pair[side] = pairs.run(args.dir, args.workload, seed)
            print(f"seed {seed} {side}: {pair[side]}", file=sys.stderr, flush=True)
        runs.append(pair)

    summary = {}
    for name, lower in lower_better.items():
        p = [x["parent"]["metrics"][name] for x in runs]
        c = [x["change"]["metrics"][name] for x in runs]
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        pq, cq = pairs.quartiles(p), pairs.quartiles(c)
        summary[name] = {
            "parent_q1_median_q3": pq, "change_q1_median_q3": cq,
            "change_vs_parent_median": cq[1] / pq[1] - 1 if pq[1] else None,
            "change_wins": wins, "pairs": len(runs)}
    with open(args.out, "w") as f:
        json.dump({"workload": args.workload, "dir": args.dir, "pairs": runs,
                   "summary": summary}, f, indent=1)
        f.write("\n")

    print(f"| {args.workload} metric, one directory | parent q1 / median / q3 "
          "| change q1 / median / q3 | median change | change wins |")
    print("|---|---|---|---|---|")
    for name, s in summary.items():
        fmt = lambda q: " / ".join(f"{v:.4g}" for v in q)
        d = s["change_vs_parent_median"]
        print(f"| {name} | {fmt(s['parent_q1_median_q3'])} | {fmt(s['change_q1_median_q3'])} "
              f"| {'' if d is None else f'{d:+.1%}'} | {s['change_wins']}/{s['pairs']} |")
    print("\n| seed | remote.get parent / change | remote.read_mib parent / change |")
    print("|---|---|---|")
    for x in runs:
        r = lambda side, k: f"{x[side]['remote'].get('remote.' + k, 0):.0f}"
        print(f"| {x['seed']} | {r('parent', 'get')} / {r('change', 'get')} "
              f"| {r('parent', 'read_mib')} / {r('change', 'read_mib')} |")


if __name__ == "__main__":
    main()
