#!/usr/bin/env python3
"""Markdown table of per-call-site remote request counts, parent vs change.

    python3 plans/pr8/callsites_table.py plans/pr8/callsites_table-lifecycle_{parent,change}.json
"""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return d, {(s["kind"], s["site"]): s["count"] for s in d["sites"]}


def main():
    (pd, p), (cd, c) = load(sys.argv[1]), load(sys.argv[2])
    print(f"{pd['workload']}, seed {pd['seed']}: remote_requests_per_op "
          f"{pd['remote_requests_per_op']:.4g} -> {cd['remote_requests_per_op']:.4g}\n")
    print("| kind | call site | parent | change |")
    print("|---|---|---|---|")
    for kind in ("list_log", "list_version", "list_dir", "list_file", "head", "put",
                 "rename", "delete", "mkdirs"):
        keys = sorted({k for k in p.keys() | c.keys() if k[0] == kind},
                      key=lambda k: (-p.get(k, 0), -c.get(k, 0), k[1]))
        for k in keys:
            print(f"| {kind} | `{k[1]}` | {p.get(k, 0)} | {c.get(k, 0)} |")
        print(f"| **{kind}** | **total** | **{pd['totals'].get(kind, 0)}** "
              f"| **{cd['totals'].get(kind, 0)}** |")


if __name__ == "__main__":
    main()
