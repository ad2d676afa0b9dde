#!/usr/bin/env python3
"""Content hash of each query result a graft.Verify run wrote.

Usage: python3 plans/pr4/hash_results.py <verifyOutDir> [q1,q2,...]

Reads <verifyOutDir>/<name>/*.parquet with DuckDB, sorts the rows, and
prints one line per query: name, row count, and the first 16 hex digits
of a SHA-256 over the rows' repr. Two runs whose lines match produced
byte-identical values (doubles compared exactly, not rounded).
"""
import hashlib
import os
import sys

import duckdb


def main(out_dir, only=None):
    con = duckdb.connect()
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        if only and name not in only:
            continue
        rows = con.sql(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchall()
        digest = hashlib.sha256(
            repr(sorted(rows, key=repr)).encode()).hexdigest()[:16]
        print(f"{name} rows={len(rows)} sha256={digest}")


if __name__ == "__main__":
    main(sys.argv[1],
         set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None)
