#!/usr/bin/env python3
"""Diff the query results of two `graft.Verify` dumps, entry by entry.

Usage:
    python3 tools/rowsdiff.py OUT_A OUT_B [--queries q1,q2,...]

A dump is the output directory of `sbt "runMain graft.Verify SF OUT"`: one
parquet directory per query entry (plus `oracle_sql.json`, ignored here).
Two entries are identical when they have the same column names, the same
row count and the same `tools/check.py` table hash: rows and columns are
compared as sets of values, so row order and column order do not matter,
and floats are compared after check.py's rounding.

It prints one status line per entry (and the first differing row of an
entry that differs), and exits 0 only if every compared entry is identical
(an entry present in one dump only counts as a difference). This is how a
refactor shows that the rows-only entries, which have no oracle, held.
"""
import argparse
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon, table_hash  # noqa: E402


def entries(out_dir):
    """The query entries of a dump: its parquet subdirectories."""
    return sorted(d for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d)))


def read(con, out_dir, name):
    cur = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
    return cur.fetchall(), [d[0] for d in cur.description]


def lines(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def compare(con, a_dir, b_dir, name):
    """(None, row count) when identical, else a reason and a detail block."""
    rows_a, cols_a = read(con, a_dir, name)
    rows_b, cols_b = read(con, b_dir, name)
    if sorted(cols_a) != sorted(cols_b):
        return "columns", f"  A: {sorted(cols_a)}\n  B: {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return "rows", f"  A: {len(rows_a)} rows\n  B: {len(rows_b)} rows"
    if table_hash(rows_a, cols_a) == table_hash(rows_b, cols_b):
        return None, f"{len(rows_a)} rows"
    first = next((f"  A: {x}\n  B: {y}" for x, y in
                  zip(lines(rows_a, cols_a), lines(rows_b, cols_b)) if x != y), "")
    return "values", first


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--queries", help="comma-separated entry names to compare "
                    "(default: every entry in either dump)")
    args = ap.parse_args()

    in_a, in_b = set(entries(args.a)), set(entries(args.b))
    if args.queries:
        names = [q for q in args.queries.split(",") if q]
    else:
        names = sorted(in_a | in_b)
    if not names:
        print("no query entries found", file=sys.stderr)
        return 2

    con = duckdb.connect()
    differing = 0
    for name in names:
        if name not in in_a or name not in in_b:
            differing += 1
            print("MISSING   %s (absent from %s)" % (
                name, args.a if name not in in_a else args.b))
            continue
        reason, detail = compare(con, args.a, args.b, name)
        if reason is None:
            print("IDENTICAL %s (%s)" % (name, detail))
            continue
        differing += 1
        print("DIFFERENT %s (%s)" % (name, reason))
        if detail:
            print(detail)
    print("%d of %d entries identical" % (len(names) - differing, len(names)))
    return 0 if differing == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
