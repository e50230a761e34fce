#!/usr/bin/env python3
"""Compare two graft.Verify output directories by content.

Usage: python3 tools/diff_verify.py <dirA> <dirB>

Parquet files are not byte-stable between runs (footers carry writer
metadata), so this reads every query directory through DuckDB and compares
column names, column types and the rows sorted over all columns. It prints
one SAME or DIFF line per query (a query present on one side only is a
DIFF), compares oracle_sql.json when both sides have it, and exits 1 on any
DIFF.
"""
import glob
import json
import os
import sys

import duckdb


def queries(root):
    return {n for n in os.listdir(root) if os.path.isdir(os.path.join(root, n))}


def load(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    rel = con.sql("SELECT * FROM read_parquet([%s])" % ", ".join(f"'{f}'" for f in files))
    return rel.columns, [str(t) for t in rel.types], rel.order("ALL").fetchall()


def compare(con, a, b):
    """None when both outputs match, else the first difference found."""
    got_a, got_b = load(con, a), load(con, b)
    if got_a is None or got_b is None:
        return "no parquet files in " + (a if got_a is None else b)
    (cols_a, types_a, rows_a), (cols_b, types_b, rows_b) = got_a, got_b
    if cols_a != cols_b:
        return f"columns {cols_a} vs {cols_b}"
    if types_a != types_b:
        return f"types {types_a} vs {types_b}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} vs {len(rows_b)} rows"
    for i, (ra, rb) in enumerate(zip(rows_a, rows_b)):
        if ra != rb:
            return f"sorted row {i}: {ra} vs {rb}"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    dir_a, dir_b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    qa, qb = queries(dir_a), queries(dir_b)
    same = diffs = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            reason = "only in " + (dir_a if name in qa else dir_b)
        else:
            reason = compare(con, os.path.join(dir_a, name), os.path.join(dir_b, name))
        if reason is None:
            print(f"SAME {name}")
            same += 1
        else:
            print(f"DIFF {name}: {reason}")
            diffs += 1
    oracle_a = os.path.join(dir_a, "oracle_sql.json")
    oracle_b = os.path.join(dir_b, "oracle_sql.json")
    if os.path.exists(oracle_a) and os.path.exists(oracle_b):
        with open(oracle_a) as fa, open(oracle_b) as fb:
            equal = json.load(fa) == json.load(fb)
        print(("SAME" if equal else "DIFF") + " oracle_sql.json")
        same, diffs = same + equal, diffs + (not equal)
    print(f"{same} same, {diffs} diff")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
