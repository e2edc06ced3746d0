#!/usr/bin/env python3
"""Compare two Verify dumps (say, a parent checkout's and a change's).

Checks that oracle_sql.json and expected.json are byte-equal, that
both dumps hold the same query dirs, and that each query's rows are
equal after selfcheck's canonical sort (columns by name, rows by all
columns, exact values, floats included). Prints one DIFF line per
difference, then the totals; exits 1 if anything differs.

Run: python3 tools/compare_dumps.py PARENT_OUT_DIR CHANGE_OUT_DIR
"""
import filecmp
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from selfcheck import canon, eq  # noqa: E402


def query_dirs(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def rows(con, query_dir):
    res = con.execute(
        f"SELECT * FROM '{os.path.join(query_dir, '*.parquet')}'").fetchall()
    return canon(res, [d[0] for d in con.description])


def main():
    a, b = sys.argv[1], sys.argv[2]
    n_same = n_diff = 0
    for f in ("oracle_sql.json", "expected.json"):
        fa, fb = os.path.join(a, f), os.path.join(b, f)
        if (os.path.exists(fa) and os.path.exists(fb)
                and filecmp.cmp(fa, fb, shallow=False)):
            n_same += 1
        else:
            print(f"DIFF {f}")
            n_diff += 1
    da, db = query_dirs(a), query_dirs(b)
    for name in sorted(da ^ db):
        print(f"DIFF {name}: only in {a if name in da else b}")
        n_diff += 1
    con = duckdb.connect()
    for name in sorted(da & db):
        try:
            (ca, ra), (cb, rb) = (rows(con, os.path.join(a, name)),
                                  rows(con, os.path.join(b, name)))
        except Exception as e:
            print(f"DIFF {name}: cannot read: {e}")
            n_diff += 1
            continue
        if (ca == cb and len(ra) == len(rb)
                and all(all(eq(x, y) for x, y in zip(r, s))
                        for r, s in zip(ra, rb))):
            n_same += 1
        else:
            print(f"DIFF {name}: {len(ra)} vs {len(rb)} rows")
            n_diff += 1
    print(f"{n_same} same, {n_diff} differ")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
