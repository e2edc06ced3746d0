#!/usr/bin/env python3
"""Compare two Verify dumps (say, a parent checkout's and a change's).

Checks that oracle_sql.json and expected.json are byte-equal, that
both dumps hold the same query dirs, and that each query's rows are
equal after selfcheck's canonical sort (columns by name, rows by all
columns, exact values, floats included). Prints one DIFF line per
difference, then the totals; exits 1 if anything differs. When
oracle_sql.json differs, one `DIFF oracle_sql.json: <query>` line names
each query whose oracle SQL changed, was added or was removed; a change
is tagged `whitespace-only` when the two texts are equal after
collapsing whitespace runs. The file still counts as one difference,
whitespace-only changes included.

Run: python3 tools/compare_dumps.py PARENT_OUT_DIR CHANGE_OUT_DIR
"""
import filecmp
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from selfcheck import canon, eq  # noqa: E402


def query_dirs(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def oracle_diffs(fa, fb):
    """One line per query whose oracle SQL differs between two files."""
    with open(fa) as f:
        a = json.load(f)
    with open(fb) as f:
        b = json.load(f)
    out = []
    for name in sorted(a.keys() | b.keys()):
        if name not in b:
            out.append(f"{name}: removed")
        elif name not in a:
            out.append(f"{name}: added")
        elif a[name] != b[name]:
            same_ws = a[name].split() == b[name].split()
            out.append(f"{name}: {'whitespace-only' if same_ws else 'changed'}")
    return out


def rows(con, query_dir):
    res = con.execute(
        f"SELECT * FROM '{os.path.join(query_dir, '*.parquet')}'").fetchall()
    return canon(res, [d[0] for d in con.description])


def main():
    a, b = sys.argv[1], sys.argv[2]
    n_same = n_diff = 0
    for f in ("oracle_sql.json", "expected.json"):
        fa, fb = os.path.join(a, f), os.path.join(b, f)
        both = os.path.exists(fa) and os.path.exists(fb)
        if both and filecmp.cmp(fa, fb, shallow=False):
            n_same += 1
            continue
        n_diff += 1
        named = oracle_diffs(fa, fb) if both and f == "oracle_sql.json" else []
        for line in named:
            print(f"DIFF {f}: {line}")
        if not named:
            print(f"DIFF {f}")
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
