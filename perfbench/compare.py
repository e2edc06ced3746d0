#!/usr/bin/env python3
"""Compare benchmark records of two versions of the program.

    python3 perfbench/compare.py --base .bench_out/a.json ... --new b.json ...

Each file is a run record that perfbench/run.py writes under .bench_out/.
For every metric the medians of the two groups are printed with the change
as a share of the base median; an end-to-end metric that is worse by more
than its bound in BENCHMARK.json is marked WORSE. Records of different
workloads, trace modes or core counts are refused: a figure taken at
another core count is not comparable.
"""

import argparse
import json
import os
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")


def load(path):
    with open(path) as f:
        return json.load(f)


def compare(base, new, spec):
    """Lines of the comparison; raises ValueError on incomparable records."""
    records = base + new
    for key in ("workload", "trace", "cpus"):
        seen = {r[key] for r in records}
        if len(seen) != 1:
            raise ValueError(f"records differ in {key}: {sorted(map(str, seen))}")
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    lines = []
    for name in sorted(records[0]["metrics"]):
        b = statistics.median(r["metrics"][name]["value"] for r in base)
        n = statistics.median(r["metrics"][name]["value"] for r in new)
        change = (n - b) / b if b else 0.0
        verdict = ""
        if name in bounds:
            worse = -change if bounds[name]["better"] == "higher" else change
            verdict = "WORSE" if worse > bounds[name]["bound"] else "ok"
        lines.append(f"{name:32s} {b:12.5g} {n:12.5g} {change:+8.2%} {verdict}")
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    try:
        lines = compare([load(p) for p in args.base],
                        [load(p) for p in args.new], load(BENCHMARK))
    except ValueError as e:
        print(f"compare: refused: {e}", file=sys.stderr)
        return 2
    print(f"{'metric':32s} {'base':>12s} {'new':>12s} {'change':>8s}")
    print("\n".join(lines))
    return 1 if any(line.endswith("WORSE") for line in lines) else 0


if __name__ == "__main__":
    sys.exit(main())
