#!/usr/bin/env python3
"""Per-suite test counts and seconds from sbt's JUnit XML reports.

Reads every TEST-*.xml in the report directory (default
target/test-reports, which `sbt test` / `sbt "testOnly ..."` writes),
prints one line per suite (slowest first) with its test count and
seconds, then the total, then the SLOWEST slowest tests.

Run: python3 tools/suite_times.py [REPORT_DIR]
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

SLOWEST = 10


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    paths = sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml")))
    if not paths:
        sys.exit(f"no TEST-*.xml under {report_dir}")

    suites, cases = [], []
    for path in paths:
        root = ET.parse(path).getroot()
        name = root.get("name")
        suites.append((name, int(root.get("tests", 0)), float(root.get("time", 0))))
        for case in root.iter("testcase"):
            cases.append((float(case.get("time", 0)), name, case.get("name")))

    width = max(len(s[0]) for s in suites)
    print(f"{'suite':<{width}}  {'tests':>5}  {'seconds':>8}")
    for name, tests, secs in sorted(suites, key=lambda s: -s[2]):
        print(f"{name:<{width}}  {tests:>5}  {secs:>8.1f}")
    print(f"{'total':<{width}}  {sum(s[1] for s in suites):>5}  "
          f"{sum(s[2] for s in suites):>8.1f}")

    print(f"\n{SLOWEST} slowest tests")
    for secs, suite, test in sorted(cases, key=lambda c: -c[0])[:SLOWEST]:
        print(f"{secs:>8.1f}  {suite} :: {test}")


if __name__ == "__main__":
    main()
