#!/usr/bin/env python3
"""Where Tier-1's time goes: seconds per ScalaTest suite and the slowest
tests, read from the JUnit XML reports sbt writes.

    python3 dev/testtime.py [reports-dir]

The reports dir defaults to target/test-reports at the repo root. Suites
print slowest first with their test count, failures and share of the
total; then the ten slowest tests.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main(argv):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reports = argv[0] if argv else os.path.join(root, "target", "test-reports")
    files = sorted(glob.glob(os.path.join(reports, "*.xml")))
    if not files:
        sys.exit(f"no *.xml reports under {reports}")
    suites, tests = [], []
    for f in files:
        s = ET.parse(f).getroot()
        name = s.get("name").rsplit(".", 1)[-1]
        failed = int(s.get("failures", 0)) + int(s.get("errors", 0))
        suites.append((float(s.get("time", 0)), name, int(s.get("tests", 0)), failed))
        for c in s.iter("testcase"):
            tests.append((float(c.get("time", 0)), name, c.get("name")))
    total = sum(t for t, *_ in suites)
    print(f"{total:.0f} s over {len(suites)} suites and {len(tests)} tests "
          f"({sum(f for *_, f in suites)} failed)")
    print(f"{'seconds':>9} {'share':>6} {'tests':>5} {'failed':>6}  suite")
    for t, name, n, failed in sorted(suites, reverse=True):
        print(f"{t:9.1f} {100 * t / total:5.1f}% {n:5d} {failed:6d}  {name}")
    print("\n10 slowest tests")
    for t, suite, name in sorted(tests, reverse=True)[:10]:
        print(f"{t:9.1f}  {suite}: {name}")


if __name__ == "__main__":
    main(sys.argv[1:])
