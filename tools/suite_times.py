#!/usr/bin/env python3
"""Per-suite wall time of the last test run, slowest first.

Reads the JUnit XML reports sbt writes (target/test-reports/TEST-*.xml)
and prints one line per suite -- wall seconds, test count, failures and
errors when there are any -- sorted by time, then the total.

    python3 tools/suite_times.py [report_dir]

sbt rewrites only the reports of the suites it ran, so after a partial
`testOnly` the directory mixes runs; the oldest and newest report
timestamps are printed to make that visible.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    """(name, seconds, tests, failures, errors, timestamp) per suite."""
    out = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        nodes = [root] if root.tag == "testsuite" else root.iter("testsuite")
        for s in nodes:
            out.append((s.get("name", os.path.basename(path)),
                        float(s.get("time", 0) or 0),
                        int(s.get("tests", 0) or 0),
                        int(s.get("failures", 0) or 0),
                        int(s.get("errors", 0) or 0),
                        s.get("timestamp", "")))
    return out


def main(argv):
    report_dir = argv[1] if len(argv) > 1 else "target/test-reports"
    rows = suites(report_dir)
    if not rows:
        print(f"no TEST-*.xml reports under {report_dir}", file=sys.stderr)
        return 1
    rows.sort(key=lambda r: -r[1])
    width = max(len(r[0]) for r in rows)
    print(f"{'suite':<{width}}  {'seconds':>8}  {'tests':>5}")
    for name, secs, tests, fails, errs, _ in rows:
        bad = f"  {fails} failed, {errs} errors" if fails or errs else ""
        print(f"{name:<{width}}  {secs:8.1f}  {tests:5d}{bad}")
    total = sum(r[1] for r in rows)
    print(f"{'total':<{width}}  {total:8.1f}  {sum(r[2] for r in rows):5d}"
          f"  ({len(rows)} suites)")
    stamps = sorted(r[5] for r in rows if r[5])
    if stamps:
        print(f"reports from {stamps[0]} to {stamps[-1]}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
