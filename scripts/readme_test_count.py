#!/usr/bin/env python3
"""Rewrite README.md's test count from sbt's JUnit XML reports.

Usage (from the repository root, after a full `sbt test`):

    python3 scripts/readme_test_count.py [reports-dir] [readme]

Sums `tests` over every `TEST-*.xml` in the reports directory (default
target/test-reports; one file per suite) and rewrites the line between
the `<!-- TESTS:BEGIN` and `<!-- TESTS:END -->` markers. sbt keeps the
report of a suite until that suite runs again, so run it after the full
suite, not after `testOnly`. Refuses to write when a report records a
failure or an error: the README figure is the count of a green suite.
"""
import glob
import os
import re
import sys
import xml.etree.ElementTree as ET


def main():
    reports = sys.argv[1] if len(sys.argv) > 1 else os.path.join("target", "test-reports")
    readme = sys.argv[2] if len(sys.argv) > 2 else "README.md"
    files = sorted(glob.glob(os.path.join(reports, "TEST-*.xml")))
    if not files:
        sys.exit(f"no TEST-*.xml under {reports}: run `sbt test` first")
    tests = failed = 0
    for f in files:
        suite = ET.parse(f).getroot()
        tests += int(suite.get("tests", 0))
        failed += int(suite.get("failures", 0)) + int(suite.get("errors", 0))
    if failed:
        sys.exit(f"{failed} failed or errored tests in {reports}; README left as it is")
    line = f"`sbt test` runs {tests} ScalaTest tests across {len(files)} suites."
    text = open(readme, encoding="utf-8").read()
    new, n = re.subn(r"(<!-- TESTS:BEGIN[^\n]*\n).*?\n(<!-- TESTS:END -->)",
                     lambda m: m.group(1) + line + "\n" + m.group(2), text, flags=re.S)
    if n != 1:
        sys.exit(f"expected one TESTS:BEGIN/END block in {readme}, found {n}")
    if new != text:
        with open(readme, "w", encoding="utf-8") as fh:
            fh.write(new)
    print(line)


if __name__ == "__main__":
    main()
