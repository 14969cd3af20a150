#!/usr/bin/env python3
"""Rewrite README.md's test count from sbt's JUnit XML reports.

Usage (from the repository root, after a full `sbt test`):

    python3 scripts/readme_test_count.py [reports-dir] [readme]

Sums `tests` over every `TEST-<suite>.xml` in the reports directory
(default target/test-reports; one file per suite) whose suite class is
declared under src/test, and rewrites the line between the
`<!-- TESTS:BEGIN` and `<!-- TESTS:END -->` markers. sbt keeps the
report of a suite until that suite runs again, so run it after the full
suite, not after `testOnly`; a report whose suite no longer exists is
skipped and named on stderr. Refuses to write when a counted report
records a failure or an error: the README figure is the count of a
green suite.
"""
import glob
import os
import re
import sys
import xml.etree.ElementTree as ET


def declared_classes(root):
    """Fully qualified names of the top-level classes and objects in the
    Scala sources under `root`."""
    names = set()
    for path in glob.glob(os.path.join(root, "**", "*.scala"), recursive=True):
        text = open(path, encoding="utf-8").read()
        pkg = ".".join(re.findall(r"^package\s+([\w.]+)", text, flags=re.M))
        for name in re.findall(r"^(?:(?:abstract|final|sealed|case)\s+)*(?:class|object)\s+(\w+)",
                               text, flags=re.M):
            names.add(f"{pkg}.{name}" if pkg else name)
    return names


def main():
    reports = sys.argv[1] if len(sys.argv) > 1 else os.path.join("target", "test-reports")
    readme = sys.argv[2] if len(sys.argv) > 2 else "README.md"
    declared = declared_classes(os.path.join("src", "test"))
    files = []
    for f in sorted(glob.glob(os.path.join(reports, "TEST-*.xml"))):
        if os.path.basename(f)[len("TEST-"):-len(".xml")] in declared:
            files.append(f)
        else:
            print(f"skipped {os.path.basename(f)}: no such suite under src/test", file=sys.stderr)
    if not files:
        sys.exit(f"no TEST-<suite>.xml of a src/test suite under {reports}: run `sbt test` first")
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
