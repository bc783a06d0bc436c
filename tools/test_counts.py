#!/usr/bin/env python3
"""Derive the README test/suite count from the ScalaTest JUnit XML in
target/test-reports/ and patch README.md in place — the hand-written
count went stale two rounds running (VERDICT r15 #7).

Only reports whose suite is still defined under src/test/scala count: a
report left by a deleted spec is skipped, and its name printed.

Usage: python3 tools/test_counts.py [--check]
  (default) rewrite the `sbt test` line in README.md with the real count
  --check   exit 1 if README.md disagrees with the XML (no write)
"""
import glob
import os
import re
import sys
import xml.etree.ElementTree as ET

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPORTS = os.path.join(ROOT, "target", "test-reports")
TEST_SRC = os.path.join(ROOT, "src", "test", "scala")
README = os.path.join(ROOT, "README.md")

LINE_RE = re.compile(r"^(sbt test\s+# )\d+ tests / \d+ suites$", re.M)


PACKAGE_RE = re.compile(r"^package\s+([\w.]+)", re.M)
CLASS_RE = re.compile(r"^\s*(?:[a-z]+\s+)*(?:class|object)\s+(\w+)", re.M)


def defined_suites():
    """Fully qualified names of the classes and objects under src/test/scala."""
    names = set()
    for path in glob.glob(os.path.join(TEST_SRC, "**", "*.scala"), recursive=True):
        with open(path) as fh:
            text = fh.read()
        pkg = PACKAGE_RE.search(text)
        prefix = pkg.group(1) + "." if pkg else ""
        names.update(prefix + n for n in CLASS_RE.findall(text))
    return names


def counts():
    reports = sorted(glob.glob(os.path.join(REPORTS, "TEST-*.xml")))
    suites = defined_suites()
    files = []
    for f in reports:
        suite = os.path.basename(f)[len("TEST-"):-len(".xml")]
        if suite in suites:
            files.append(f)
        else:
            print(f"skipped {os.path.basename(f)}: no suite {suite} under "
                  "src/test/scala")
    if not files:
        sys.exit(f"no TEST-*.xml of a current suite under {REPORTS}; "
                 "run `sbt test` first")
    tests = 0
    failures = 0
    for f in files:
        root = ET.parse(f).getroot()
        tests += int(root.attrib["tests"])
        failures += int(root.attrib.get("failures", 0)) + int(
            root.attrib.get("errors", 0))
    return tests, len(files), failures


def main():
    tests, suites, failures = counts()
    if failures:
        sys.exit(f"{failures} failing tests in the reports — fix before "
                 "stamping the README")
    with open(README) as fh:
        text = fh.read()
    want = rf"\g<1>{tests} tests / {suites} suites"
    new, n = LINE_RE.subn(want, text)
    if n != 1:
        sys.exit(f"expected exactly one `sbt test  # N tests / M suites` "
                 f"line in README.md, found {n}")
    if "--check" in sys.argv[1:]:
        if new != text:
            sys.exit(f"README.md test count is stale: XML says {tests} "
                     f"tests / {suites} suites")
        print(f"README.md matches: {tests} tests / {suites} suites")
        return
    with open(README, "w") as fh:
        fh.write(new)
    print(f"README.md stamped: {tests} tests / {suites} suites")


if __name__ == "__main__":
    main()
