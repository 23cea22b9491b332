#!/usr/bin/env python3
"""One-screen summary of an sbt test run, read from its JUnit XML reports.

    python3 dev/test_summary.py [reports_dir] [spec_dir]

reports_dir defaults to target/test-reports and spec_dir to src/test/scala,
both under the repo root. Only the reports of suites that have a spec file
count: a *Spec.scala file under spec_dir names its suite by its dotted path
(graft/FooSpec.scala is graft.FooSpec). Prints one line per failed or
errored test (`suite › test: first message line`), the reports it ignored
and the suites that did not report, the ten slowest suites, and the totals.
Exits 1 if any counted test failed or errored, or if a suite did not report.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def first_line(text, width=200):
    """First non-blank line, cut to `width` characters (XML attribute
    parsing turns a message's newlines into spaces)."""
    for line in (text or "").splitlines():
        if line.strip():
            line = line.strip()
            return line if len(line) <= width else line[:width - 1] + "…"
    return ""


def parse_report(path):
    """(suite name, suite seconds, test count, [(test, first message line)])
    for one report; the list holds the failed and errored tests."""
    suite = ET.parse(path).getroot()
    bad = []
    cases = suite.findall("testcase")
    for case in cases:
        for kind in ("failure", "error"):
            node = case.find(kind)
            if node is not None:
                msg = first_line(node.get("message")) or first_line(node.text)
                bad.append((case.get("name", "?"), msg or kind))
    return suite.get("name", os.path.basename(path)), \
        float(suite.get("time") or 0), len(cases), bad


def spec_suites(spec_dir):
    """The suite names of the *Spec.scala files under `spec_dir`."""
    paths = glob.glob(os.path.join(spec_dir, "**", "*Spec.scala"),
                      recursive=True)
    return {os.path.relpath(p, spec_dir)[:-len(".scala")]
            .replace(os.sep, ".") for p in paths}


def summarize(reports, specs, slowest=10):
    """Summary lines for the parsed reports of the suites in `specs`, and
    whether the run is green. Reports of other suites are named, not
    counted: a stale report must not stand in for a suite that did not
    run."""
    stale = sorted(r[0] for r in reports if r[0] not in specs)
    reports = [r for r in reports if r[0] in specs]
    missing = sorted(specs - {r[0] for r in reports})
    lines = [f"{s} › {t}: {m}" for s, _, _, bad in reports for t, m in bad]
    n_bad = len(lines)
    if stale:
        lines.append("ignored, no spec file: " + ", ".join(stale))
    if missing:
        lines.append("did not report: " + ", ".join(missing))
    lines.append(f"slowest {min(slowest, len(reports))} suites:")
    for s, secs, _, _ in sorted(reports, key=lambda r: -r[1])[:slowest]:
        lines.append(f"  {secs:9.1f} s  {s}")
    total = sum(r[1] for r in reports)
    tests = sum(r[2] for r in reports)
    lines.append(f"{len(reports)}/{len(specs)} suites reported, {tests} tests, "
                 f"{n_bad} failed or errored, {total:.1f} s in suites")
    return lines, n_bad == 0 and not missing


def main(argv):
    reports_dir = argv[1] if len(argv) > 1 else \
        os.path.join(ROOT, "target", "test-reports")
    spec_dir = argv[2] if len(argv) > 2 else \
        os.path.join(ROOT, "src", "test", "scala")
    reports = [parse_report(p) for p in
               sorted(glob.glob(os.path.join(reports_dir, "*.xml")))]
    lines, green = summarize(reports, spec_suites(spec_dir))
    print("\n".join(lines))
    return 0 if green else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
