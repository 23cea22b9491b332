"""Tests of dev/test_summary.py's report parsing, on hand-written reports.

    python3 -m unittest discover -s dev -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import test_summary as T  # noqa: E402

RED = """<?xml version='1.0' encoding='UTF-8'?>
<testsuite name="graft.RedSpec" tests="3" errors="1" failures="1" time="42.5">
  <testcase classname="graft.RedSpec" name="passes" time="1.0"/>
  <testcase classname="graft.RedSpec" name="asserts" time="2.0">
    <failure message="3 did not equal 4&#10;second line" type="TestFailedException">trace</failure>
  </testcase>
  <testcase classname="graft.RedSpec" name="throws" time="0.5">
    <error message="" type="java.lang.IllegalStateException">
java.lang.IllegalStateException: boom
	at graft.Foo.bar(Foo.scala:1)</error>
  </testcase>
  <system-out><![CDATA[]]></system-out>
</testsuite>
"""

GREEN = """<?xml version='1.0' encoding='UTF-8'?>
<testsuite name="graft.GreenSpec" tests="1" errors="0" failures="0" time="7.25">
  <testcase classname="graft.GreenSpec" name="ok" time="7.2"/>
</testsuite>
"""


class TestSummary(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.addCleanup(self.dir.cleanup)

    def write(self, name, text):
        path = os.path.join(self.dir.name, name)
        with open(path, "w") as f:
            f.write(text)
        return path

    def test_parse_failed_and_errored_tests(self):
        suite, secs, tests, bad = T.parse_report(self.write("r.xml", RED))
        self.assertEqual((suite, secs, tests), ("graft.RedSpec", 42.5, 3))
        self.assertEqual(bad, [
            ("asserts", "3 did not equal 4"),
            ("throws", "java.lang.IllegalStateException: boom")])

    def test_long_message_is_cut(self):
        self.assertEqual(T.first_line("\n  " + "x" * 300), "x" * 199 + "…")

    def test_summary_lines_and_slowest_order(self):
        reports = [T.parse_report(self.write("g.xml", GREEN)),
                   T.parse_report(self.write("r.xml", RED))]
        lines, green = T.summarize(reports, {"graft.GreenSpec", "graft.RedSpec"})
        self.assertFalse(green)
        self.assertEqual(lines[0], "graft.RedSpec › asserts: 3 did not equal 4")
        self.assertEqual(lines[2], "slowest 2 suites:")
        self.assertTrue(lines[3].endswith("graft.RedSpec"))
        self.assertTrue(lines[4].endswith("graft.GreenSpec"))
        self.assertEqual(lines[-1], "2/2 suites reported, 4 tests, "
                         "2 failed or errored, 49.8 s in suites")

    def test_exit_code(self):
        reports = self.dir.name + "/reports"
        specs = self.dir.name + "/specs"
        os.makedirs(reports)
        os.makedirs(specs + "/graft")
        for name in ("GreenSpec.scala", "OtherSpec.scala"):
            self.write("specs/graft/" + name, "")
        self.write("reports/TEST-graft.GreenSpec.xml", GREEN)
        self.assertEqual(T.main(["", reports, specs]), 1)   # a suite missing
        os.remove(specs + "/graft/OtherSpec.scala")
        self.assertEqual(T.main(["", reports, specs]), 0)
        self.write("specs/graft/RedSpec.scala", "")
        self.write("reports/TEST-graft.RedSpec.xml", RED)
        self.assertEqual(T.main(["", reports, specs]), 1)   # a test failed

    def test_stale_report_counts_for_no_suite(self):
        reports = self.dir.name + "/reports"
        specs = self.dir.name + "/specs"
        os.makedirs(reports)
        os.makedirs(specs + "/graft")
        self.write("specs/graft/OtherSpec.scala", "")
        self.write("reports/TEST-graft.GreenSpec.xml", GREEN)
        # a report with no spec file neither fills the missing suite's
        # place nor turns the run red; both are named
        lines, green = T.summarize(
            [T.parse_report(reports + "/TEST-graft.GreenSpec.xml")],
            T.spec_suites(specs))
        self.assertFalse(green)
        self.assertIn("ignored, no spec file: graft.GreenSpec", lines)
        self.assertIn("did not report: graft.OtherSpec", lines)
        self.assertEqual(lines[-1], "0/1 suites reported, 0 tests, "
                         "0 failed or errored, 0.0 s in suites")
        self.assertEqual(T.main(["", reports, specs]), 1)
        self.write("reports/TEST-graft.OtherSpec.xml",
                   GREEN.replace("GreenSpec", "OtherSpec"))
        self.assertEqual(T.main(["", reports, specs]), 0)

    def test_spec_suites_are_dotted_paths(self):
        os.makedirs(self.dir.name + "/specs/graft/sub")
        for name in ("graft/ASpec.scala", "graft/sub/BSpec.scala",
                     "graft/Helper.scala"):
            self.write("specs/" + name, "")
        self.assertEqual(T.spec_suites(self.dir.name + "/specs"),
                         {"graft.ASpec", "graft.sub.BSpec"})


if __name__ == "__main__":
    unittest.main()
