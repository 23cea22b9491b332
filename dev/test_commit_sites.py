"""Tests of dev/commit_sites.py, on a hand-written Scala file.

    python3 -m unittest discover -s dev -p 'test_*.py'
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import commit_sites as C  # noqa: E402

SOURCE = """object Hand {
  /** Calls commitDelta(fs, ...) in a doc line: not a call. */
  private def commitDelta(fs: FileSystem, version: Long): Boolean =
    casCreate(fs, version)

  private def transact(n: Int)(attempt: Int => Boolean): Long = {
    def once(v: Long): Boolean =
      commitDelta(fs, v)
    // commitFullList(spark) in a line comment: not a call
    if (!commitFullList(spark, fs, 1L, files)) raceLost(1L)
    myCommitDelta(fs) + x.commitDelta(fs)
    0L
  }

  def create(): Long =
    transact(1) { _ => commitManifest(fs, 1L) }
}
casCreate(fs, top)
"""


class TestCommitSites(unittest.TestCase):
    def test_calls_with_their_enclosing_def(self):
        self.assertEqual(C.sites(SOURCE), [
            (4, "casCreate", "commitDelta"),
            (8, "commitDelta", "once"),
            (10, "commitFullList", "transact"),
            (16, "commitManifest", "create"),
            (18, "casCreate", None),
        ])

    def test_other_names(self):
        self.assertEqual(C.sites(SOURCE, ("raceLost",)),
                         [(10, "raceLost", "transact")])
        self.assertEqual(C.sites(""), [])

    def test_method_calls_count_for_given_names(self):
        self.assertEqual(C.sites(SOURCE, ("commitDelta",), methods=True), [
            (8, "commitDelta", "once"),
            (11, "commitDelta", "transact"),
        ])

    def test_main_prints_sites_and_totals(self):
        import io
        import tempfile
        with tempfile.NamedTemporaryFile("w", suffix=".scala",
                                         delete=False) as f:
            f.write(SOURCE)
        self.addCleanup(os.unlink, f.name)
        out = io.StringIO()
        old, sys.stdout = sys.stdout, out
        try:
            self.assertEqual(C.main(["commit_sites.py", f.name]), 0)
        finally:
            sys.stdout = old
        lines = out.getvalue().splitlines()
        self.assertEqual(lines[0].split(), ["4", "casCreate", "in",
                                            "commitDelta"])
        self.assertEqual(lines[4].split(), ["18", "casCreate", "in", "-"])
        self.assertEqual(lines[-1], "total: casCreate 2, commitDelta 1, "
                         "commitFullList 1, commitManifest 1")


if __name__ == "__main__":
    unittest.main()
