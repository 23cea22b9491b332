"""Tests of dev/loc.py's line counting, on a hand-written Scala file.

    python3 -m unittest discover -s dev -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import loc as L  # noqa: E402

# 5 code lines: the package, the object, the def, its body, the brace
SOURCE = """package graft

/** A doc comment
  * over two lines.
  */
object Hand {
  // a line comment

  def f(x: Int): Int =
    x * 2 /* trailing comments still count */
     * 3
}
"""


class TestLoc(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.addCleanup(self.dir.cleanup)

    def write(self, rel, text):
        path = os.path.join(self.dir.name, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
        return path

    def test_code_lines(self):
        # the continuation line starting with `*` reads as a comment
        self.assertEqual(L.code_lines(SOURCE), 5)
        self.assertEqual(L.code_lines(""), 0)

    def test_files_and_directories(self):
        a = self.write("a/Hand.scala", SOURCE)
        b = self.write("a/b/Two.scala", "object Two\nval x = 1\n")
        self.write("a/b/notes.txt", "not scala\n")
        files, dirs = L.count([os.path.join(self.dir.name, "a")])
        self.assertEqual(files, {a: 5, b: 2})
        self.assertEqual(dirs, {os.path.join(self.dir.name, "a"): 7,
                                os.path.join(self.dir.name, "a", "b"): 2})

    def test_single_file_path(self):
        a = self.write("Hand.scala", SOURCE)
        files, dirs = L.count([a])
        self.assertEqual(files, {a: 5})
        self.assertEqual(dirs, {self.dir.name: 5})


if __name__ == "__main__":
    unittest.main()
