"""Tests for loc.py: python3 -m unittest discover -s scripts"""
import os
import pathlib
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import loc  # noqa: E402

FIXTURE = '''package p

// a line comment: round 3 added this
/** Scaladoc over two lines,
  * the r20 verdict. */
object Ops {
  val sql = "SELECT 1 // not a comment"  // trailing comment
  /* block comment */
  def f(x: Int): Int = x + 1 /* inline */

  val around = 0  // around 0 is not a round
}
'''


class LocTest(unittest.TestCase):
    def test_code_lines_skip_comments_and_keep_strings(self):
        # package, object, val sql, def f, val around, closing brace
        self.assertEqual(loc.code_lines(FIXTURE), 6)

    def test_round_lines_follow_the_grep(self):
        # "round 3" and "r20"; "around 0" matches too, as it does for grep
        self.assertEqual(loc.round_lines(FIXTURE), 3)
        self.assertEqual(loc.round_lines("val r2 = 1 // r200, Round-1\n"), 1)
        self.assertEqual(loc.round_lines("val r2 = 1 // r200\n"), 0)

    def test_main_prints_each_file_and_the_totals(self):
        with tempfile.TemporaryDirectory() as d:
            main = pathlib.Path(d, "src", "main", "scala", "p")
            main.mkdir(parents=True)
            (main / "A.scala").write_text(FIXTURE)
            (main / "B.scala").write_text("object B\n")
            out = subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__), "loc.py"), d],
                check=True, capture_output=True, text=True).stdout.splitlines()
        self.assertEqual(out, [
            "src/main/scala/p/A.scala code=6 round=3",
            "src/main/scala/p/B.scala code=1 round=0",
            "total code=7 round=3",
        ])


if __name__ == "__main__":
    unittest.main()
