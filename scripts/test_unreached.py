"""Tests for unreached.py: python3 -m unittest discover -s scripts"""
import os
import pathlib
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import unreached  # noqa: E402

MAIN = '''package p

/** [[helper]] is named here, in a comment only. */
object Ops {
  private[p] def helper(x: Int): Int = x + 1  // helper again
  def used(x: Int): Int = x * 2
  lazy val sql = "SELECT used(1) /* not a comment */"
  private val col = "c"
  lazy val q = s"SELECT $col FROM t"
  override def toString: String = "O"
  def main(args: Array[String]): Unit = println(used(3) + sql.length + q.length)
  /* block /* nested helper */ still comment */
}
'''

TEST = '''package p
class OpsSpec { val n = Ops.helper(1) + Ops.helper(2) }
'''


class StripCommentsTest(unittest.TestCase):
    def test_comments_go_and_strings_and_lines_stay(self):
        out = unreached.strip_comments(MAIN)
        self.assertNotIn("comment only", out)
        self.assertNotIn("helper again", out)
        self.assertNotIn("nested", out)
        self.assertNotIn("still comment", out)
        self.assertIn('"SELECT used(1) /* not a comment */"', out)
        self.assertEqual(out.count("\n"), MAIN.count("\n"))

    def test_char_literal_quote_does_not_open_a_string(self):
        out = unreached.strip_comments("val q = '\"' // gone\nval r = 1\n")
        self.assertEqual(out, "val q = '\"' \nval r = 1\n")


class UnreachedTest(unittest.TestCase):
    def tree(self, root, files):
        for rel, text in files.items():
            p = pathlib.Path(root, rel)
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_text(text)

    def test_lists_only_defs_no_main_code_names(self):
        with tempfile.TemporaryDirectory() as root:
            self.tree(root, {"src/main/scala/p/Ops.scala": MAIN,
                             "src/test/scala/p/OpsSpec.scala": TEST,
                             "perfbench/src/main/scala/B.scala": "object B { val x = p.Ops.used(1) }\n"})
            rows = unreached.unreached(root)
        names = {r[3]: r for r in rows}
        # `helper` appears in main only in comments and at its definition;
        # `used` and `sql` are called; override and main are skipped
        self.assertEqual(sorted(names), ["Ops", "helper"])
        path, line, kind, _, tests, bench = names["helper"]
        self.assertEqual((path, line, kind), ("src/main/scala/p/Ops.scala", 5, "def"))
        self.assertEqual((tests, bench), (2, 0))
        self.assertEqual(names["Ops"][4:], (2, 1))


if __name__ == "__main__":
    unittest.main()
