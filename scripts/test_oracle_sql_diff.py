"""Tests for oracle_sql_diff.py: python3 -m unittest discover -s scripts"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

from oracle_sql_diff import diff  # noqa: E402


def make_con():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS id, range % 3 AS g FROM range(12)")
    return con


OLD = {
    "top": """WITH r AS (
                SELECT g, id, row_number() OVER (PARTITION BY g ORDER BY id DESC) AS rk FROM t)
              SELECT g, id FROM r WHERE rk <= 2 ORDER BY g, id""",
    "count": "SELECT g, count(*) AS n FROM t GROUP BY g ORDER BY g",
}


class DiffTest(unittest.TestCase):

    def test_a_rewrite_with_the_same_result_passes(self):
        new = dict(OLD, top="""WITH r AS (SELECT * FROM (
                SELECT g, id, row_number() OVER (PARTITION BY g ORDER BY id DESC) AS rk FROM t)
                WHERE rk <= 2)
              SELECT id, g FROM r ORDER BY g, id""")
        lines, n_fail = diff(OLD, new, make_con)
        self.assertEqual(n_fail, 0)
        self.assertEqual(lines, ["SAME top (6 rows)"])

    def test_unchanged_text_is_not_run(self):
        self.assertEqual(diff(OLD, dict(OLD), make_con), ([], 0))

    def test_a_changed_result_fails(self):
        new = dict(OLD, top=OLD["top"].replace("rk <= 2", "rk <= 1"))
        lines, n_fail = diff(OLD, new, make_con)
        self.assertEqual(n_fail, 1)
        self.assertTrue(lines[0].startswith("FAIL top:"), lines)

    def test_a_changed_value_with_the_same_shape_fails(self):
        new = dict(OLD, count="SELECT g, count(*) + 1 AS n FROM t GROUP BY g ORDER BY g")
        _, n_fail = diff(OLD, new, make_con)
        self.assertEqual(n_fail, 1)

    def test_a_dropped_or_added_entry_fails(self):
        dropped = {"top": OLD["top"]}
        lines, n_fail = diff(OLD, dropped, make_con)
        self.assertEqual((lines, n_fail), (["FAIL count: only in the old file"], 1))
        lines, n_fail = diff(dropped, OLD, make_con)
        self.assertEqual((lines, n_fail), (["FAIL count: only in the new file"], 1))

    def test_sql_that_fails_to_run_fails(self):
        lines, n_fail = diff(OLD, dict(OLD, count="SELECT nope FROM t"), make_con)
        self.assertEqual(n_fail, 1)
        self.assertTrue(lines[0].startswith("FAIL count: "), lines)


if __name__ == "__main__":
    unittest.main()
