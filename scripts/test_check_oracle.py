"""Tests for check_oracle.py's CTE stager: python3 -m unittest discover -s scripts"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import check_oracle  # noqa: E402
from check_oracle import run_staged, split_ctes, strip_comments  # noqa: E402


class StripCommentsTest(unittest.TestCase):

    def test_nested_block_comment_is_one_comment(self):
        sql = "SELECT 1 /* a /* b ) */ c ' */ AS x"
        self.assertEqual(strip_comments(sql), "SELECT 1   AS x")

    def test_line_comment_keeps_its_newline(self):
        self.assertEqual(strip_comments("SELECT 1 -- (\nFROM t"), "SELECT 1 \nFROM t")

    def test_dashes_inside_a_double_quoted_identifier_stay(self):
        sql = 'SELECT 1 AS "a--b", 2 AS "c""--d" -- gone\n'
        self.assertEqual(strip_comments(sql), 'SELECT 1 AS "a--b", 2 AS "c""--d" \n')

    def test_comment_markers_inside_a_string_stay(self):
        sql = "SELECT 'it''s -- /* not */ a comment' AS s /* x */"
        self.assertEqual(strip_comments(sql),
                         "SELECT 'it''s -- /* not */ a comment' AS s  ")


class SplitCtesTest(unittest.TestCase):

    def test_non_with_sql_gives_none(self):
        self.assertIsNone(split_ctes("SELECT 1 AS x"))
        self.assertIsNone(split_ctes("-- WITH a AS (SELECT 1)\nSELECT 2"))

    def test_quote_escapes_and_parens_inside_strings(self):
        sql = ("WITH a AS (SELECT 'x)''(' AS s), b(n) AS (SELECT length(s) FROM a) "
               "SELECT n FROM b")
        recursive, ctes, final = split_ctes(sql)
        self.assertFalse(recursive)
        self.assertEqual(ctes, [("a", None, "SELECT 'x)''(' AS s"),
                                ("b", "(n)", "SELECT length(s) FROM a")])
        self.assertEqual(final, "SELECT n FROM b")

    def test_a_comment_with_an_unbalanced_paren_does_not_desync(self):
        sql = "WITH a AS (SELECT 1 AS v /* ) */ -- (\n) SELECT v FROM a"
        _, ctes, final = split_ctes(sql)
        self.assertEqual([c[0] for c in ctes], ["a"])
        self.assertEqual(final, "SELECT v FROM a")


class RunStagedTest(unittest.TestCase):

    def test_non_with_sql_gives_none(self):
        self.assertIsNone(run_staged(duckdb.connect, "SELECT 1 AS x"))

    def test_staged_chain_equals_the_monolithic_query(self):
        sql = """WITH base AS (SELECT range AS i FROM range(10)),
          -- a comment with a ( paren
          sq(i, i2) AS (SELECT i, i * i FROM base /* nested /* ) */ */),
          lbl AS (SELECT i, 'it''s ' || i AS s FROM sq WHERE i2 > 4)
          SELECT i, s FROM lbl ORDER BY i"""
        mono = check_oracle.norm(duckdb.connect().execute(sql).df())
        staged = check_oracle.norm(run_staged(duckdb.connect, sql))
        self.assertEqual(len(mono), 7)
        self.assertTrue(staged.equals(mono))

    def test_chain_ending_in_a_recursive_cte(self):
        sql = """WITH RECURSIVE seed AS (SELECT 3 AS n),
          steps AS (SELECT n * 2 AS top FROM seed),
          walk(k) AS (SELECT 1 UNION ALL SELECT k + 1 FROM walk, steps WHERE k < top)
          SELECT k FROM walk ORDER BY k"""
        recursive, ctes, _ = split_ctes(sql)
        self.assertTrue(recursive)
        self.assertEqual([c[0] for c in ctes], ["seed", "steps", "walk"])
        mono = check_oracle.norm(duckdb.connect().execute(sql).df())
        staged = check_oracle.norm(run_staged(duckdb.connect, sql))
        self.assertEqual(mono["k"].tolist(), list(range(1, 7)))
        self.assertTrue(staged.equals(mono))


if __name__ == "__main__":
    unittest.main()
