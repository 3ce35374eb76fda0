"""Tests for plans_diff.py: python3 -m unittest discover -s scripts"""
import contextlib
import io
import os
import pathlib
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import plans_diff  # noqa: E402

PLAN = """== Physical Plan ==
* Project (3)
+- * Scan ExistingRDD (1)

(1) Scan ExistingRDD [codegen id : 1]
Output [2]: [t#{e1}, n_t#{e2}L]
Arguments: [t#{e1}, n_t#{e2}L], MapPartitionsRDD[{rdd}] at createDataFrame at {src}.scala:{line}, ExistingRDD, UnknownPartitioning(0)

(2) Scan parquet spark_catalog.default.dd_fp_bucketed
Location: InMemoryFileIndex [file:{cwd}/spark-warehouse/dd_fp_bucketed]

(3) Exchange
Arguments: hashpartitioning(t#{e1}, 4), ENSURE_REQUIREMENTS, [plan_id={plan}]
"""


def dump(root, **fields):
    d = pathlib.Path(root)
    d.mkdir()
    (d / "dd_incremental_bucketed.txt").write_text(PLAN.format(**fields))
    return str(d)


def run(a, b):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = plans_diff.main(["plans_diff.py", a, b])
    return code, out.getvalue()


class PlansDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.base = dict(e1=10, e2=11, rdd=113, src="DedupOps", line=971, cwd="/work/before",
                         plan=45)

    def tearDown(self):
        self.tmp.cleanup()

    def test_dumps_differing_only_in_run_fields_are_equal(self):
        a = dump(os.path.join(self.tmp.name, "a"), **self.base)
        b = dump(os.path.join(self.tmp.name, "b"), e1=57128, e2=57129, rdd=1592, src="DedupOps",
                 line=963, cwd="/home/ci/checkout", plan=7)
        self.assertEqual(run(a, b), (0, "1 plans, 0 differ\n"))

    def test_an_rdd_call_site_in_another_file_is_equal(self):
        a = dump(os.path.join(self.tmp.name, "a"), **self.base)
        b = dump(os.path.join(self.tmp.name, "b"), **dict(self.base, src="Relational", line=558))
        self.assertEqual(run(a, b), (0, "1 plans, 0 differ\n"))

    def test_a_changed_operator_still_differs(self):
        a = dump(os.path.join(self.tmp.name, "a"), **self.base)
        b = dump(os.path.join(self.tmp.name, "b"), **self.base)
        f = pathlib.Path(b, "dd_incremental_bucketed.txt")
        f.write_text(f.read_text().replace("* Project (3)", "* Filter (3)"))
        code, out = run(a, b)
        self.assertEqual(code, 1)
        self.assertIn("1 plans, 1 differ", out)

    def test_a_changed_table_name_still_differs(self):
        a = dump(os.path.join(self.tmp.name, "a"), **self.base)
        b = dump(os.path.join(self.tmp.name, "b"), **self.base)
        f = pathlib.Path(b, "dd_incremental_bucketed.txt")
        f.write_text(f.read_text().replace("spark-warehouse/dd_fp_bucketed", "spark-warehouse/dd_fp2"))
        self.assertEqual(run(a, b)[0], 1)


if __name__ == "__main__":
    unittest.main()
