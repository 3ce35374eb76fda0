import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import diff  # noqa: E402


def runs(values):
    return list(enumerate(values))


BASE = [100.0, 101.0, 99.0, 100.5, 99.5, 100.2, 99.8, 100.1, 99.9, 100.3]


class VerdictTest(unittest.TestCase):
    def test_nine_of_ten_wins_beyond_the_spread_is_an_improvement(self):
        change = [v * 0.9 for v in BASE]
        self.assertEqual(diff.verdict(runs(BASE), runs(change), "lower", 0.1)["verdict"], "improved")

    def test_eight_of_ten_wins_is_not_an_improvement(self):
        change = [v - 0.8 for v in BASE]
        change[0], change[1] = BASE[0] + 0.3, BASE[1] + 0.3
        r = diff.verdict(runs(BASE), runs(change), "lower", 0.1)
        self.assertEqual(r["wins"], 8)
        self.assertEqual(r["verdict"], "unchanged")

    def test_higher_is_better_flips_the_direction(self):
        change = [v * 1.2 for v in BASE]
        self.assertEqual(diff.verdict(runs(BASE), runs(change), "higher", 0.1)["verdict"], "improved")
        self.assertEqual(diff.verdict(runs(change), runs(BASE), "higher", 0.1)["verdict"], "regressed")

    def test_worse_by_more_than_the_bound_is_a_regression(self):
        change = [v * 1.2 for v in BASE]
        self.assertEqual(diff.verdict(runs(BASE), runs(change), "lower", 0.1)["verdict"], "regressed")

    def test_same_runs_are_unchanged(self):
        self.assertEqual(diff.verdict(runs(BASE), runs(list(reversed(BASE))), "lower", 0.1)["verdict"],
                         "unchanged")

    def test_spread_wider_than_the_bound_is_unresolved(self):
        wide = [60.0, 140.0, 80.0, 120.0, 70.0, 130.0, 90.0, 110.0, 100.0, 100.0]
        r = diff.verdict(runs(wide), runs(list(reversed(wide))), "lower", 0.1)
        self.assertGreater(r["spread"], 0.1)
        self.assertEqual(r["verdict"], "unresolved")

    def test_change_beating_every_parent_run_resolves_a_wide_spread(self):
        wide = [60.0, 140.0, 80.0, 120.0, 70.0, 130.0, 90.0, 110.0, 100.0, 100.0]
        change = [v / 3 for v in wide]
        self.assertEqual(diff.verdict(runs(wide), runs(change), "lower", 0.1)["verdict"], "improved")

    def test_counter_moves_are_listed_apart_from_wall_moves(self):
        units = {"rel.exchanges": "count", "rel.noop_s": "s", "rel.scans": "count"}
        m = lambda e, s: {"rel.exchanges": e, "rel.noop_s": s, "rel.scans": 3}
        counters, walls = diff.counter_moves([(1, m(12, 1.0))], [(1, m(10, 0.9))], units)
        self.assertEqual(counters, [("rel.exchanges", 12, 10)])
        self.assertEqual(walls, [("rel.noop_s", 1.0, 0.9)])


    def test_more_failures_on_the_change_withholds_a_gain(self):
        change = [v * 0.5 for v in BASE]
        r = diff.verdict(runs(BASE), runs(change), "lower", 0.1, more_failures=True)
        self.assertEqual(r["verdict"], "failed")

    def test_runs_pair_by_seed_only(self):
        parent = [(2, 1.0), (10, 2.0), (3, 3.0)]
        change = [(10, 2.5), (2, 1.5), (4, 9.0)]
        prs, unpaired = diff.pairs(parent, change)
        self.assertEqual(prs, [(1.0, 1.5), (2.0, 2.5)])
        self.assertEqual(unpaired, [3, 4])


class ReportTest(unittest.TestCase):
    def write(self, folder, seed, value, correct=True, failed=0):
        metrics = {m["name"]: value for m in diff.metrics.spec()["end_to_end"]}
        r = {"workload": "cli_ingest", "seed": seed, "trace": False,
             "result": {"correct": correct, "attempted": 4, "failed": failed, "metrics": metrics}}
        with open(os.path.join(folder, f"cli_ingest-seed{seed}-trace0.json"), "w") as f:
            json.dump(r, f)

    def test_failed_runs_are_loaded_counted_and_block_a_gain(self):
        with tempfile.TemporaryDirectory() as parent, tempfile.TemporaryDirectory() as change:
            for seed, v in enumerate(BASE):
                self.write(parent, seed, v)
                self.write(change, seed, v * 0.5, correct=seed != 3, failed=1 if seed == 3 else 0)
            self.assertEqual(diff.load(change)["cli_ingest"]["incorrect"], 1)
            out = io.StringIO()
            self.assertTrue(diff.report(parent, change, out))
            text = out.getvalue()
            self.assertIn("40 operations attempted, 1 failed", text)
            self.assertIn("| failed |", text)
            self.assertNotIn("improved", text)


if __name__ == "__main__":
    unittest.main()
