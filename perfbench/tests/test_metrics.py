import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402

SPEC = metrics.spec()
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYERS = [m["name"] for m in SPEC["per_layer"]]


def report(workload, traced):
    ran = metrics.WORKLOAD_LAYERS[workload]
    layers = {n: 1.5 for n in LAYERS if n.startswith(ran)}
    passes = [{"kind": "untraced", "pass_s": 10.0, "prep": [], "outputs": [], "layers": {},
               "ops": [{"name": f"op{i}", "s": 0.1 * (i + 1), "rows": 1, "error": None}
                       for i in range(20)]}]
    if traced:
        passes.append(dict(passes[0], kind="traced", pass_s=12.0, layers=layers))
    passes.insert(0, dict(passes[0], kind="warm", pass_s=30.0))
    return {"workload": workload, "setup": [{"create_s": 1.0, "register_s": 0.1, "warmup_s": 2.0}] * 3,
            "passes": passes}


class MetricsTest(unittest.TestCase):
    def test_every_end_to_end_metric_is_emitted_and_nonzero(self):
        for w in metrics.WORKLOAD_LAYERS:
            values = metrics.end_to_end(report(w, traced=False))
            self.assertEqual(set(values), set(E2E), w)
            self.assertTrue(all(v > 0 for v in values.values()), w)
            self.assertAlmostEqual(values["setup_s"], 3.1)
            self.assertAlmostEqual(values["pass_s"], 10.0)

    def test_every_per_layer_metric_is_emitted(self):
        for w in metrics.WORKLOAD_LAYERS:
            values, missing = metrics.per_layer(report(w, traced=True), LAYERS)
            self.assertEqual(missing, [], w)
            self.assertEqual(list(values), LAYERS, w)
            self.assertAlmostEqual(values["trace.overhead_frac"], 0.2)
            ran = metrics.WORKLOAD_LAYERS[w]
            self.assertTrue(all(v == 0.0 for n, v in values.items() if not n.startswith(ran)))

    def test_metrics_in_the_spec_have_units_and_valid_names(self):
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["name"], r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
            self.assertIn(m["better"], ("higher", "lower"))
        self.assertIn("setup_s", E2E)

    def test_missing_layer_metric_is_named(self):
        r = report("cli_ingest", traced=True)
        traced = next(p for p in r["passes"] if p["kind"] == "traced")
        del traced["layers"]["pipeline.sort_s"]
        values, missing = metrics.per_layer(r, LAYERS)
        self.assertEqual(missing, ["pipeline.sort_s"])
        self.assertNotIn("pipeline.sort_s", values)

    def test_a_sink_never_written_fails_the_pass(self):
        r = {"workload": "cli_ingest", "passes": [
            {"kind": "untraced", "prep": [], "outputs": ["/nonexistent/sink"], "layers": {},
             "ops": [{"name": b, "s": 1.0, "rows": -1, "error": "boom" if b == "ii" else None}
                     for b in ("freetrade", "ii")]}]}
        attempted, failed, problems = metrics.check(r, {"expected_lines": ["x"]}, {})
        self.assertEqual((attempted, failed), (2, 2))
        self.assertTrue(any("no sink written" in p for p in problems))

    def test_line_checks(self):
        ok = ["BUY 01/02/2019 X 1 2 0", "SELL 05/02/2019 Y 1.5 2 0.25"]
        self.assertEqual(metrics.check_lines(ok, list(reversed(ok))), [])
        self.assertTrue(metrics.check_lines(list(reversed(ok)), ok))
        self.assertTrue(metrics.check_lines(ok[:1], ok))
        self.assertTrue(metrics.check_lines(["BUY 01/02/2019 X 1 2", ok[1]], ok))
        self.assertTrue(metrics.check_lines(["BUY 01/02/2019 X 1 3 0", ok[1]], ok))


if __name__ == "__main__":
    unittest.main()
