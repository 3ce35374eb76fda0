"""Turns a harness report into the benchmark's metrics and output checks.

The metric names and units come from BENCHMARK.json; this module only knows
how each is computed. A layer a workload does not run reports 0 on that
workload (it did no work there); a layer it runs must report a value.
"""

import json
import os
import re
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
LINE_RE = re.compile(r"^(BUY|SELL) \d{2}/\d{2}/\d{4} \S+ -?\d+(\.\d+)?([eE][+-]?\d+)? "
                     r"\d+(\.\d+)?([eE][+-]?\d+)? \d+(\.\d+)?([eE][+-]?\d+)?$")

CLI_LAYERS = ("session.", "sources.", "model.", "pipeline.", "trace.")
ANALYTICS_LAYERS = ("session.", "state.", "rel.", "txt.", "dd.", "sim.", "mm.", "trace.")
WORKLOAD_LAYERS = {"cli_ingest": CLI_LAYERS, "analytics": ANALYTICS_LAYERS}


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def passes(report, kind):
    """A run's passes of one kind: "warm" (the unmeasured first pass),
    "untraced" or "traced"."""
    return [p for p in report["passes"] if p["kind"] == kind]


def end_to_end(report):
    """Metric name -> value for an untraced run."""
    setups = [s["create_s"] + s["register_s"] + s["warmup_s"] for s in report["setup"]]
    return {
        "setup_s": statistics.median(setups),
        "pass_s": statistics.median(p["pass_s"] for p in passes(report, "untraced")),
    }


def per_layer(report, names):
    """(metric name -> value, missing names) for a traced run; `names` are
    BENCHMARK.json's per-layer metrics, and a missing one is a metric the
    workload's layers should have reported but did not."""
    traced = passes(report, "traced")
    ran = WORKLOAD_LAYERS[report["workload"]]
    derived = {
        "session.create_s": statistics.median(s["create_s"] for s in report["setup"]),
        "session.register_s": statistics.median(s["register_s"] for s in report["setup"]),
        "trace.overhead_frac": statistics.median(p["pass_s"] for p in traced)
        / statistics.median(p["pass_s"] for p in passes(report, "untraced")) - 1.0,
    }
    out = {}
    missing = []
    for n in names:
        if n in derived:
            out[n] = derived[n]
        elif not n.startswith(ran):
            out[n] = 0.0
        elif all(n in p["layers"] for p in traced):
            out[n] = statistics.median(p["layers"][n] for p in traced)
        else:
            missing.append(n)
    return out, missing


def _date_key(line):
    d, m, y = line.split(" ")[1].split("/")
    return y + m + d


def check_lines(lines, expected):
    """Problems with a sink's lines against the lines the generator planted:
    count, line format, global date order and the exact multiset."""
    problems = []
    if len(lines) != len(expected):
        problems.append(f"{len(lines)} lines, expected {len(expected)}")
    bad = sum(1 for l in lines if not LINE_RE.match(l))
    if bad:
        problems.append(f"{bad} lines break the line format")
    keys = [_date_key(l) for l in lines if LINE_RE.match(l)]
    unordered = sum(1 for a, b in zip(keys, keys[1:]) if a > b)
    if unordered:
        problems.append(f"{unordered} adjacent lines out of date order")
    if not problems and sorted(lines) != sorted(expected):
        problems.append("lines differ from the planted lines")
    return problems


def read_sink(path):
    """Lines of a distributed sink: its part files, whose name order is the
    sort order. None when the sink was never written."""
    if not os.path.isdir(path):
        return None
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-"))
    lines = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            lines += [l.strip() for l in fh if l.strip()]
    return lines


def check(report, manifest, reference_rows):
    """(attempted, failed, problems) over every operation of the run. An
    operation fails when it raised, or when the output it contributed to
    differs from the expected one."""
    attempted = failed = 0
    problems = []
    for i, p in enumerate(report["passes"]):
        steps = p["prep"] + p["ops"]
        attempted += len(steps)
        errors = [s for s in steps if s["error"]]
        for s in errors:
            problems.append(f"pass {i} {s['name']}: {s['error']}")
        wrong = []
        if report["workload"] == "cli_ingest":
            lines = read_sink(p["outputs"][0])
            expected = manifest["warm_lines" if p["kind"] == "warm" else "expected_lines"]
            wrong = ["no sink written"] if lines is None else check_lines(lines, expected)
        else:
            for o in p["ops"]:
                want = reference_rows.get(o["name"])
                if not o["error"] and o["rows"] != want:
                    wrong.append(f"{o['name']}: {o['rows']} rows, reference {want}")
                    failed += 1
        if report["workload"] != "analytics" and wrong:
            failed += len(steps) - len(errors)
        failed += len(errors)
        problems += [f"pass {i}: {w}" for w in wrong]
    return attempted, failed, problems
