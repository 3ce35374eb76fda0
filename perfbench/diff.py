#!/usr/bin/env python3
"""Compares two sets of benchmark reports: a parent commit and a change.

Usage:
    python3 perfbench/diff.py <parent-reports-dir> <change-reports-dir>

Each directory holds the reports run.py keeps (perfbench/reports/*.json);
copy them aside after running each commit. Every workload gets its own rows.
For each end-to-end metric the tool prints both sides' median and quartiles
and one verdict:

  failed      the change's runs failed more operations than the parent's;
              no gain counts then;
  improved    the change wins at least 9 of every 10 pairs (runs paired by
              seed only; ties count for neither side) and the medians differ
              by more than the parent's quartile spread, or every change run
              beats every parent run;
  regressed   the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  either side's quartile spread, as a share of its median, is
              wider than the bound, so "unchanged" cannot be told from noise;
  unchanged   otherwise.

Counter moves (bytes, rows, jobs, Exchanges, scans...) from the traced runs
are listed apart from wall-time moves: counters repeat exactly run to run,
so any move is a real change in the work done. Every report is loaded,
including those of runs that failed a check; each workload's heading gives
both sides' attempted and failed operations, and names any seed that ran on
one side only. The exit code is 1 when any metric regressed or failed.
"""

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WALL_UNITS = {"s", "ms", "ns", "1/s", "ratio"}


def load(folder):
    """workload -> {"runs": [(seed, metrics)], "traced": [(seed, metrics)],
    "attempted": n, "failed": n, "incorrect": n}, over every report, whether
    or not its run passed its checks."""
    out = {}
    for path in sorted(glob.glob(os.path.join(folder, "*.json"))):
        with open(path, encoding="utf-8") as f:
            r = json.load(f)
        res = r.get("result")
        if not res:
            continue
        side = out.setdefault(r["workload"], {"runs": [], "traced": [], "attempted": 0,
                                              "failed": 0, "incorrect": 0})
        side["traced" if r["trace"] else "runs"].append((r["seed"], res["metrics"]))
        side["attempted"] += res["attempted"]
        side["failed"] += res["failed"]
        side["incorrect"] += 0 if res["correct"] else 1
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def pairs(parent, change):
    """(parent value, change value) pairs of the runs with the same seed, and
    the seeds that ran on one side only."""
    p, c = dict(parent), dict(change)
    return [(p[s], c[s]) for s in sorted(set(p) & set(c))], sorted(set(p) ^ set(c))


def verdict(parent, change, better, bound, more_failures=False):
    """Compares one metric; `parent` and `change` are [(seed, value)].
    `more_failures` says the change failed more operations than the parent."""
    pv, cv = [v for _, v in parent], [v for _, v in change]
    sign = 1.0 if better == "lower" else -1.0
    gain = lambda a, b: sign * (a - b)  # > 0 when b is better than a
    pq, cq = quartiles(pv), quartiles(cv)
    ps = pq[2] - pq[0]
    spread = max(ps / pq[1] if pq[1] else 0.0, (cq[2] - cq[0]) / cq[1] if cq[1] else 0.0)
    prs, _ = pairs(parent, change)
    wins = sum(1 for a, b in prs if gain(a, b) > 0)
    dominates = all(gain(a, b) > 0 for a in pv for b in cv)
    if more_failures:
        v = "failed"
    elif dominates or (prs and wins >= 0.9 * len(prs) and gain(pq[1], cq[1]) > ps):
        v = "improved"
    elif -gain(pq[1], cq[1]) > bound * abs(pq[1]):
        v = "regressed"
    elif spread > bound:
        v = "unresolved"
    else:
        v = "unchanged"
    return {"verdict": v, "parent": pq, "change": cq, "wins": wins, "pairs": len(prs),
            "spread": spread}


def counter_moves(parent, change, units):
    """(counter moves, wall moves): per-layer metrics whose medians differ."""
    counters, walls = [], []
    if not parent or not change:
        return counters, walls
    for name, unit in units.items():
        pv = [m[name] for _, m in parent if name in m]
        cv = [m[name] for _, m in change if name in m]
        if not pv or not cv:
            continue
        a, b = statistics.median(pv), statistics.median(cv)
        if a != b:
            (walls if unit in WALL_UNITS else counters).append((name, a, b))
    return counters, walls


def report(parent_dir, change_dir, out=sys.stdout):
    spec = metrics.spec()
    parent, change = load(parent_dir), load(change_dir)
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    regressed = False
    for w in [w["name"] for w in spec["workloads"]]:
        a, b = parent.get(w), change.get(w)
        if not a or not b or not a["runs"] or not b["runs"]:
            print(f"## {w}: no runs on {'parent' if not a or not a['runs'] else 'change'}", file=out)
            continue
        print(f"## {w}", file=out)
        for label, side in (("parent", a), ("change", b)):
            print(f"{label}: {len(side['runs'])} runs ({side['incorrect']} failed a check), "
                  f"{side['attempted']} operations attempted, {side['failed']} failed", file=out)
        _, unpaired = pairs(a["runs"], b["runs"])
        if unpaired:
            print(f"seeds run on one side only, left out of the pairs: {unpaired}", file=out)
        more_failures = b["failed"] > a["failed"]
        print("| metric | parent median [q1, q3] | change median [q1, q3] | wins | verdict |", file=out)
        print("|---|---|---|---|---|", file=out)
        for m in spec["end_to_end"]:
            n = m["name"]
            pv = [(s, x[n]) for s, x in a["runs"] if n in x]
            cv = [(s, x[n]) for s, x in b["runs"] if n in x]
            if not pv or not cv:
                print(f"| {n} ({m['unit']}) | | | | not reported |", file=out)
                continue
            r = verdict(pv, cv, m["better"], m["bound"], more_failures)
            regressed |= r["verdict"] in ("regressed", "failed")
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"| {n} ({m['unit']}) | {fmt(r['parent'])} | {fmt(r['change'])} | "
                  f"{r['wins']}/{r['pairs']} | {r['verdict']} |", file=out)
        counters, walls = counter_moves(a["traced"], b["traced"], layer_units)
        print(f"counter moves ({len(counters)}):", file=out)
        for n, x, y in counters:
            print(f"  {n}: {x:.6g} -> {y:.6g}", file=out)
        print(f"wall moves, per layer ({len(walls)}):", file=out)
        for n, x, y in walls:
            print(f"  {n}: {x:.4g} -> {y:.4g}", file=out)
    return regressed


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(1 if report(sys.argv[1], sys.argv[2]) else 0)
