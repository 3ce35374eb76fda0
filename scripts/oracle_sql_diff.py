#!/usr/bin/env python3
"""Check that a rewrite of the oracle SQL computes the same results.

    python3 scripts/oracle_sql_diff.py <old oracle_sql.json> <new oracle_sql.json> <sf_dir> [names...]

Both files are `graft.Verify` outputs (`<out>/oracle_sql.json`), one from
each checkout. For every entry whose SQL text differs, both SQLs run in
DuckDB over the `sf_dir` tables (`check_oracle.connect`) and their results
are compared exactly after `check_oracle.norm` (columns sorted by name,
dtypes widened). An entry present on one side only is a failure. With
names given, only those entries are checked.

Prints one line per checked entry and a summary; exits 1 when any entry
differs, fails to run or is missing on one side.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import connect, norm  # noqa: E402


def diff(old, new, make_con, only=()):
    """Compares two {name: sql} maps; returns (lines, number of failures)."""
    lines, n_fail = [], 0
    for name in sorted(set(old) | set(new)):
        if only and name not in only:
            continue
        if name not in new or name not in old:
            lines.append(f"FAIL {name}: only in the {'old' if name in old else 'new'} file")
            n_fail += 1
            continue
        if old[name] == new[name]:
            continue
        try:
            a = norm(make_con().execute(old[name]).df())
            b = norm(make_con().execute(new[name]).df())
        except Exception as e:
            lines.append(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if list(a.columns) == list(b.columns) and a.equals(b):
            lines.append(f"SAME {name} ({len(a)} rows)")
        else:
            lines.append(f"FAIL {name}: columns old={list(a.columns)} new={list(b.columns)}, "
                         f"rows old={len(a)} new={len(b)}")
            n_fail += 1
    return lines, n_fail


def main(argv):
    if len(argv) < 4:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    old = json.load(open(argv[1]))
    new = json.load(open(argv[2]))
    lines, n_fail = diff(old, new, lambda: connect(argv[3]), tuple(argv[4:]))
    for line in lines:
        print(line)
    n_same = sum(1 for line in lines if line.startswith("SAME"))
    print(f"== {n_same} changed and result-identical, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
