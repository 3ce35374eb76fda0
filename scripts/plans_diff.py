#!/usr/bin/env python3
"""Compare two `graft.Plans` dump directories.

    python3 scripts/plans_diff.py <dirA> <dirB>

Some fields of a plan differ from run to run, or from checkout to checkout,
of the same code, so each file has them replaced before the compare:

- expression IDs (`#123` -> `#N`), exchange IDs (`plan_id=45` ->
  `plan_id=N`) and RDD IDs (`RDD[678]` -> `RDD[N]`), which are per-JVM
  counters;
- the file and line number of an RDD call site (`createDataFrame at
  DedupOps.scala:971` -> `createDataFrame at <src>`), which move whenever
  lines above the call move or a shared helper makes the call;
- the directory a warehouse table sits in (`file:/work/a/spark-warehouse/t`
  -> `file:<cwd>/spark-warehouse/t`), which is the working directory of the
  run that wrote it.

Prints a unified diff for every plan that differs and the name of every
plan present on one side only. Exits 0 when the dumps are equal, 1 when
they differ, and 2 on bad arguments or a dump with no plan files.

A few plans can still differ between two runs of the same code: Spark
orders the Expand groups of a distinct aggregate by expression-ID hash, and
whole-stage codegen ids can shift. Dump those queries alone (Plans takes
query names) to compare them.
"""
import difflib
import pathlib
import re
import sys

RUN_FIELDS = [(re.compile(r"#\d+"), "#N"),
              (re.compile(r"plan_id=\d+"), "plan_id=N"),
              (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
              (re.compile(r" at \w+\.scala:\d+"), " at <src>"),
              (re.compile(r"/[^\s,\[\]]*/spark-warehouse\b"), "<cwd>/spark-warehouse")]


def normalized(text):
    for pattern, replacement in RUN_FIELDS:
        text = pattern.sub(replacement, text)
    return text


def plans(directory):
    return {p.name: normalized(p.read_text()) for p in directory.glob("*.txt")}


def main(argv):
    if len(argv) != 3 or not all(pathlib.Path(d).is_dir() for d in argv[1:]):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a_dir, b_dir = pathlib.Path(argv[1]), pathlib.Path(argv[2])
    a, b = plans(a_dir), plans(b_dir)
    for d, dump in ((a_dir, a), (b_dir, b)):
        if not dump:
            print(f"no plan files in {d}", file=sys.stderr)
            return 2
    differ = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in b:
            print(f"only in {a_dir}: {name}")
        elif name not in a:
            print(f"only in {b_dir}: {name}")
        elif a[name] != b[name]:
            sys.stdout.writelines(difflib.unified_diff(
                a[name].splitlines(keepends=True), b[name].splitlines(keepends=True),
                f"{a_dir}/{name}", f"{b_dir}/{name}"))
        else:
            continue
        differ += 1
    print(f"{len(a.keys() | b.keys())} plans, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
