#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload <cli_ingest|analytics> \
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the harness with sbt
(perfbench/build.sbt); later runs start the harness with plain `java`. Inputs
come from the seed (perfbench/gen.py); the analytics tables come from the
program's own GenData, which takes no seed, so every seed runs the same
tables and queries there.
The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; the full report, with the box it ran on,
is kept under perfbench/reports/. The exit code is 0 only when every
operation ran and every output check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# Input sizes per workload, fixed so every seed costs the same work. At 96,000
# lines about three quarters of an ingest pass grows with the line count; the
# rest is the fixed cost of each round's Spark jobs.
INGEST_LINES = 96000
# GenData scale of the analytics tables: the whole 158-query surface plus its
# state stage must fit one run, and its cost is almost all per-job overhead.
ANALYTICS_SCALE = "0.001"

DEADLINE_S = 170
BUILD_TIMEOUT_S = 700
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    files = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files) + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                            os.path.join(HERE, "project", "build.properties")]


def build():
    """Compiles program and harness when their sources changed; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala: run from a full checkout")
    digest = hashlib.sha256()
    for f in build_inputs():
        with open(f, "rb") as fh:
            digest.update(f.encode() + b"\0" + fh.read())
    target = os.path.join(HERE, "target")
    stamp, cp_file = os.path.join(target, "build.stamp"), os.path.join(target, "classpath.txt")
    if not (os.path.exists(stamp) and open(stamp).read() == digest.hexdigest()
            and os.path.exists(cp_file)):
        # sbt keeps its global state and temporary files under target/, so
        # the build writes nowhere outside the checkout but the dependency
        # caches it reads offline.
        tmp = os.path.join(target, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
            "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.global.base=" + os.path.join(target, "sbt-global"),
            "-Dsbt.server.autostart=false", "-Djava.io.tmpdir=" + tmp, "-Xmx3g"]))
        with open(os.path.join(target, "build.log"), "w") as log:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                                 cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if rc != 0:
            fail(f"build failed (exit {rc}); see {os.path.join(target, 'build.log')}", 3)
        with open(stamp, "w") as f:
            f.write(digest.hexdigest())
    with open(cp_file) as f:
        return f.read().strip()


def heap():
    """Half of MemTotal, between 2g and 8g, as the tier-1 test command sizes it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java(classpath, args, cwd, log_path, timeout):
    """Runs the harness in its own process group, so a timeout stops every
    process it started; returns its exit code."""
    local = os.path.join(cwd, "spark-local")
    cmd = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={local}", "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Harness"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()), SPARK_LOCAL_DIRS=local)
    os.makedirs(local, exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return -1
        finally:
            shutil.rmtree(local, ignore_errors=True)


def analytics_data(classpath, deadline):
    """The GenData tables at ANALYTICS_SCALE, generated once per checkout."""
    data = os.path.join(HERE, "data", f"sf{ANALYTICS_SCALE}")
    if not os.path.exists(os.path.join(data, "_DONE")):
        shutil.rmtree(data, ignore_errors=True)
        os.makedirs(data)
        rc = java(classpath, ["gendata", data, ANALYTICS_SCALE], os.path.dirname(data),
                  os.path.join(HERE, "data", "gendata.log"), deadline - time.time())
        if rc != 0:
            fail(f"GenData failed (exit {rc})", 3)
        open(os.path.join(data, "_DONE"), "w").close()
    return data


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOAD_LAYERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = metrics.spec()
    classpath = build()
    deadline = time.time() + DEADLINE_S

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "cli_ingest":
        inputs = os.path.join(work, "input")
        manifest = gen.ingest(inputs, a.seed, INGEST_LINES)
    else:
        inputs, manifest = analytics_data(classpath, deadline), {}
    with open(os.path.join(HERE, "reference_rows.json"), encoding="utf-8") as f:
        reference_rows = json.load(f)[f"sf{ANALYTICS_SCALE}"]

    report_path = os.path.join(work, "report.json")
    rc = java(classpath, ["run", a.workload, inputs, work, str(a.seconds), str(a.trace), str(a.seed),
                          report_path], work, os.path.join(work, "harness.log"), deadline - time.time())
    if not os.path.exists(report_path):
        with open(os.path.join(work, "harness.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited {rc} without a report", 1)
    with open(report_path, encoding="utf-8") as f:
        report = json.load(f)

    attempted, failed, problems = metrics.check(report, manifest, reference_rows)
    missing = []
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values, missing = metrics.per_layer(report, names)
        if missing:
            problems.append("per-layer metrics not reported: " + ", ".join(missing))
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = metrics.end_to_end(report)
    for p in problems[:20]:
        print(f"check: {p}", file=sys.stderr)
    correct = rc == 0 and failed == 0 and not missing
    report["box"]["git_commit"] = git_commit()
    report["box"]["heap"] = heap()
    report["result"] = {"correct": correct, "attempted": attempted, "failed": failed,
                        "problems": problems, "metrics": values}
    reports = os.path.join(HERE, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f)
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
