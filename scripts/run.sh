#!/usr/bin/env bash
# Bare-JVM runner for graft mains (Bench/Verify/GenData/Plans/CliScale):
# compiled classes + the Spark 4 jar dir, with the Java 17 --add-opens set
# Spark needs. Avoids sbt's [info] stdout prefix and per-run JVM cost.
#   scripts/run.sh graft.GenData /root/testdata-local/sf1 1.0
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:/opt/spark/jars/*"
# Heap: GRAFT_XMX when set, else three quarters of MemTotal (96g on a 128 GiB
# machine), else 4g where /proc/meminfo cannot be read. A solo run; set
# GRAFT_XMX lower when two JVMs share the machine (two at 96g OOM-killed the
# second at sf2).
XMX="${GRAFT_XMX:-$(awk '/^MemTotal:/ {print int($2 * 3 / 4 / 1024) "m"}' /proc/meminfo 2>/dev/null || true)}"
exec java -Xmx"${XMX:-4g}" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "$CP" "$@"
