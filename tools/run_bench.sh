#!/bin/bash
# Local stand-in for the driver's bench step: run graft.Bench on a scale dir.
# Usage: SPARK_GRAFT_BENCH_REPS=2 [SPARK_GRAFT_ONLY=q1,q2] [SPARK_GRAFT_CPUS=n] \
#          tools/run_bench.sh [sfdir] [bench_file] [xmx]
# Defaults: every CPU this host reports (nproc) and a heap of half the
# host's RAM, clamped to 2-8 GB.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.1}
OUT=${2:-BENCH_local_last.json}
XMX=${3:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g)}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_BENCH_FILE="$OUT" \
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)} exec java $ADD_OPENS -Xmx"$XMX" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench
