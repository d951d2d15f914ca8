#!/bin/bash
# One scale epoch: a graft.Bench run at one scale factor (2 iterations by
# default), keeping its full record (per-query medians, every timed run,
# classes compiled per run, failed queries) as OUT and Bench's stdout
# (the determinism lines) in OUT.stdout.
#
# Usage: tools/run_scale_epochs.sh SF_DIR OUT [CPUS] [HEAP] [QUERIES]
#   SF_DIR   scale-factor directory (e.g. target/sf1 from
#            graft.tools.MakeScaledCorpus)
#   OUT      baseline file to write; OUT.stdout / OUT.stderr get the logs
#   CPUS     local[N] cores and session shuffle width (default: nproc)
#   HEAP     JVM -Xmx (default: 8g)
#   QUERIES  comma-separated query names (default: the full registry)
# SPARK_GRAFT_BENCH_ITERS in the environment overrides the 2 iterations
# (a subset at the top rung is usually run with 1).
# Needs compiled classes: run `sbt compile` first.
set -eu
if [ $# -lt 2 ]; then
  sed -n '/^# Usage/,/^# Needs/p' "$0" >&2
  exit 2
fi
sfdir=$1 out=$2 cpus=${3:-$(nproc)} heap=${4:-8g} queries=${5:-}
cd "$(dirname "$0")/.."
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
qenv=()
if [ -n "$queries" ]; then qenv=(SPARK_GRAFT_BENCH_QUERIES="$queries"); fi
echo "[epoch] $sfdir on $cpus cores, -Xmx$heap: start $(date +%T)"
env SPARK_GRAFT_SF_DIR="$sfdir" SPARK_GRAFT_BENCH_ITERS="${SPARK_GRAFT_BENCH_ITERS:-2}" \
  SPARK_GRAFT_CPUS="$cpus" "${qenv[@]}" \
  java -Xmx"$heap" $OPENS \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
  > "$out.stdout" 2> "$out.stderr"
cp target/bench_full.json "$out"
echo "[epoch] $sfdir done $(date +%T) -> $out"
