#!/bin/bash
# Instrumented full-suite bench draw for suite-burst root-causing
# (round-9 task #3): GC + code-cache unified logging, epoch-stamped
# per-key stderr, and a vmstat sidecar for host-contention correlation.
# Writes nothing into the repo: BENCH_LAST.json goes to the scratch
# SPARK_GRAFT_REPO so the committed artifact stays intact.
#
# Host-sized like ab_bench.sh (jvm_env.sh).
#
# Usage: scripts/bench_instrumented.sh [outPrefix=/tmp/bench_inst]
set -u
. "$(dirname "$0")/jvm_env.sh"
cd /root/repo
OUT=${1:-/tmp/bench_inst}
SNAP=$(mktemp -d /tmp/graft_classes_inst_XXXX)
cp -r target/scala-2.13/classes/. "$SNAP/"
trap 'rm -rf "$SNAP"; kill $VMSTAT_PID 2>/dev/null' EXIT
vmstat -t 5 > "$OUT.vmstat" 2>&1 &
VMSTAT_PID=$!
mkdir -p /tmp/benchrepo
[ -f /tmp/benchrepo/BENCH_LAST.json ] || cp BENCH_LAST.json /tmp/benchrepo/
SPARK_GRAFT_REPO=/tmp/benchrepo \
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$HOST_CPUS} \
SPARK_GRAFT_REPS=${SPARK_GRAFT_REPS:-1} \
java -Xmx"$HOST_HEAP" "${JAVA_OPENS[@]}" \
  -Xlog:gc*:file="$OUT.gc.log":time,uptime \
  -Xlog:codecache=info:file="$OUT.codecache.log":time,uptime \
  -cp "$SNAP:$SPARK_CP" graft.Bench \
  > "$OUT.out" \
  2> "$OUT.err"
echo "rc=$?"
