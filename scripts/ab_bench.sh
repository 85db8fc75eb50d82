#!/bin/bash
# Interleaved ABAB bench: old classes vs new classes for a key subset.
# Usage: ab_bench.sh <old_cls> <new_cls> <keys> <rounds> [sfdir]
# Each side runs graft.Bench (REPS honored via SPARK_GRAFT_REPS, default 2);
# uniform host slowdown cancels in the pairing (OPTIMIZATION_r12.md method).
# Host-sized: local[nproc] unless SPARK_GRAFT_CPUS is set, heap by the
# tier-1 rule (jvm_env.sh).
set -u
. "$(dirname "$0")/jvm_env.sh"
OLD=$1; NEW=$2; KEYS=$3; ROUNDS=${4:-2}; SF=${5:-/root/testdata/sf0.1}
for r in $(seq 1 "$ROUNDS"); do
  for side in old new; do
    cls=$OLD; [ "$side" = new ] && cls=$NEW
    out=$(SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$HOST_CPUS} \
      SPARK_GRAFT_QUERIES="$KEYS" SPARK_GRAFT_REPS=${SPARK_GRAFT_REPS:-2} \
      java -Xmx"$HOST_HEAP" "${JAVA_OPENS[@]}" -cp "$cls:$SPARK_CP" graft.Bench 2>/dev/null | tail -1)
    echo "{\"round\": $r, \"side\": \"$side\", \"bench\": $out}"
  done
done
