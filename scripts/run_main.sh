#!/bin/bash
# Run a graft main from the sbt-compiled classes without holding the sbt
# target lock (lets long benches run while sbt keeps compiling).
# Snapshots the classes dir first: Spark's ClosureCleaner re-reads class
# bytes at job-submit time, so an sbt recompile under a running JVM crashes
# it (NPE: "capturingClassReader is null").
# Host-sized: local[nproc] unless SPARK_GRAFT_CPUS is set, heap by the
# tier-1 rule (jvm_env.sh).
# Usage: scripts/run_main.sh graft.BenchPipeline [args...]
. "$(dirname "$0")/jvm_env.sh"
cd /root/repo
SNAP=$(mktemp -d /tmp/graft_classes_XXXX)
cp -r target/scala-2.13/classes/. "$SNAP/"
trap 'rm -rf "$SNAP"' EXIT
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$HOST_CPUS} \
java -Xmx"$HOST_HEAP" "${JAVA_OPENS[@]}" -cp "$SNAP:$SPARK_CP" "$@"
