#!/bin/bash
# N vs 4N EXECUTORS on a local standalone Spark cluster — generalized:
#   tools/run_cluster_scaling2.sh <docs> <reps> <exec_cores> <coresA> <coresB> <outlog>
# e.g. "1000000 2 1 1 4 out.jsonl" = 1 executor×1c vs 4 executors×1c,
#      "1000000 2 4 4 16 out.jsonl" = 1 executor×4c vs 4 executors×4c.
# Executor count = total_cores / exec_cores; each executor is its own JVM
# (own heap, shuffle server) — the real multi-executor topology. Each run
# is the dedup.Pipeline CLI on `--synth <docs>` with a fresh, empty
# --output, one JSON line per run (see tools/scaling_run.sh).
# SPARK_GRAFT_CPUS (default 16) pins the shuffle partition count so both
# levels run the IDENTICAL physical plan; only the executor count differs.
set -u
DOCS=$1; REPS=$2; EXEC_CORES=$3; CORES_A=$4; CORES_B=$5; OUT=$6
: "${SPARK_HOME:?set SPARK_HOME to the Spark distribution}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
. "$ROOT/tools/scaling_run.sh"
JAR="$ROOT/target/scala-2.13/dedupspark_2.13-0.1.0.jar"
MASTER=spark://localhost:7077

export SPARK_LOCAL_DIRS=/dev/shm/spark-local
export SPARK_MASTER_HOST=localhost
export SPARK_LOG_DIR=/tmp/spark-cluster-logs
export SPARK_WORKER_DIR=/tmp/spark-cluster-work

cleanup() {
  "$SPARK_HOME/sbin/stop-worker.sh" >/dev/null 2>&1
  "$SPARK_HOME/sbin/stop-master.sh" >/dev/null 2>&1
}
trap cleanup EXIT
cleanup
"$SPARK_HOME/sbin/start-master.sh" >/dev/null 2>&1
sleep 3
SPARK_WORKER_CORES=$((CORES_B > CORES_A ? CORES_B : CORES_A)) \
  SPARK_WORKER_MEMORY=96g "$SPARK_HOME/sbin/start-worker.sh" "$MASTER" >/dev/null 2>&1
sleep 3

# Executor JVMs size their GC/JIT/netty thread pools for ALL visible CPUs
# (G1 defaults to ~23 ParallelGCThreads on this 32-core host) — a 1-core
# executor then presents the hypervisor with bursts of 20+ runnable vCPUs,
# which an oversubscribed host punishes with CPU steal (measured: 10-22%
# steal during 4x1c windows vs <=1.5% single-executor and <=1% for a pure
# 4-process canary). Capping auxiliary threads to the executor's core count
# is the correct production sizing for small executors (YARN/K8s enforce it
# via cgroup cpu limits; a standalone worker does not confine executors).
EXEC_JVM_OPTS="-XX:ParallelGCThreads=$((EXEC_CORES + 1)) -XX:ConcGCThreads=1 -XX:CICompilerCount=2 -XX:ActiveProcessorCount=$((EXEC_CORES + 1))"

run() { # total_cores
  local CORES=$1
  echo "== executors $((CORES / EXEC_CORES))x${EXEC_CORES}c $(date +%H:%M:%S) ==" >> "$OUT"
  scaling_run "$DOCS" "$CORES" "$OUT" env SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  "$SPARK_HOME/bin/spark-submit" \
    --master "$MASTER" \
    --class dedup.Pipeline \
    --driver-memory 8g \
    --conf spark.executor.cores="$EXEC_CORES" \
    --conf spark.executor.memory=12g \
    --conf spark.executor.extraJavaOptions="$EXEC_JVM_OPTS" \
    --conf spark.shuffle.io.serverThreads=$((EXEC_CORES + 1)) \
    --conf spark.shuffle.io.clientThreads=$((EXEC_CORES + 1)) \
    --conf spark.rpc.io.serverThreads=$((EXEC_CORES + 1)) \
    --conf spark.rpc.io.clientThreads=$((EXEC_CORES + 1)) \
    --conf spark.cores.max="$CORES" \
    --conf spark.ui.enabled=false \
    --conf spark.sql.session.timeZone=UTC \
    "$JAR"
}

for i in $(seq 1 "$REPS"); do
  run "$CORES_A" || exit 1
  run "$CORES_B" || exit 1
done
echo "== done $(date +%H:%M:%S) ==" >> "$OUT"
