#!/bin/bash
# Multi-PROCESS host canary: per-process pure-JVM xxh64 throughput at 1 vs N
# concurrent single-thread processes — the exact topology of 1 vs N
# single-core executors, with zero Spark. If per-process MB/s drops with N
# idle-cores-available concurrent processes, the host (shared L3, all-core
# turbo bins, steal), not the engine, eats the scaling headroom.
#   tools/run_proc_canary.sh <N> <outfile>
set -u
N=${1:-4}
OUT=${2:-/tmp/proc_canary.jsonl}
: "${SPARK_HOME:?set SPARK_HOME to the Spark distribution}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/dedupspark_2.13-0.1.0.jar:$SPARK_HOME/jars/*"

run_one() { # label nprocs
  local LABEL=$1 NP=$2
  echo "== $LABEL $(date +%H:%M:%S) ==" >> "$OUT"
  local PIDS=()
  for i in $(seq 1 "$NP"); do
    CANARY_MS=${CANARY_MS:-8000} java -cp "$CP" dedup.HostCanary 1 \
      2>/dev/null | sed "s/^/{\"proc\":$i,\"of\":$NP} /" >> "$OUT" &
    PIDS+=($!)
  done
  wait "${PIDS[@]}"
}

run_one "1proc" 1
run_one "${N}proc" "$N"
run_one "1proc" 1
run_one "${N}proc" "$N"
echo "== done $(date +%H:%M:%S) ==" >> "$OUT"
