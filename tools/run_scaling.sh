#!/bin/bash
# N→4N scaling gate on the production path: alternating runs of the
# dedup.Pipeline CLI at two core counts, each a fresh JVM
# (`-Dspark.master=local[<cores>]`, SPARK_GRAFT_CPUS=<cores> shuffle
# partitions) on `--synth <docs>` with a fresh, empty --output, appending
# one JSON line per run to the log (see tools/scaling_run.sh). No warmup:
# each run's wall is what a user's run costs, JIT and setup included.
# Report = per-level minimum over all repeats (tools/scaling_report.py).
# With [heap] the heap is fixed and pre-touched, which removes page-fault
# zeroing from the timed window.
#
# Usage: tools/run_scaling.sh <docs> <coresA> <coresB> <repeats> <outlog> [heap]
set -u
DOCS=$1; CA=$2; CB=$3; REPS=$4; OUT=$5; HEAP=${6:-}
: "${SPARK_HOME:?set SPARK_HOME to the Spark distribution}"
TOOLS="$(cd "$(dirname "$0")" && pwd)"
. "$TOOLS/scaling_run.sh"
CP="$TOOLS/../target/scala-2.13/classes:$SPARK_HOME/jars/*"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
if [ -n "$HEAP" ]; then
  MEM="-Xms$HEAP -Xmx$HEAP -XX:+AlwaysPreTouch"
else
  MEM="-Xmx${SPARK_DRIVER_MEM:-8g}"
fi
for i in $(seq 1 "$REPS"); do
  for CORES in "$CA" "$CB"; do
    echo "== repeat $i cores $CORES $(date +%H:%M:%S) ==" >> "$OUT"
    scaling_run "$DOCS" "$CORES" "$OUT" env SPARK_GRAFT_CPUS="$CORES" \
      java $MEM $OPENS -Dspark.master="local[$CORES]" -Dspark.ui.enabled=false \
      -cp "$CP" dedup.Pipeline || exit 1
  done
done
echo "== done $(date +%H:%M:%S) ==" >> "$OUT"
