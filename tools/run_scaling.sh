#!/bin/bash
# Direct-JVM scaling runs (no sbt lock): alternating single-level
# measurements at two core counts, one fresh JVM each, appending JSON
# lines to the log. Report = per-level minimum over all repeats
# (BASELINE.md interleaved-min protocol). With [heap] the heap is fixed and
# pre-touched, which removes page-fault zeroing from the timed window
# (measured ~11 cores of kernel time during local[32] phases without it).
#
# Usage: tools/run_scaling.sh <docs> <coresA> <coresB> <repeats> <outlog> [heap]
set -u
DOCS=$1; CA=$2; CB=$3; REPS=$4; OUT=$5; HEAP=${6:-}
: "${SPARK_HOME:?set SPARK_HOME to the Spark distribution}"
CP="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes:$SPARK_HOME/jars/*"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
if [ -n "$HEAP" ]; then
  MEM="-Xms$HEAP -Xmx$HEAP -XX:+AlwaysPreTouch"
else
  MEM="-Xmx${SPARK_DRIVER_MEM:-24g}"
fi
for i in $(seq 1 "$REPS"); do
  for CORES in "$CA" "$CB"; do
    echo "== repeat $i cores $CORES $(date +%H:%M:%S) ==" >> "$OUT"
    java $MEM $OPENS -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC \
      -cp "$CP" dedup.ScalingBench "$DOCS" "$CORES" "$CORES" \
      2>/dev/null | grep -E "^\{" >> "$OUT"
  done
done
echo "== done $(date +%H:%M:%S) ==" >> "$OUT"
