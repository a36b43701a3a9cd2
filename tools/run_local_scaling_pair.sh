#!/bin/bash
# Local-mode N vs M scaling pair (BASELINE.md protocol): interleaved
# A/B/A/B in one pre-touched JVM per invocation (dedup.ScalingBench),
# per-run /proc/stat steal share recorded so every measurement is
# self-attributing. The 1→4 gate pair is `<docs> 1 4 <outfile>`.
#   tools/run_local_scaling_pair.sh <docs> <coresA> <coresB> <outfile> [repeats]
set -u
DOCS=$1; A=$2; B=$3; OUT=$4; REPS=${5:-1}
: "${SPARK_HOME:?set SPARK_HOME to the Spark distribution}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED"
for i in $(seq 1 "$REPS"); do
  echo "== repeat $i start $(date +%H:%M:%S) ==" >> "$OUT"
  java -Xms16g -Xmx16g -XX:+AlwaysPreTouch $OPENS -Dspark.ui.enabled=false \
    -cp "$ROOT/target/scala-2.13/classes:$SPARK_HOME/jars/*" \
    dedup.ScalingBench "$DOCS" "$A" "$B" 2>/dev/null | grep -E "^\{" >> "$OUT"
done
echo "== done $(date +%H:%M:%S) ==" >> "$OUT"
