# Sourced by the scaling scripts: one timed run of the dedup.Pipeline CLI.
#
#   scaling_run <docs> <cores> <outlog> <launcher...>
#
# runs `<launcher...> --synth <docs> --output <dir>` with <dir> fresh and
# empty (an output that already holds checkpoints would resume from them
# and time a reuse), deletes <dir> afterwards and appends one JSON line to
# <outlog>: docs, removed, cores, sec (the CLI's wall=), docsPerSec,
# stealPct (the host's /proc/stat steal share over the run) and resumed
# (the stages SUMMARY.json marks as resumed; tools/scaling_report.py
# rejects a log where it is not 0). Returns non-zero, with the tail of the
# run's stderr, when the CLI prints no summary line.

# "busy steal" jiffies from the aggregate cpu line, busy as
# dedup.HostCanary.procStat counts it (user nice system irq softirq)
_busy_steal() { awk '/^cpu /{print $2 + $3 + $4 + $7 + $8, $9}' /proc/stat; }

scaling_run() {
  local docs=$1 cores=$2 out=$3
  shift 3
  local dir s0 s1 line
  dir=$(mktemp -d "${TMPDIR:-/tmp}/scaling_run.XXXXXX") || return 1
  s0=$(_busy_steal)
  line=$("$@" --synth "$docs" --output "$dir/out" 2>"$dir/stderr" | grep -E '^docs=')
  s1=$(_busy_steal)
  if [ -z "$line" ]; then
    echo "scaling run failed (docs $docs, cores $cores):" >&2
    tail -n 20 "$dir/stderr" >&2
    rm -rf "$dir"
    return 1
  fi
  python3 - "$cores" "$line" "$s0" "$s1" "$dir/out/SUMMARY.json" >> "$out" <<'EOF'
import json, re, sys
cores, line, s0, s1, summary = sys.argv[1:]
m = re.match(r"docs=(\d+) kept=\d+ removed=(\d+) .* wall=([0-9.]+)s", line)
docs, removed, sec = int(m[1]), int(m[2]), float(m[3])
(b0, st0), (b1, st1) = (map(int, s.split()) for s in (s0, s1))
jiffies = (b1 - b0) + (st1 - st0)
with open(summary) as f:
    resumed = sum(s["resumed"] for s in json.load(f)["stages"])
print(json.dumps({
    "docs": docs, "removed": removed, "cores": int(cores), "sec": sec,
    "docsPerSec": round(docs / sec, 1),
    "stealPct": round(100.0 * (st1 - st0) / jiffies, 1) if jiffies > 0 else 0.0,
    "resumed": resumed}))
EOF
  local rc=$?
  rm -rf "$dir"
  return $rc
}
