#!/usr/bin/env python3
"""N->4N scaling report over tools/run_scaling.sh JSONL logs.

Usage: python3 tools/scaling_report.py <log.jsonl> [...]

Groups runs by (docs, cores); reports per-level best wall / throughput,
all raw repeats with their steal share, and pairwise N->4N efficiency
(thB/thA)/(coresB/coresA) between every 4x-apart core pair at the same
doc count. Protocol per BENCH/BASELINE.md: per-level minimum across
interleaved repeats — the engine's scaling, not the host's weather.

Exits non-zero when `removed` differs between runs at one doc count
(the parallelism or the run changed the output) or when a run resumed a
checkpointed stage (it timed a reuse, not the work).
"""
import json
import sys
from collections import defaultdict


def load(paths):
    """(docs, cores) -> [run dict] over every JSON run line in `paths`."""
    runs = defaultdict(list)
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                d = json.loads(line)
                if "cores" in d:
                    runs[(d["docs"], d["cores"])].append(d)
    return runs


def report(runs, out=sys.stdout):
    """Prints the report; returns the failed checks, one message each."""
    errors = []
    print(f"{'docs':>9} {'cores':>5} {'n':>2} {'best s':>8} {'best d/s':>9} "
          f"{'raw secs (steal %)':<40}", file=out)
    best = {}
    for (docs, cores), rs in sorted(runs.items()):
        b = min(rs, key=lambda r: r["sec"])
        best[(docs, cores)] = b
        raws = ",".join(f"{r['sec']:.0f} ({r.get('stealPct', float('nan')):.1f})"
                        for r in sorted(rs, key=lambda r: r["sec"]))
        print(f"{docs:>9} {cores:>5} {len(rs):>2} {b['sec']:>8.2f} "
              f"{b['docsPerSec']:>9.1f} [{raws}]", file=out)
        resumed = [r for r in rs if r.get("resumed", 0)]
        if resumed:
            errors.append(f"docs {docs} cores {cores}: {len(resumed)} run(s) "
                          f"resumed checkpointed stages")

    by_docs = defaultdict(dict)
    for (docs, cores), rs in runs.items():
        by_docs[docs][cores] = sorted({r["removed"] for r in rs})
    for docs, levels in sorted(by_docs.items()):
        if len({n for v in levels.values() for n in v}) > 1:
            errors.append(f"docs {docs}: removed differs between runs "
                          f"{dict(sorted(levels.items()))}")

    print(file=out)
    for (docs, ca) in sorted(best):
        cb = ca * 4
        if (docs, cb) in best:
            a, b = best[(docs, ca)], best[(docs, cb)]
            eff = (b["docsPerSec"] / a["docsPerSec"]) / 4
            print(f"docs {docs}: {ca}->{cb} cores  eff {eff:.3f}"
                  f"  ({a['docsPerSec']:.0f} -> {b['docsPerSec']:.0f} d/s)",
                  file=out)
    for e in errors:
        print(f"FAIL: {e}", file=out)
    return errors


def main(argv):
    return 1 if report(load(argv)) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
