"""Pure arithmetic of the benchmark: pair recall, span self times and the
Spark event-log counters attributed to each span's job group."""
import json
import statistics
from collections import Counter, defaultdict


def pair_recall(members):
    """members: (group, component) per planted doc; component is None when
    the doc is absent from the run's assignments. Returns planted same-group
    pairs that share a component / all planted same-group pairs."""
    members = list(members)
    per_group = Counter(g for g, _ in members)
    per_cell = Counter((g, c) for g, c in members if c is not None)
    total = sum(n * (n - 1) // 2 for n in per_group.values())
    joined = sum(n * (n - 1) // 2 for n in per_cell.values())
    return joined / total if total else 1.0


def self_times(spans):
    """spans: dicts with id, parent, start_s, end_s. A span's self time is
    its duration minus the part of its interval that its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        covered, edge = 0.0, lo
        for a, b in sorted((max(c["start_s"], lo), min(c["end_s"], hi)) for c in children[s["id"]]):
            if b > edge:
                covered += b - max(a, edge)
                edge = b
        out[s["id"]] = (hi - lo) - covered
    return out


COUNTERS = ("task_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "gc_s", "tasks", "max_task_ms", "median_task_ms", "jobs")


def group_counters(lines):
    """Spark event-log lines -> {job group: {counter: value}}. A stage is
    attributed to the group of the first job that lists it."""
    stage_group, jobs = {}, Counter()
    acc = defaultdict(lambda: defaultdict(float))
    durations = defaultdict(list)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
            jobs[group] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "-")
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            a = acc[group]
            a["task_cpu_s"] += (m.get("Executor CPU Time", 0) +
                                m.get("Executor Deserialize CPU Time", 0)) / 1e9
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["tasks"] += 1
            if info.get("Finish Time") and info.get("Launch Time"):
                durations[group].append(info["Finish Time"] - info["Launch Time"])
    out = {}
    for group in set(acc) | set(jobs):
        c = {k: float(acc[group].get(k, 0.0)) for k in COUNTERS}
        d = durations.get(group, [])
        c["max_task_ms"] = float(max(d)) if d else 0.0
        c["median_task_ms"] = float(statistics.median(d)) if d else 0.0
        c["jobs"] = float(jobs[group])
        out[group] = c
    return out


def spread(values):
    """(median, q1, q3, n) of a sample; quartiles as statistics.quantiles."""
    v = sorted(values)
    if len(v) < 2:
        return v[0], v[0], v[0], len(v)
    q1, _, q3 = statistics.quantiles(v, n=4)
    return statistics.median(v), q1, q3, len(v)
