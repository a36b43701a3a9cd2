#!/usr/bin/env python3
"""dedupspark benchmark: the `dedup.Pipeline` CLI on seeded crawl workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program is compiled from
`src/main/scala` into `.bench_build/` (reused while the sources are
unchanged), the workload's page table is generated from the seed (cached by
workload, seed and size), and then:

  --trace 0  launches the CLI through `spark-submit` on local[4] as a fresh
             process, again and again until --seconds have passed (at least
             once), with the output root removed before every run. Each run
             is checked (see `check_run`) and its host state recorded
             (/proc/stat steal share, load average). Prints the end-to-end
             metrics as medians.
  --trace 1  runs the traced driver (perfbench/trace/Trace.scala) once on
             the same inputs and config, checks its outputs like a CLI run's,
             and prints the per-layer metrics from its spans and the Spark
             event log. One untraced CLI run follows when this build has
             none recorded yet (the reference for trace.overhead_s).

The last stdout line is one JSON object: correct, attempted, failed, metrics.
`attempted`/`failed` count runs; a run that exits non-zero or fails a check
counts as failed and makes `correct` false. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import zipfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)
import analysis  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
MASTER = "local[4]"
DRIVER_MEM = "3g"
# seconds after the build within which every Spark application ends (it is
# killed otherwise), so that one invocation ends within 180 s
RUN_BUDGET_S = 165
deadline = float("inf")
# reference flagship config (threshold 0.7, ngram 5, num_perm 250, salt 16)
FLAGSHIP = ["--threshold", "0.7", "--ngram", "5", "--num-perm", "250", "--salt", "16"]
WORKLOADS = {
    # name: (docs in the --input table, extra CLI flags)
    "crawl_mixed": (16000, []),
    "boilerplate_incremental": (8000, ["--simhash", "--suffix", "--existing-fuzzy"]),
}
MIN_RECALL = 0.99
SUMMARY_RE = re.compile(r"docs=(\d+) kept=(\d+) removed=(\d+) .*wall=([0-9.]+)s")


def java_env(tmp, **extra):
    """Environment for every JVM the benchmark starts: temp files under
    `tmp` and no /tmp/hsperfdata, so nothing is written outside the checkout."""
    os.makedirs(tmp, exist_ok=True)
    return dict(os.environ, JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}", **extra)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def spark_submit_bin():
    home = os.environ.get("SPARK_HOME")
    exe = os.path.join(home, "bin", "spark-submit") if home else shutil.which("spark-submit")
    if not exe or not os.path.exists(exe):
        fail("spark-submit not found (set SPARK_HOME)")
    return exe


def spark_jars():
    home = os.path.dirname(os.path.dirname(os.path.realpath(spark_submit_bin())))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        fail(f"no Spark jars under {home}/jars")
    return jars


def scalac(sources, classpath, out_dir):
    """Compiles with the Scala compiler that ships in the Spark distribution
    (the build's unmanaged jars; same Scala version as build.sbt)."""
    os.makedirs(out_dir, exist_ok=True)
    cp = ":".join(classpath)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-classpath", cp, "-d", out_dir] + sources,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       env=java_env(os.path.join(BUILD, "tmp")))
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])


def jar_dir(src_dir, jar_path):
    with zipfile.ZipFile(jar_path + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(src_dir)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, src_dir))
    os.replace(jar_path + ".tmp", jar_path)


def build():
    """(dedup jar, trace jar), rebuilt only when a source file changed."""
    src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not src:
        fail(f"no program sources under {ROOT}/src/main/scala")
    trace_src = sorted(glob.glob(os.path.join(HERE, "trace", "*.scala")))
    h = hashlib.sha256()
    for p in src + trace_src:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "jars", h.hexdigest()[:16])
    dedup_jar, trace_jar = os.path.join(out, "dedup.jar"), os.path.join(out, "trace.jar")
    if os.path.exists(trace_jar):
        return dedup_jar, trace_jar
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    jars = spark_jars()
    t0 = time.monotonic()
    scalac(src, jars, os.path.join(tmp, "classes"))
    jar_dir(os.path.join(tmp, "classes"), os.path.join(tmp, "dedup.jar"))
    scalac(trace_src, jars + [os.path.join(tmp, "classes")], os.path.join(tmp, "trace"))
    jar_dir(os.path.join(tmp, "trace"), os.path.join(tmp, "trace.jar"))
    shutil.rmtree(os.path.join(tmp, "classes"))
    shutil.rmtree(os.path.join(tmp, "trace"))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    print(f"built {out} in {time.monotonic() - t0:.1f}s", file=sys.stderr)
    return dedup_jar, trace_jar


# ---------------------------------------------------------------- runs

def proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def load_avg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def dir_bytes(path):
    total, files = 0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += f.endswith(".parquet")
    return total, files


def kill_group(pgid):
    """SIGKILLs a process group and waits until none of its processes is left."""
    for _ in range(100):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def spark_submit(main_class, jars, app_args, run_dir, conf=()):
    """Launches one Spark application as a fresh process and waits for it.
    Returns (exit code, wall s, cpu s, peak rss MB, stdout, host state)."""
    tmp = os.path.join(run_dir, "tmp")
    cmd = [spark_submit_bin(), "--master", MASTER, "--driver-memory", DRIVER_MEM,
           "--conf", "spark.ui.enabled=false",
           "--conf", f"spark.local.dir={tmp}",
           "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
    for c in conf:
        cmd += ["--conf", c]
    cmd += ["--class", main_class]
    if len(jars) > 1:
        cmd += ["--jars", ",".join(jars[1:])]
    cmd += [jars[0]] + app_args
    env = java_env(tmp, SPARK_LOCAL_DIRS=tmp)
    stdout_path = os.path.join(run_dir, "stdout.log")
    with open(stdout_path, "w") as so, open(os.path.join(run_dir, "stderr.log"), "w") as se:
        total0, steal0 = proc_stat()
        load0 = load_avg()
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=so, stderr=se, env=env,
                             start_new_session=True)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()),
                                os.killpg, [p.pid, signal.SIGKILL])
        timer.start()
        try:
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        wall = time.monotonic() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
        total1, steal1 = proc_stat()
    kill_group(p.pid)  # anything the application left in its session
    with open(stdout_path) as f:
        stdout = f.read()
    host = {"steal": (steal1 - steal0) / max(1, total1 - total0), "loadavg_1m": load0}
    return p.returncode, wall, ru.ru_utime + ru.ru_stime, ru.ru_maxrss / 1024.0, stdout, host


def cli_args(workload, data, out):
    flags = WORKLOADS[workload][1]
    args = ["--input", os.path.join(data, "input"), "--output", out] + FLAGSHIP
    if "--existing-fuzzy" in flags:
        args += ["--existing", os.path.join(data, "corpus")]
    return args + flags


def check_run(data, out, summary, state_key):
    """Output checks of one run; `summary` is the CLI's printed counts, or
    None for the traced driver. Returns (problems, pair_recall)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    pq = lambda stage: f"read_parquet('{out}/{stage}/data/**/*.parquet', hive_partitioning=true)"
    con.execute(f"CREATE VIEW inp AS SELECT * FROM read_parquet('{data}/input/*.parquet')")
    con.execute(f"CREATE VIEW ids AS SELECT id, url FROM {pq('ids')}")
    con.execute(f"CREATE VIEW asg AS SELECT id, component FROM {pq('assignments')}")
    con.execute(f"CREATE VIEW kept AS SELECT url, warc_ts, html, text, lang FROM {pq('kept')}")
    con.execute(f"CREATE VIEW truth AS SELECT * FROM read_parquet('{data}/truth.parquet')")
    problems = []
    docs = con.execute("SELECT count(*) FROM ids").fetchone()[0]
    kept, kept_urls = con.execute("SELECT count(*), count(DISTINCT url) FROM kept").fetchone()
    removed = con.execute("SELECT count(*) FROM asg WHERE id <> component").fetchone()[0]
    if kept + removed != docs:
        problems.append(f"kept {kept} + removed {removed} != docs {docs}")
    if summary and (summary["docs"], summary["kept"], summary["removed"]) != (docs, kept, removed):
        problems.append(f"CLI summary {summary} disagrees with outputs "
                        f"docs={docs} kept={kept} removed={removed}")
    if kept_urls != kept:
        problems.append(f"{kept - kept_urls} duplicate urls in kept")
    bad = con.execute("""
        SELECT count(*) FROM kept k LEFT JOIN inp i ON k.url = i.url
        WHERE i.url IS NULL OR k.text IS DISTINCT FROM i.text OR k.html IS DISTINCT FROM i.html
           OR k.lang IS DISTINCT FROM i.lang
           OR epoch_us(k.warc_ts) IS DISTINCT FROM epoch_us(i.warc_ts)""").fetchone()[0]
    if bad:
        problems.append(f"{bad} kept rows are not input rows with their payload unchanged")
    recall = analysis.pair_recall(con.execute("""
        SELECT t.grp, a.component FROM truth t
        LEFT JOIN ids ON t.url = ids.url LEFT JOIN asg a ON ids.id = a.id
        WHERE t.grp IS NOT NULL""").fetchall())
    if recall < MIN_RECALL:
        problems.append(f"pair_recall {recall:.4f} < {MIN_RECALL}")
    # twins of existing-corpus docs must be dropped before the ids stage
    twins, dropped = con.execute("""
        SELECT count(*), count(*) FILTER (WHERE ids.url IS NULL)
        FROM truth t LEFT JOIN ids ON t.url = ids.url WHERE t.twin""").fetchone()
    if twins and dropped / twins < MIN_RECALL:
        problems.append(f"twins dropped {dropped}/{twins} < {MIN_RECALL}")
    # removed must be identical in every run of this workload and input
    path = os.path.join(BUILD, "removed", state_key)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(str(removed))
    with open(path) as f:
        first = int(f.read())
    if first != removed:
        problems.append(f"removed={removed} differs from the first run's {first}")
    con.close()
    return problems, recall


def timed_run(workload, data, jar, run_dir, state_key):
    """One untraced CLI run plus its checks; returns a record dict."""
    out = os.path.join(run_dir, "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    code, wall, cpu, rss, stdout, host = spark_submit(
        "dedup.Pipeline", [jar], cli_args(workload, data, out), run_dir)
    rec = {"workload": workload, "exit": code, "wall_s": wall, "cpu_s": cpu,
           "peak_rss_mb": rss, **host}
    m = SUMMARY_RE.search(stdout)
    if code != 0 or not m:
        rec["problems"] = [f"CLI exited {code}" + ("" if m else " without a summary line")]
        return rec
    summary = dict(zip(("docs", "kept", "removed"), map(int, m.groups()[:3])))
    rec.update(summary, cli_wall_s=float(m.group(4)), setup_s=wall - float(m.group(4)),
               write_amp=dir_bytes(out)[0] / dir_bytes(os.path.join(data, "input"))[0])
    try:
        rec["problems"], rec["pair_recall"] = check_run(data, out, summary, state_key)
    except Exception as e:  # a check that cannot run is a failed check
        rec["problems"] = [f"check error: {e!r}"]
    return rec


# ---------------------------------------------------------------- trace

LAYERS = ("ids", "ids.audit", "shingles", "bands", "candidates", "verify", "simhash", "suffix",
          "cc", "cc_loop", "assign", "incr", "kept")
# per-span Spark task counters reported by layer; spill_bytes stays at zero
# on both workloads and is left out
LAYER_COUNTERS = ("task_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "gc_s", "tasks",
                  "max_task_ms")


def traced_run(workload, data, dedup_jar, trace_jar, run_dir, state_key):
    """One run of the traced driver, checked like a CLI run. Returns
    (record, (trace, counters by job group, stage bytes) or None)."""
    out = os.path.join(run_dir, "out")
    events = os.path.join(run_dir, "events")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(events)
    trace_json = os.path.join(run_dir, "trace.json")
    code, wall, cpu, rss, _, host = spark_submit(
        "perfbench.Trace", [trace_jar, dedup_jar], [trace_json] + cli_args(workload, data, out),
        run_dir, conf=["spark.eventLog.enabled=true", f"spark.eventLog.dir={events}",
                       "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"])
    rec = {"workload": workload, "traced": True, "exit": code, "wall_s": wall, "cpu_s": cpu,
           "peak_rss_mb": rss, **host}
    if code != 0 or not os.path.exists(trace_json):
        rec["problems"] = [f"traced driver exited {code}"]
        return rec, None
    try:
        rec["problems"], rec["pair_recall"] = check_run(data, out, None, state_key)
    except Exception as e:  # a check that cannot run is a failed check
        rec["problems"] = [f"check error: {e!r}"]
    with open(trace_json) as f:
        trace = json.load(f)
    lines = []
    for p in sorted(glob.glob(os.path.join(events, "*"))):
        with open(p) as f:
            lines += f.readlines()
    stage_bytes = {d: dir_bytes(os.path.join(out, d)) for d in sorted(os.listdir(out))
                   if os.path.isdir(os.path.join(out, d))}
    return rec, (trace, analysis.group_counters(lines), stage_bytes)


def layer_metrics(trace, counters, stage_bytes, untraced_cli_wall):
    spans = trace["spans"]
    c = trace["counts"]
    selft = analysis.self_times(spans)
    dur = {s["name"]: s["end_s"] - s["start_s"] for s in spans}
    self_by = {s["name"]: selft[s["id"]] for s in spans}
    root = next(s for s in spans if s["parent"] == -1)
    m = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    for layer in LAYERS:
        key = "ids.audit_s" if layer == "ids.audit" else f"{layer}.s"
        put(key, self_by.get(layer, 0.0), "s")
        if layer == "ids.audit":
            continue
        g = counters.get(layer, {})
        for k in LAYER_COUNTERS:
            put(f"{layer}.{k}", g.get(k, 0.0), "ms" if k.endswith("_ms") else
                "s" if k.endswith("_s") else "B" if k.endswith("bytes") else "count")
    ratio = lambda a, b: a / b if b else 0.0
    put("shingles.kept_ratio", ratio(c.get("shingles.rows", 0), c.get("docs", 0)), "ratio")
    put("bands.rows", c.get("bands.rows", 0), "count")
    put("candidates.edges", c.get("candidates.edges", 0), "count")
    put("candidates.max_salted_group", c.get("candidates.max_salted_group", 0), "count")
    put("candidates.median_task_ms", counters.get("candidates", {}).get("median_task_ms", 0), "ms")
    put("verify.pairs_in", c.get("candidates.edges", 0), "count")
    put("verify.pass_rate", ratio(c.get("verify.edges", 0), c.get("candidates.edges", 0)), "ratio")
    put("simhash.edges", c.get("simhash.edges", 0), "count")
    put("suffix.edges", c.get("suffix.edges", 0), "count")
    put("cc.edges_in", c.get("cc.edges_in", 0), "count")
    put("cc.components", c.get("cc.components", 0), "count")
    put("cc.largest_component", c.get("cc.largest_component", 0), "count")
    put("cc_loop.jobs", counters.get("cc_loop", {}).get("jobs", 0), "count")
    put("incr.index_rows", c.get("incr.index_rows", 0), "count")
    put("incr.prune_survival", ratio(c.get("incr.pruned_rows", 0), c.get("incr.index_rows", 0)),
        "ratio")
    put("incr.cross_pairs", c.get("incr.cross_pairs", 0), "count")
    put("incr.pass_rate", ratio(c.get("incr.cross_pairs", 0), c.get("incr.candidates", 0)), "ratio")
    ckpt = [s for s in spans if s["name"].startswith("ckpt.")]
    put("ckpt.write_s", sum(dur[s["name"]] for s in ckpt), "s")
    put("ckpt.bytes", sum(b for st, (b, _) in stage_bytes.items() if st != "kept"), "B")
    put("ckpt.files", sum(n for st, (_, n) in stage_bytes.items() if st != "kept"), "count")
    put("kept.bytes", stage_bytes.get("kept", (0, 0))[0], "B")
    wall = root["end_s"] - root["start_s"]
    put("trace.wall_s", wall, "s")
    put("trace.unattributed_s", self_by[root["name"]], "s")
    put("trace.probe_s", dur.get("probe", 0.0), "s")
    put("incr.exact_s", dur.get("incr.exact", 0.0), "s")
    # the traced driver also runs cc_loop and the probe, which the CLI does not
    put("trace.overhead_s", wall - untraced_cli_wall, "s")
    return m


# ---------------------------------------------------------------- main

def recorded_cli_walls(log, workload, build_id):
    walls = []
    if os.path.exists(log):
        with open(log) as f:
            for line in f:
                r = json.loads(line)
                if (r.get("workload"), r.get("build")) == (workload, build_id) and \
                        "cli_wall_s" in r and not r["problems"]:
                    walls.append(r["cli_wall_s"])
    return walls


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    dedup_jar, trace_jar = build()
    global deadline
    deadline = time.monotonic() + RUN_BUDGET_S
    n = WORKLOADS[a.workload][0]
    with open(gen.__file__, "rb") as f:
        gen_id = hashlib.sha256(f.read()).hexdigest()[:8]
    data = gen.generate(a.workload, a.seed, n,
                        os.path.join(BUILD, "data", f"{a.workload}-s{a.seed}-n{n}-{gen_id}"))
    build_id = os.path.basename(os.path.dirname(dedup_jar))
    state_key = f"{a.workload}-s{a.seed}-n{n}-{build_id}"
    run_dir = os.path.join(BUILD, "runs", a.workload)
    log = os.path.join(BUILD, "runs.jsonl")
    records, traced = [], None

    def record(rec):
        rec.update(run=len(records), seed=a.seed, build=build_id)
        records.append(rec)
        print(json.dumps({"run_record": rec}))
        with open(log, "a") as f:
            f.write(json.dumps(rec) + "\n")

    if a.trace:
        rec, traced = traced_run(a.workload, data, dedup_jar, trace_jar,
                                 run_dir + "-trace", state_key)
        record(rec)
        # tracing overhead is taken against the untraced runs of this build
        # and workload; one is made when there are none yet and it fits
        cli_walls = recorded_cli_walls(log, a.workload, build_id)
        if traced is not None and not cli_walls:
            if time.monotonic() + rec["wall_s"] + 10 > deadline:
                fail("no untraced run of this build recorded and no time left for one; "
                     "run --trace 0 first")
            record(timed_run(a.workload, data, dedup_jar, run_dir, state_key))
            cli_walls = recorded_cli_walls(log, a.workload, build_id)
    else:
        t_end = time.monotonic() + a.seconds
        # another run starts only if one as long as the last still fits
        while not records or (time.monotonic() < t_end and
                              time.monotonic() + records[-1]["wall_s"] + 10 < deadline):
            record(timed_run(a.workload, data, dedup_jar, run_dir, state_key))

    failed = sum(1 for r in records if r["problems"])
    ok = [r for r in records if "setup_s" in r]
    if (a.trace and (traced is None or not cli_walls)) or (not a.trace and not ok):
        fail("no run produced metrics: " + "; ".join(p for r in records for p in r["problems"]))
    if a.trace:
        metrics = layer_metrics(*traced, statistics.median(cli_walls))
    else:
        series = {
            "docs_per_s": ("docs/s", [n / r["wall_s"] for r in ok]),
            "setup_s": ("s", [r["setup_s"] for r in ok]),
            "cpu_s": ("s", [r["cpu_s"] for r in ok]),
            "peak_rss_mb": ("MB", [r["peak_rss_mb"] for r in ok]),
            "write_amp": ("ratio", [r["write_amp"] for r in ok]),
            "pair_recall": ("ratio", [r["pair_recall"] for r in ok if "pair_recall" in r]),
        }
        metrics = {}
        for name, (unit, vals) in series.items():
            if not vals:
                continue
            med, q1, q3, k = analysis.spread(vals)
            print(f"{name:12s} median {med:.4f} {unit}  q1 {q1:.4f}  q3 {q3:.4f}  n {k}")
            metrics[name] = {"value": med, "unit": unit}
    for r in records:
        for p in r["problems"]:
            print(f"check failed (run {r['run']}): {p}")
    print(json.dumps({"correct": failed == 0, "attempted": len(records), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
