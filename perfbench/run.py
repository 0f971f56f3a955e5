#!/usr/bin/env python3
"""Stream-processor benchmark for the parking pipelines.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark (sbt, offline) into perfbench/target; later runs reuse the build
while the sources are unchanged. One JVM runs the workload (perfbench.Main)
and writes a raw record; this script turns it into metrics, prints the
workload's named metrics on one line and, as the last line, the result:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). Records and traces are
kept under .perfbench/ in the repository root.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

import benchstats as bs

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["live_alerts", "scheduled_stats", "curation_queries"]
# pipelines with per-layer metrics: the two live_alerts streams
PIPELINES = ["alert_notify", "live_view"]
STATEFUL = ["live_view"]
JOBS = ["hourly_stats", "daily_rollup", "weekly_stats"]
QUERIES = ["p37_dedup_groups", "p59_embedding_dedup_groups", "p119_pqr_recall_trained"]
# a run must end within 180 s, the first one (which builds) within 900 s
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ARCHIVE_TIMEOUT_S = 120

# Spark on JDK 17 needs these when a session is created outside
# spark-submit; the same list as the engine's build.sbt.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_fingerprint():
    """Hash of every file the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt; returns the runtime classpath
    and the class archive (None if it could not be made)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no engine sources next to the benchmark "
                         "(expected build.sbt and src/main/scala in the repository root)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("perfbench: sbt and java are required")
    stamp = os.path.join(BENCH, "target", "perfbench-build.json")
    fp = source_fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"], cached["archive"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log("building engine and benchmark (sbt)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", *opts, "export perfbench/Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if "scala-library" in l and ".jar" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {p.returncode})")
    classpath = jar_directories(lines[-1])
    archive = archive_classes(classpath)
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath, "archive": archive}, f)
    return classpath, archive


def jar_directories(classpath):
    """The classpath with its class directories packed into jars: the JVM's
    class-data sharing only takes jars."""
    out = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BENCH, "target", f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in os.walk(entry):
                    for n in sorted(names):
                        z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def archive_classes(classpath):
    """Dump the classes a Spark session loads into a shared archive, so each
    run maps them instead of loading them (start-up only: nothing measured
    runs before the session exists). Returns its path, or None."""
    archive = os.path.join(BENCH, "target", "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(WORK, "archive")
    shutil.rmtree(work, ignore_errors=True)
    cmd = jvm_command(classpath, None, work) + [f"-XX:ArchiveClassesAtExit={archive}",
                                                "perfbench.Main", "--archive", work]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True,
                           timeout=ARCHIVE_TIMEOUT_S)
        ok = p.returncode == 0 and os.path.isfile(archive)
    except subprocess.TimeoutExpired:
        ok = False
    if not ok:
        log("no class archive; runs will load classes from the jars")
    return archive if ok else None


def jvm_command(classpath, archive, work):
    """java and its options, up to the main class."""
    # a fixed heap and young generation, so the resident set follows the
    # program's live data rather than the collector's sizing decisions
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dgraft.oracle.dir={os.path.join(work, 'oracle')}"]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return cmd + ["-cp", classpath]


def run_jvm(classpath, archive, args, work):
    out = os.path.join(work, "raw.json")
    logf = os.path.join(work, "jvm.log")
    cmd = jvm_command(classpath, archive, work) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out]
    t0 = time.time()
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    log(f"workload JVM ran {time.time() - t0:.1f} s")
    if rc != 0 or not os.path.isfile(out):
        with open(logf, errors="replace") as lf:
            sys.stderr.write("".join(lf.readlines()[-60:]))
        raise SystemExit(f"perfbench: workload JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def pipeline_batches(raw, name):
    ids = {q for q, n in raw["pipelines"].items() if n == name}
    return sorted((b for b in raw["batches"] if b["query"] in ids), key=lambda b: b["start"])


def rows(raw, table, phase="measure"):
    return [r for r in raw["rows"].get(table, []) if r["phase"] == phase]


def window(raw):
    """[start, end] of the measured (traced, in a traced run) phase."""
    loops = [s for s in raw["spans"] if s["phase"] == "measure"
             and s["name"] in ("window", "cycle", "pass")]
    return min(s["start"] for s in loops), max(s["end"] for s in loops)


def live_samples(raw, phase):
    """Alert latencies and live-view (latency, events) pairs for the
    events landed in the given phase's window."""
    alerts = [a["arrival"] - a["visible"] for a in rows(raw, "alerts", phase)]
    view = pipeline_batches(raw, "live_view")
    lv = [(bs.first_batch_latency(f["visible"], view), f["events"])
          for f in rows(raw, "files", phase)]
    return alerts, [(lat, n) for lat, n in lv if lat is not None]


def burst_rates(raw):
    """Events per second at which the live view caught up with each burst:
    the burst's events over the time from its landing to the end of the
    micro-batch that took its last event."""
    view = pipeline_batches(raw, "live_view")
    rates = []
    for f in rows(raw, "files", "burst"):
        ms = bs.drain_ms(f["visible"], f["events"], view)
        if ms is not None:
            rates.append(f["events"] / (ms / 1000))
    return rates


def call_times(raw, table, phase, key=None, name=None):
    return [r["end"] - r["start"] for r in rows(raw, table, phase)
            if key is None or r[key] == name]


def end_to_end(raw, phase="measure"):
    """The five end-to-end metrics every workload reports, and the
    workload's own named metrics, over one measured phase."""
    w = raw["workload"]
    named = {}
    if w == "live_alerts":
        alerts, lv = live_samples(raw, phase)
        p50, p99 = bs.percentile(alerts, 50), bs.percentile(alerts, 99)
        rates = burst_rates(raw)
        rate = bs.percentile(rates, 50)
        named.update(alert_latency_p50_ms=(p50, "ms"), alert_latency_p99_ms=(p99, "ms"),
                     live_view_latency_p50_ms=(bs.weighted_percentile(lv, 50), "ms"),
                     live_view_latency_p99_ms=(bs.weighted_percentile(lv, 99), "ms"),
                     live_view_samples=(sum(n for _, n in lv), "count"),
                     burst_samples=(len(rates), "count"))
        n = len(alerts)
    else:
        # closed loops: one latency sample per job call or query call
        table, key, names = {"scheduled_stats": ("job_calls", "job", JOBS),
                             "curation_queries": ("query_calls", "query", QUERIES)}[w]
        times = call_times(raw, table, phase)
        p50, p99 = bs.percentile(times, 50), bs.percentile(times, 99)
        n = len(times)
        if w == "scheduled_stats":
            for j in JOBS:
                named[f"{j.split('_')[0]}_job_ms"] = (
                    bs.percentile(call_times(raw, table, phase, key, j), 50), "ms")
            # input rows aggregated per second of job time
            rate = raw["values"]["stats_events"] * n / (sum(times) / 1000)
        else:
            named["curation_pass_s"] = (bs.percentile(call_times(raw, "passes", phase), 50)
                                        / 1000, "s")
            rate = n / (sum(times) / 1000)
    metrics = {
        "setup_s": (bs.percentile(raw["setup_s"], 50), "s"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024, "MB"),
        "latency_p50_ms": (p50, "ms"),
        "latency_p99_ms": (p99, "ms"),
        "throughput_per_s": (rate, "1/s"),
    }
    named["latency_samples"] = (n, "count")
    named["host_steal_frac"] = (raw["values"].get("host_steal_frac", 0.0), "frac")
    named["failed_frac"] = (raw["failed"] / max(1, raw["attempted"]), "frac")
    return metrics, named


def med(xs):
    v = bs.percentile(xs, 50)
    return 0.0 if v is None else v


def per_layer(raw):
    """Per-layer metrics over the measured window; 0 where the workload does
    not run that layer."""
    m = {}
    jobs_by_parent = {}
    for j in raw["jobs"]:
        jobs_by_parent.setdefault(j["parent"], []).append(j)
    stages = {s["id"]: s for s in raw["stages"]}

    def ran(job_list):
        return [stages[i] for j in job_list for i in j["stages"]
                if i in stages and stages[i]["tasks"] > 0]

    def batch_jobs(b):
        return jobs_by_parent.get(f"batch:{b['query']}:{b['batch']}", [])

    lo, hi = window(raw)
    batches = {p: [b for b in pipeline_batches(raw, p) if lo <= b["start"] <= hi]
               for p in PIPELINES}
    all_batches = [b for p in PIPELINES for b in batches[p]]
    m["sources.latest_offset_ms_p50"] = (med([b["durations"].get("latestOffset", 0)
                                              for b in all_batches]), "ms")
    m["sources.get_batch_ms_p50"] = (med([b["durations"].get("getBatch", 0)
                                          for b in all_batches]), "ms")
    m["sources.input_bytes_per_batch"] = (
        med([sum(s["input_bytes"] for s in ran(batch_jobs(b))) for b in all_batches]), "bytes")
    for p in PIPELINES:
        bt = batches[p]
        pre = f"streaming.{p}."
        d = lambda k: med([b["durations"].get(k, 0) for b in bt])
        m[pre + "batches"] = (len(bt), "count")
        m[pre + "rows_per_batch_p50"] = (med([b["rows"] for b in bt]), "count")
        m[pre + "trigger_ms_p50"] = (d("triggerExecution"), "ms")
        m[pre + "add_batch_ms_p50"] = (d("addBatch"), "ms")
        m[pre + "query_planning_ms_p50"] = (d("queryPlanning"), "ms")
        m[pre + "wal_commit_ms_p50"] = (d("walCommit"), "ms")
        m[pre + "commit_offsets_ms_p50"] = (d("commitOffsets"), "ms")
        m[pre + "spark_jobs_per_batch"] = (med([len(batch_jobs(b)) for b in bt]), "count")
        m[pre + "shuffle_bytes_per_batch"] = (
            med([sum(s["shuffle_bytes"] for s in ran(batch_jobs(b))) for b in bt]), "bytes")
        if p in STATEFUL:
            m[pre + "state_rows"] = (max([b["state_rows"] for b in bt], default=0), "count")
            m[pre + "state_memory_bytes"] = (max([b["state_mem"] for b in bt], default=0), "bytes")
            m[pre + "state_commit_ms_p50"] = (med([b["state_commit_ms"] for b in bt]), "ms")
    us = raw["sink_us"]
    conns = raw["values"].get("resp_connections", 0)
    m["sinks.resp.puts"] = (len(us["resp"]), "count")
    m["sinks.resp.connections"] = (conns, "count")
    m["sinks.resp.puts_per_connection"] = (len(us["resp"]) / conns if conns else 0, "count")
    m["sinks.resp.put_us_p50"] = (med(us["resp"]), "us")
    m["sinks.webhook.posts"] = (len(us["webhook"]), "count")
    m["sinks.webhook.connections"] = (raw["values"].get("webhook_connections", 0), "count")
    m["sinks.webhook.notify_ms_p50"] = (med(us["webhook"]) / 1000, "ms")
    m["sinks.ts.adds"] = (len(us["ts"]), "count")

    def call_metrics(prefix, rows, key, names, fields):
        for n in names:
            calls = [r for r in rows if r[key] == n]
            per = [(r["end"] - r["start"], jobs_by_parent.get(r["tag"], [])) for r in calls]
            def task_skew(js):
                st = [s for s in ran(js) if s["task_p50_ms"] > 0]
                return max([s["task_p99_ms"] / s["task_p50_ms"] for s in st], default=0)
            vals = {
                "ms": med([t for t, _ in per]),
                "task_p99_over_p50": med([task_skew(js) for _, js in per]),
                "spill_bytes": med([sum(s["spill_bytes"] for s in ran(js)) for _, js in per]),
                "spark_jobs": med([len(js) for _, js in per]),
                "stages": med([len(ran(js)) for _, js in per]),
                "tasks": med([sum(s["tasks"] for s in ran(js)) for _, js in per]),
                "scan_bytes": med([sum(s["input_bytes"] for s in ran(js)) for _, js in per]),
                "shuffle_bytes": med([sum(s["shuffle_bytes"] for s in ran(js)) for _, js in per]),
            }
            units = {"ms": "ms", "scan_bytes": "bytes", "shuffle_bytes": "bytes",
                     "spill_bytes": "bytes", "task_p99_over_p50": "ratio"}
            for f in fields:
                m[f"{prefix}.{n}.{f}"] = (vals[f], units.get(f, "count"))

    call_metrics("jobs", rows(raw, "job_calls"), "job", JOBS,
                 ["ms", "spark_jobs", "stages", "tasks", "scan_bytes", "shuffle_bytes"])
    call_metrics("ops", rows(raw, "query_calls"), "query", QUERIES,
                 ["ms", "spark_jobs", "stages", "task_p99_over_p50", "shuffle_bytes",
                  "spill_bytes"])

    files = rows(raw, "files")
    late = bs.lateness(files)
    m["gen.lateness_ms_p99"] = (bs.percentile(late, 99) or 0, "ms")
    m["gen.lateness_ms_max"] = (max(late, default=0), "ms")
    # events landed but not yet through the live view, sampled at each file
    # landing: equal halves mean the stream keeps up with the offered rate
    view = pipeline_batches(raw, "live_view")
    backlog = bs.backlog_at([f["visible"] for f in files], raw["rows"].get("files", []), view)
    half = len(backlog) // 2
    m["live.backlog_events_p50_first_half"] = (med(backlog[:half]), "count")
    m["live.backlog_events_p50_second_half"] = (med(backlog[half:]), "count")
    return m


# ------------------------------------------------------------------ trace

# The order in which a micro-batch runs its phases; the progress report
# gives only their durations, so the trace lays them out in this order.
BATCH_PHASES = [("latestOffset", "sources"), ("walCommit", "streaming"),
                ("getBatch", "sources"), ("queryPlanning", "streaming"),
                ("addBatch", "streaming"), ("commitOffsets", "streaming")]


def trace_spans(raw):
    """The traced phase as one span tree: workload -> pass, cycle or window
    -> job call, query or micro-batch (and its phases) -> Spark job ->
    stage, with sink calls under the stage, job or batch they ran in."""
    start, end = window(raw)
    inside = lambda s: start <= s["start"] <= end
    spans = [{"id": "workload", "name": raw["workload"], "layer": "bench", "parent": None,
              "start": start, "end": end}]
    spans += [dict(s) for s in raw["spans"] if s["traced"] and inside(s)]
    owners = [s for s in spans if s["name"] == "window"]

    add_batch = {}
    for b in raw["batches"]:
        if not inside(b):
            continue
        bid = f"batch:{b['query']}:{b['batch']}"
        pipe = raw["pipelines"].get(b["query"], "?")
        owner = next((s["id"] for s in owners if s["start"] <= b["start"] <= s["end"]),
                     "workload")
        spans.append({"id": bid, "name": f"batch:{pipe}", "layer": "streaming",
                      "parent": owner, "start": b["start"], "end": bs.batch_end(b)})
        at = b["start"]
        for phase, layer in BATCH_PHASES:
            dur = b["durations"].get(phase, 0)
            spans.append({"id": f"{bid}:{phase}", "name": phase, "layer": layer,
                          "parent": bid, "start": at, "end": at + dur})
            at += dur
        add_batch[bid] = f"{bid}:addBatch"

    ids = {s["id"] for s in spans}
    jobs_of, stage_owner = {}, {}
    for j in raw["jobs"]:
        parent = add_batch.get(j["parent"], j["parent"])
        if inside(j) and j["end"] is not None and parent in ids:
            span = {"id": f"job:{j['id']}", "name": "spark_job", "layer": "spark",
                    "parent": parent, "start": j["start"], "end": j["end"]}
            spans.append(span)
            jobs_of.setdefault(j["parent"], []).append(span)
            for sid in j["stages"]:
                stage_owner.setdefault(sid, span["id"])
    stages_of = {}
    for s in raw["stages"]:
        if s["id"] in stage_owner and s["tasks"] > 0 and s["start"] is not None:
            span = {"id": f"stage:{s['id']}", "name": "stage", "layer": "spark",
                    "parent": stage_owner[s["id"]], "start": s["start"], "end": s["end"]}
            spans.append(span)
            stages_of.setdefault(span["parent"], []).append(span)

    ids = {s["id"] for s in spans}
    covers = lambda s, t: s["start"] <= t <= s["end"]
    for i, c in enumerate(raw["sink_calls"]):
        home = add_batch.get(c["parent"], c["parent"])
        job = next((j for j in jobs_of.get(c["parent"], []) if covers(j, c["start"])), None)
        if job:
            stage = next((s for s in stages_of.get(job["id"], []) if covers(s, c["start"])), job)
            home = stage["id"]
        if home in ids:
            spans.append({"id": f"sink:{i}", "name": c["kind"], "layer": "sinks",
                          "parent": home, "start": c["start"], "end": c["end"]})
    return spans


def trace_metrics(raw, spans):
    """Self time per layer, and the tracing overhead: the traced phase's
    median latency against the untraced phase run just before it in the
    same JVM."""
    layers = bs.layer_self_times(spans)
    m = {f"self_ms.{l}": (layers.get(l, 0.0), "ms")
         for l in ("bench", "sources", "streaming", "spark", "sinks", "jobs", "ops")}
    traced = end_to_end(raw, "measure")[0]["latency_p50_ms"][0]
    untraced = end_to_end(raw, "baseline")[0]["latency_p50_ms"][0]
    m["trace.overhead_frac"] = (traced / untraced - 1, "frac")
    return m, {"spans": len(spans)}


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath, archive = build()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = run_jvm(classpath, archive, args, work)

    e2e, named = end_to_end(raw)
    correct = raw["failed"] == 0 and not raw["errors"]
    problems = [p for p in (check_fingerprints(raw, args.seed), check_bursts(raw)) if p]
    raw["errors"] += problems
    correct = correct and not problems
    for e in raw["errors"]:
        log(f"check failed: {e}")

    if args.trace:
        spans = trace_spans(raw)
        metrics = per_layer(raw)
        tm, counts = trace_metrics(raw, spans)
        metrics.update(tm)
        named.update(("trace_" + k, (v, "count")) for k, v in counts.items())
    else:
        spans, metrics = None, e2e
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    named = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "knobs": dict(raw["knobs"], class_archive=archive is not None),
              "sample_counts": {"latency": named["latency_samples"]["value"],
                                "setups": len(raw["setup_s"])},
              "setup_s": raw["setup_s"], "named": named, "metrics": metrics,
              "errors": raw["errors"], "attempted": raw["attempted"], "failed": raw["failed"]}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    stem = os.path.join(WORK, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if spans is not None:
        with open(stem + ".spans.json", "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": spans}, f)

    print("named: " + json.dumps(named))
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"] + len(problems),
                      "metrics": metrics}))


def check_bursts(raw):
    """Every catch-up burst must be found in the live view's progress
    reports, or the throughput would rest on fewer of them."""
    missing = len(rows(raw, "files", "burst")) - len(burst_rates(raw))
    return f"{missing} bursts not found in the live view's micro-batches" if missing else None


def check_fingerprints(raw, seed):
    """Curation results must match across runs with the same seed: keep the
    first run's (rows, hash) per query and compare later runs with it."""
    fps = raw["rows"].get("fingerprints")
    if not fps:
        return None
    inputs = hashlib.sha256(raw["values"]["inputs"].encode()).hexdigest()[:12]
    path = os.path.join(WORK, "fingerprints", f"curation-seed{seed}-{inputs}.json")
    now = {r["query"]: [r["rows"], r["hash"]] for r in fps}
    if os.path.isfile(path):
        with open(path) as f:
            before = json.load(f)
        bad = [q for q in now if q in before and before[q] != now[q]]
        if bad:
            return f"results differ from an earlier run with seed {seed}: {', '.join(bad)}"
        return None
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(now, f)
    return None


if __name__ == "__main__":
    main()
