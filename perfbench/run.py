#!/usr/bin/env python3
"""Benchmark of the telemetry datalake: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness (sbt,
offline) together with the library sources under src/main/scala; later
runs reuse the build while the sources are unchanged. Each run stages
its inputs from the seed, starts one JVM that drives the library through
its public functions, checks the outputs, and prints one JSON object as
the last line of standard output. With --trace 0 it holds the end-to-end
metrics, with --trace 1 the per-layer metrics (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen    # noqa: E402
import stats  # noqa: E402

LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 175

# Sizes and rates; README.md ("Traffic shape") gives the basis of each.
TRICKLE_INTERVAL_MS = 6000
SLICE_EVENTS = gen.PROFILE["events"] // 64   # the sizing run's 64-trigger split
BACKLOG_EVENTS = 2 * gen.PROFILE["events"]   # one file, drained in one trigger
WRITER_INTERVAL_MS = 4000
UPDATE_EVENTS = 20
READ_ZIPF_S = 1.0
LATENESS_LIMIT_MS = 500


def plan(workload, seconds):
    """(generator plan, conf.properties for the JVM) of one run."""
    if workload == "ingest":
        slices = max(3, int(seconds * 1000 // TRICKLE_INTERVAL_MS)) + 1
        return ({"warm_files": 1, "warm_events": SLICE_EVENTS,
                 "backlog_files": 1, "backlog_events": BACKLOG_EVENTS,
                 "slices": slices, "slice_events": SLICE_EVENTS},
                {"interval_ms": TRICKLE_INTERVAL_MS, "trigger_ms": 100,
                 "lateness_limit_ms": LATENESS_LIMIT_MS})
    if workload == "serve_reads":
        updates = int(seconds * 1000 // WRITER_INTERVAL_MS) + 6
        return ({"base_files": 1, "base_events": 6000,
                 "update_files": updates, "update_events": UPDATE_EVENTS},
                {"writer_interval_ms": WRITER_INTERVAL_MS,
                 "update_events": UPDATE_EVENTS, "zipf_s": READ_ZIPF_S,
                 "lateness_limit_ms": LATENESS_LIMIT_MS})
    raise SystemExit("unknown workload: %s" % workload)


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def build():
    """Compile the harness with the library sources; returns the runtime
    classpath. Skipped when the sources hash to the last build's stamp."""
    if not os.path.isdir(LIB_SRC):
        fail("library sources not found at %s" % LIB_SRC)
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, names in sorted(os.walk(base)):
            if os.path.basename(d) == "target":
                continue
            for n in sorted(names):
                if n.endswith((".scala", ".properties", ".sbt")):
                    p = os.path.join(d, n)
                    h.update(p.encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    for build_file in (os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")):
        with open(build_file, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=%s -Dsbt.offline=true -Xmx2g"
        % os.path.expanduser("~/.sbt/repositories"))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as g:
        return g.read().strip()


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(cp, workload, seed, seconds, trace, work, started):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
            str(trace), work]
    budget = DEADLINE_S - (time.time() - started)
    if budget < 20:
        fail("no time left to run the workload")
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("workload exceeded the time limit")
    if rc != 0:
        fail("workload JVM exited with code %d" % rc)
    with open(os.path.join(work, "jvm_result.json")) as f:
        return json.load(f)


def end_to_end(workload, j):
    """The four end-to-end metrics every workload reports."""
    s, sc = j["samples"], j["scalars"]
    setup = sc["session_s"] + stats.median(s["prep_s"]) + sc.get("once_s", 0.0)
    if workload == "ingest":
        lat = stats.median(s["freshness_ms"])
        thr = sc["backlog_events"] / (s["drain_ms"][0] / 1000)
        cpu = sc["cpu_ms"] / (sc["events"] / 1000)
    else:
        lat = stats.median(s["lookup_ms"])
        thr = sc["reads"] / sc["window_s"]
        cpu = sc["cpu_ms"] / sc["reads"]
    return {"setup_s": (setup, "s"), "latency_p50_ms": (lat, "ms"),
            "throughput_per_s": (thr, "1/s"), "cpu_ms_per_unit": (cpu, "ms")}


TRACER_METRICS = [
    ("sources.latest_offset_ms", "ms"), ("sources.get_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.trigger_ms", "ms"), ("streaming.triggers", "count"),
    ("streaming.phase_share", "ratio"),
    ("streaming.state_rows", "count"), ("streaming.state_bytes", "bytes"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.late_dropped_rows", "count"),
    ("sinks.upsert_jobs", "count"), ("sinks.bytes_written_per_row", "bytes"),
    ("sinks.rows_scanned_per_row", "ratio"),
    ("spark.planning_ms", "ms"), ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.driver_gap_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"), ("spark.shuffle_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
    ("spark.task_skew", "ratio"),
    ("sources.decode_ms_per_kevent", "ms"),
    ("pipeline.silver_ms_per_kevent", "ms"),
    ("pipeline.gold_ms_per_kevent", "ms"),
    ("pipeline.rollup_ms_per_kevent", "ms"),
]
SELF_LAYERS = ["sources", "streaming", "sinks", "serve", "spark"]


def per_layer(workload, j, e2e, spans, notes):
    s, sc = j["samples"], j["scalars"]
    m = {}
    for k, (v, u) in e2e.items():
        m["trace." + k] = (v, u)

    def tail_of(key, scale=1.0):
        t = stats.tail(s.get(key, []))
        if t is None:
            notes[key + "_tail"] = "n=%d: no percentile has %d samples beyond it" % (
                len(s.get(key, [])), stats.TAIL_BEYOND)
            return 0.0
        notes[key + "_tail"] = "p%.1f of n=%d" % (t[1], t[2])
        return t[0] * scale

    ingest = workload == "ingest"
    fresh = s.get("freshness_ms", [])
    m["freshness_p50_s"] = (stats.median(fresh) / 1000, "s")
    m["freshness_tail_s"] = (tail_of("freshness_ms", 0.001), "s")
    m["events_per_s"] = (e2e["throughput_per_s"][0] if ingest else 0.0, "1/s")
    m["cpu_ms_per_kevent"] = (e2e["cpu_ms_per_unit"][0] if ingest else 0.0, "ms")
    m["lookup_p50_ms"] = (stats.median(s.get("lookup_ms", [])), "ms")
    m["lookup_tail_ms"] = (tail_of("lookup_ms"), "ms")
    m["range_p50_ms"] = (stats.median(s.get("range_ms", [])), "ms")
    m["range_tail_ms"] = (tail_of("range_ms"), "ms")
    m["reads_per_s"] = (0.0 if ingest else e2e["throughput_per_s"][0], "1/s")
    m["upsert_p50_ms"] = (stats.median(s.get("upsert_ms", [])), "ms")
    m["failed_ratio"] = (j["failed"] / max(1, j["attempted"]), "ratio")
    m["peak_heap_mb"] = (sc["peak_heap_mb"], "MB")
    for k, u in TRACER_METRICS:
        m[k] = (sc.get(k, 0.0), u)
    m["sinks.files_written"] = (stats.median(s.get("files_written", [])), "count")
    m["sinks.read_resolve_ms"] = (stats.median(s.get("resolve_ms", [])), "ms")
    m["sinks.snapshot_files"] = (sc.get("snapshot_files", 0.0), "count")
    m["jvm.gc_ms"] = (sc["gc_ms"], "ms")
    lateness = s.get("lateness_ms", [])
    m["gen.lateness_ms"] = (max(lateness) if lateness else 0.0, "ms")
    m["gen.backlog_slices_end"] = (sc.get("backlog_slices_end", 0.0), "count")
    w0, w1 = sc["window_start_ms"], sc["window_end_ms"]
    window = [x for x in spans if w0 <= x["start_ms"] <= w1]
    roots = max(1, sum(1 for x in window if not x["parent"]))
    own = stats.self_times(window)
    for layer in SELF_LAYERS:
        m["self.%s_ms" % layer] = (own.get(layer, 0.0) / roots, "ms")
    h = j["host"]
    m["host.steal_pct"] = (h.get("steal_pct", 0.0), "%")
    m["host.calib_start_s"] = (h.get("calib_start_sec", 0.0), "s")
    m["host.calib_end_s"] = (h.get("calib_end_sec", 0.0), "s")
    return m


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    gen_plan, conf = plan(a.workload, a.seconds)
    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, "%s-%d" % (a.workload, a.seed))
    summary = gen.stage(a.workload, a.seed, os.path.join(work, "input"), gen_plan)
    if "update_first_id" in summary:
        conf["update_first_id"] = summary["update_first_id"]
    with open(os.path.join(work, "conf.properties"), "w") as f:
        for k, v in sorted(conf.items()):
            f.write("%s=%s\n" % (k, v))
    j = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work, started)
    e2e = end_to_end(a.workload, j)
    notes = {}
    if a.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        metrics = per_layer(a.workload, j, e2e, spans, notes)
    else:
        metrics = e2e
    bad = [c for c in j["checks"] if not c["ok"]]
    correct = not bad and j["failed"] == 0
    print(json.dumps({"checks": j["checks"], "host": j["host"], "notes": notes}))
    out = {"correct": correct, "attempted": j["attempted"], "failed": j["failed"],
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    for k, v in out["metrics"].items():
        if isinstance(v["value"], float) and not math.isfinite(v["value"]):
            v["value"] = 0.0
    print(json.dumps(out))


if __name__ == "__main__":
    main()
