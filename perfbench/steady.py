#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report, per metric, the
median and the spread (inter-quartile range over the median), the figure
the bounds in BENCHMARK.json are judged against.

    python3 perfbench/steady.py --workload ingest --seeds 1-10 [--trace 1] [--set a]
    python3 perfbench/steady.py --workload ingest --compare a b
    python3 perfbench/steady.py --workload ingest --overhead [--set a]

Run from the root of a checkout. Each run's last stdout line is appended
to perfbench/.work-steady/<workload>-trace<0|1>[-<set>].jsonl as well.
`--compare` reads two such untraced sets and prints, per end-to-end
metric, how far the second set's median is from the first's, against the
metric's bound. `--overhead` compares the traced runs logged without a set
name with the untraced runs of `--set`.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += range(int(a), int(b or a) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--set", default="", help="name of the log to append to")
    ap.add_argument("--compare", nargs=2, metavar=("SET1", "SET2"),
                    help="run nothing; compare two logged untraced sets")
    ap.add_argument("--overhead", action="store_true",
                    help="run nothing; compare the logged traced and "
                         "untraced runs of the workload")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    secs = bench["run_seconds"]
    log_dir = os.path.join(HERE, ".work-steady")
    os.makedirs(log_dir, exist_ok=True)
    if a.overhead:
        return overhead(log_dir, a.workload, bench, a.set)
    if a.compare:
        return compare(log_dir, a.workload, bench, *a.compare)
    log = log_path(log_dir, a.workload, a.trace, a.set)
    values = {}
    for s in seeds(a.seeds):
        t = time.time()
        p = subprocess.run(bench["command"] + [
            "--workload", a.workload, "--seed", str(s), "--seconds", str(secs),
            "--trace", str(a.trace)], stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print("seed %d: exit %d, no result" % (s, p.returncode), flush=True)
            continue
        with open(log, "a") as f:
            f.write(lines[-1] + "\n")
        out = json.loads(lines[-1])
        host = json.loads(lines[-2]).get("host", {}) if len(lines) > 1 else {}
        print("seed %d: %.0f s correct=%s attempted=%d failed=%d %s host=%s" % (
            s, time.time() - t, out["correct"], out["attempted"], out["failed"],
            {k: round(v["value"], 3) for k, v in out["metrics"].items()}, host),
            flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, v in values.items():
        med = stats.median(v)
        sp = stats.spread(v) if len(v) >= 2 and med else 0.0
        b = bounds.get(k)
        print("%-32s median %12.4f spread %.4f%s" % (
            k, med, sp, "" if b is None else "  (bound %.2f, bound/3 %.4f)" % (b, b / 3)))


def log_path(log_dir, workload, trace, name=""):
    return os.path.join(log_dir, "%s-trace%d%s.jsonl" % (
        workload, trace, "-" + name if name else ""))


def medians(log_dir, workload, bench, trace, name=""):
    """Median of each end-to-end metric over one logged set, and the
    number of runs in it."""
    prefix = "trace." if trace else ""
    with open(log_path(log_dir, workload, trace, name)) as f:
        runs = [json.loads(line)["metrics"] for line in f if line.strip()]
    return {m["name"]: stats.median([r[prefix + m["name"]]["value"] for r in runs])
            for m in bench["end_to_end"]}, len(runs)


def compare(log_dir, workload, bench, first, second):
    """Second set's median against the first's, as a share of the first,
    in the direction the metric gets worse."""
    m1, n1 = medians(log_dir, workload, bench, 0, first)
    m2, n2 = medians(log_dir, workload, bench, 0, second)
    print("%s: set %s (%d runs) vs set %s (%d runs)" % (workload, first, n1, second, n2))
    for m in bench["end_to_end"]:
        k = m["name"]
        worse = (m2[k] - m1[k]) / m1[k] * (1 if m["better"] == "lower" else -1)
        print("%-20s %12.4f %12.4f worse by %+.3f (bound %.2f) %s" % (
            k, m1[k], m2[k], worse, m["bound"], "ok" if worse <= m["bound"] else "OUT"))


def overhead(log_dir, workload, bench, name):
    """Tracing overhead: median traced end-to-end value minus median
    untraced value, from the logged runs of one workload."""
    plain, n0 = medians(log_dir, workload, bench, 0, name)
    traced, n1 = medians(log_dir, workload, bench, 1)
    print("%s: %d untraced, %d traced runs" % (workload, n0, n1))
    for k in plain:
        print("%-20s untraced %12.4f traced %12.4f overhead %+12.4f (%+.1f %%)" % (
            k, plain[k], traced[k], traced[k] - plain[k],
            100 * (traced[k] - plain[k]) / plain[k] if plain[k] else 0.0))


if __name__ == "__main__":
    main()
