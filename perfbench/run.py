#!/usr/bin/env python3
"""Benchmark of the graft engine, measured from outside.

    python3 perfbench/run.py --workload ingest_fallback --seed 1 --seconds 20 --trace 0

Builds the engine from source (perfbench/build.py), then runs the
workload in a fresh JVM: set-up, warm-up ops, and a timed closed loop
with one client for --seconds. Prints a report, then as the
last line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics of BENCHMARK.json with --trace 0,
its per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
WORKLOADS = ("ingest_fallback", "curate_dedup", "table_commits")
JVM_TIMEOUT_S = 160

# what spark-submit would add on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(cp, args, work, seconds, trace):
    """One process: set-up, warm-ups, timed loop. Returns its result
    with `setup_s` measured from the process launch."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(seconds), "--trace", str(trace),
            "--slots", str(args.slots), "--work", work, "--result", result]
    launch = time.time()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"the benchmark JVM ran past {JVM_TIMEOUT_S} s")
    finally:
        # on every way out, including an interrupt or SIGTERM
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.isfile(result):
        raise RuntimeError(f"the benchmark JVM exited with {code}")
    with open(result) as fh:
        res = json.load(fh)
    res["setup_s"] = res["first_op_epoch_ms"] / 1000.0 - launch
    return res


def end_to_end(r):
    """End-to-end metrics of one process from its timed ops, and the
    wall-clock figures that go in the report only (see README.md)."""
    ok = [i for i, good in enumerate(r["op_ok"]) if good]
    done = r["attempted"] - r["failed"]
    e2e = {
        "setup_s": r["setup_s"],
        "records_per_cpu_s": r["units"] / (sum(r["op_cpu_ms"]) / 1000.0),
        "op_cpu_p50_ms": statistics.median(r["op_cpu_ms"][i] for i in ok),
        "op_success_ratio": done / r["attempted"],
        "result_match_ratio": r["matched"] / max(done, 1),
    }
    wall_ms = [r["op_ms"][i] for i in ok]
    wall = {
        "records_per_s": r["units"] / (sum(r["op_ms"]) / 1000.0),
        "op_p50_ms": statistics.median(wall_ms),
    }
    if len(wall_ms) >= 100:
        wall["op_p90_ms"] = statistics.quantiles(wall_ms, n=10)[-1]
    return e2e, wall, len(ok)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--slots", type=int, default=3, help="Spark task slots (local[N])")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("[perfbench] terminated"))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    try:
        r = run_jvm(cp, args, work, args.seconds, args.trace)
        if args.trace:
            traces = os.path.join(HERE, ".work", "traces")
            os.makedirs(traces, exist_ok=True)
            dest = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
            shutil.move(os.path.join(work, "trace.jsonl"), dest)
            print(f"[perfbench] spans written to {os.path.relpath(dest, ROOT)}", file=sys.stderr)
    except RuntimeError as e:
        sys.exit(f"[perfbench] {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, wall, n_ops = end_to_end(r)
    correct = r["repeat_ok"] and r["failed"] == 0 and e2e["result_match_ratio"] == 1.0

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"workload {args.workload}  seed {args.seed}  slots {args.slots}  "
          f"timed ops {n_ops}  trace {args.trace}")
    for name, v in e2e.items():
        print(f"  {name:<34} {v:.6g} {units[name]}")
    for name, v in wall.items():
        print(f"  {name:<34} {v:.6g} {'1/s' if name == 'records_per_s' else 'ms'}  (wall clock)")
    for name, v in {**r["health"], **r["layers"]}.items():
        unit = units.get(name, "ms" if name.endswith("_ms") else "count")
        print(f"  {name:<34} {v if v is None else format(v, '.6g')} {unit}")
    if not r["repeat_ok"]:
        sys.exit("[perfbench] identical ops ran different jobs, tasks or counts: "
                 f"{r['drifting_counts']}; see stderr")

    if args.trace:
        merged = {**r["health"], **r["layers"]}
        chosen = spec["per_layer"]
    else:
        merged = e2e
        chosen = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(merged.get(m["name"], 0.0) or 0.0), "unit": m["unit"]}
               for m in chosen}
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
