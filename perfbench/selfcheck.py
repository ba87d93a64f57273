#!/usr/bin/env python3
"""Self-check: is the benchmark steady on one commit?

    python3 perfbench/selfcheck.py [--out FILE]

Runs two sets of ten untraced runs of every workload in BENCHMARK.json
on the current checkout (set A on seeds 1..10, set B on seeds
101..110), interleaving the workloads so a
phase of host load hits all of them. For every workload and end-to-end
metric it prints both medians, their quartiles, the spread (quartile
distance over the median, as statistics.quantiles(n=4) gives it), the
shift of B's median against A's in the metric's worse direction, and
the bound from BENCHMARK.json. A metric passes when both spreads
(setup_s excepted) and the shift stay within the bound. The wall-clock
op latency and throughput of each run's report are printed beside
them for comparison, without a verdict.

It then makes two traced runs per workload on one seed and checks that
the counts the benchmark promises to repeat are equal in both.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
EXACT = ["spark.jobs", "spark.tasks", "ingest.sink_bytes_per_record"]
# report lines kept beside the contract metrics: run health and wall clock
REPORTED = ("host.", "jvm.", "run.", "op_p50_ms", "records_per_s")


def run(spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not json.loads(lines[-1])["correct"]:
        tail = [l for l in p.stderr.splitlines() if "[perfbench]" in l or "Exception" in l][-8:]
        print(f"[selfcheck] FAILED: {' '.join(cmd)} (exit {p.returncode})\n  "
              + "\n  ".join(tail), file=sys.stderr, flush=True)
        return None, None
    res = json.loads(lines[-1])
    health = {}
    for line in lines[:-1]:
        f = line.split()
        if len(f) >= 2 and f[0].startswith(REPORTED):
            health[f[0]] = float(f[1])
    return {k: v["value"] for k, v in res["metrics"].items()}, health


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", help="also write the raw values here as JSON")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    sets = ["A", "B"]
    seeds = {"A": 1, "B": 101}

    values = {s: {w: {} for w in names} for s in sets}
    failures = []
    for s in sets:
        for i in range(RUNS):
            for w in names:
                m, health = run(spec, w, seeds[s] + i, 0)
                if m is None:
                    failures.append(f"set {s} {w} seed {seeds[s] + i}")
                    continue
                for k, v in {**m, **health}.items():
                    values[s][w].setdefault(k, []).append(v)
                print(f"[selfcheck] set {s} run {i + 1}/{RUNS} {w}: "
                      + "  ".join(f"{k} {v:.4g}" for k, v in {**m, **health}.items()),
                      file=sys.stderr, flush=True)

    ok = True
    print(f"{'workload':<16} {'metric':<19} {'bound':>5} | {'A median':>10} {'A q1':>10} "
          f"{'A q3':>10} {'A sprd':>6} | {'B median':>10} {'B q1':>10} {'B q3':>10} "
          f"{'B sprd':>6} | {'shift':>6} |")
    wall = [{"name": "op_p50_ms", "better": "lower"}, {"name": "records_per_s", "better": "higher"}]
    for w in names:
        for metric in spec["end_to_end"] + wall:
            name, bound = metric["name"], metric.get("bound")
            row = f"{w:<16} {name:<19} {'wall' if bound is None else f'{bound:.2f}':>5} | "
            meds, verdict = [], True
            for s in sets:
                q1, med, q3 = quartiles(values[s][w][name])
                spread = (q3 - q1) / med
                meds.append(med)
                if bound is not None and name != "setup_s" and spread > bound:
                    verdict = False
                row += f"{med:>10.5g} {q1:>10.5g} {q3:>10.5g} {spread:>6.3f} | "
            worse = meds[1] / meds[0] - 1.0
            if metric["better"] == "higher":
                worse = -worse
            row += f"{worse:>+6.3f} |"
            if bound is not None:
                verdict = verdict and worse <= bound
                ok = ok and verdict
                row += "" if verdict else "  OUT OF BOUND"
            print(row)

    print("\ncounts of two traced runs, seed 1 (must be equal):")
    for w in names:
        a, b = run(spec, w, 1, 1)[0], run(spec, w, 1, 1)[0]
        if a is None or b is None:
            failures.append(f"traced {w} seed 1")
            continue
        for name in EXACT:
            same = a[name] == b[name]
            ok = ok and same
            print(f"{w:<16} {name:<30} {a[name]:>12.6g} {b[name]:>12.6g} "
                  f"{'equal' if same else 'DIFFERENT'}")
        for name in ("spark.shuffle_write_bytes", "trace.overhead"):
            print(f"{w:<16} {name:<30} {a[name]:>12.6g} {b[name]:>12.6g}")

    for f in failures:
        print(f"failed run: {f}")
    ok = ok and not failures
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(values, fh, indent=1)
    print("\nself-check", "passed" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
