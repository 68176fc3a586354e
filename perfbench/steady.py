#!/usr/bin/env python3
"""Steadiness check for the benchmark.

    python3 perfbench/steady.py [--seeds 10] [--first-seed 1] [--workloads a,b]
    python3 perfbench/steady.py --trace-check 7 [--workloads a,b]

Default mode runs every workload of BENCHMARK.json once per seed
(untraced) and reports, for each end-to-end metric, the median and the
spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median, against the
metric's bound. A spread above the bound fails, and the script then
exits with code 1; one above a third of the bound is flagged as not
steady.

--trace-check SEED runs each workload twice traced and once untraced with
that seed. It reports whether the deterministic per-layer counters
(counts, bytes, ratios) repeat exactly between the two traced runs (exit
code 1 if one differs), and the tracing overhead: traced end-to-end
figures minus untraced ones.

Output goes to stdout and to .bench_out/steady-*.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DETERMINISTIC_UNITS = {"count", "bytes", "ratio"}


def run(spec, workload, seed, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    full_wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed (exit {p.returncode}):\n{p.stderr[-3000:]}")
    full, last = json.loads(lines[-2]), json.loads(lines[-1])
    if not last["correct"]:
        print(f"  {workload} seed {seed}: output check FAILED ({last['failed']}/{last['attempted']})")
    full["run_wall_s"] = full_wall
    return full, last


def spreads(spec, workloads, seeds):
    report = {}
    for w in workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in seeds:
            full, last = run(spec, w, seed, 0)
            for k in values:
                values[k].append(last["metrics"][k]["value"])
            print(f"  {w} seed {seed}: " + ", ".join(f"{k}={v[-1]:.4g}" for k, v in values.items())
                  + f", ops={last['attempted']}, run wall {full['run_wall_s']:.1f} s", flush=True)
        report[w] = {}
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            verdict = ("ok" if spread <= m["bound"] / 3 else
                       "not steady" if spread <= m["bound"] else "FAIL")
            report[w][m["name"]] = {"median": med, "spread": spread, "bound": m["bound"],
                                    "verdict": verdict, "values": xs}
            print(f"{w:16s} {m['name']:14s} median {med:10.4g}  spread {spread:6.3f}"
                  f"  bound {m['bound']:.2f}  {verdict}")
    return report


def trace_check(spec, workloads, seed):
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    report = {}
    for w in workloads:
        (a, _), (b, _) = run(spec, w, seed, 1), run(spec, w, seed, 1)
        plain, _ = run(spec, w, seed, 0)
        counters = {k: (a["per_layer"].get(k), b["per_layer"].get(k))
                    for k, u in units.items() if u in DETERMINISTIC_UNITS and k in a["per_layer"]}
        differ = {k: v for k, v in counters.items() if v[0] != v[1]}
        overhead = {k: a["end_to_end"][k] - plain["end_to_end"][k] for k in plain["end_to_end"]}
        report[w] = {"counters": counters, "differ": differ, "overhead": overhead,
                     "traced_end_to_end": a["end_to_end"], "untraced_end_to_end": plain["end_to_end"]}
        print(f"{w}: {len(counters)} deterministic counters, "
              f"{'all repeat exactly' if not differ else 'DIFFER: ' + json.dumps(differ)}")
        for k, v in overhead.items():
            print(f"  tracing overhead {k}: {v:+.4g} (untraced {plain['end_to_end'][k]:.4g})")
    return report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--trace-check", type=int, metavar="SEED")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    if a.trace_check is not None:
        report, name = trace_check(spec, workloads, a.trace_check), f"steady-trace-{a.trace_check}.json"
    else:
        seeds = range(a.first_seed, a.first_seed + a.seeds)
        report, name = spreads(spec, workloads, seeds), f"steady-{a.first_seed}x{a.seeds}.json"
    with open(os.path.join(ROOT, ".bench_out", name), "w") as f:
        json.dump(report, f, indent=1)
    if a.trace_check is not None:
        failed = any(r["differ"] for r in report.values())
    else:
        failed = any(m["verdict"] == "FAIL" for r in report.values() for m in r.values())
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
