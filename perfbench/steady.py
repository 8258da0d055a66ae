#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds and report, per
workload and metric, the median and the spread (interquartile distance as
a share of the median, from statistics.quantiles(n=4)).

  python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--seconds S]
                              [--workloads export,score] [--trace 0]
                              [--json results.json]
  python3 perfbench/steady.py --compare first.json second.json

Seeds are first-seed .. first-seed+runs-1. Bounds come from
BENCHMARK.json; a spread above a third of its bound is flagged. --compare
reads two saved sets and prints each set's median and spread and how much
worse the second median is than the first, as a share of the first.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def summary(values):
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [med, med, med]
    return med, ((q[2] - q[0]) / med if med else 0.0)


def measure(a, spec, bounds):
    results = {}
    for w in a.workloads.split(","):
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds), "--trace", a.trace],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            report = json.loads(lines[-2])["report"] if len(lines) > 1 else {}
            phases = {k: round(v, 1) for k, v in report.get("phases", {}).items()}
            values = {k: round(v["value"], 4) for k, v in res["metrics"].items()} if res else None
            print(f"{w} seed={seed} exit={p.returncode} wall={wall:.1f}s passes={report.get('passes')} "
                  f"phases={phases} {values}", flush=True)
            if p.returncode != 0 or not res or not res["correct"]:
                sys.stderr.write(p.stderr[-3000:])
                raise SystemExit(f"{w} seed {seed} failed")
            runs.append({"seed": seed, "wall_s": wall, "report": report,
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
        results[w] = runs
        for m in runs[0]["metrics"]:
            med, spread = summary([r["metrics"][m] for r in runs])
            bound = bounds.get(m)
            flag = "" if bound is None or m == "setup_s" or spread < bound / 3 else "  <-- above bound/3"
            print(f"  {w:13s} {m:18s} median={med:.6g} spread={spread:.4f} bound={bound}{flag}")
        walls = [r["wall_s"] for r in runs]
        print(f"  {w:13s} wall median={statistics.median(walls):.1f}s max={max(walls):.1f}s", flush=True)
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(results, fh, indent=1)


def compare(first, second, spec):
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    with open(first) as fh:
        a = json.load(fh)
    with open(second) as fh:
        b = json.load(fh)
    print("| workload | metric | median 1 | spread 1 | median 2 | spread 2 | 2 worse by | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for w in a:
        for m in a[w][0]["metrics"]:
            m1, s1 = summary([r["metrics"][m] for r in a[w]])
            m2, s2 = summary([r["metrics"][m] for r in b[w]])
            worse = (m2 - m1) / m1 if better.get(m) == "lower" else (m1 - m2) / m1
            print(f"| {w} | {m} | {m1:.6g} | {s1:.3f} | {m2:.6g} | {s2:.3f} | {worse:+.3f} | {bounds.get(m)} |")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--json")
    ap.add_argument("--compare", nargs=2, metavar="JSON")
    a = ap.parse_args()
    if a.compare:
        compare(*a.compare, spec)
    else:
        measure(a, spec, {m["name"]: m["bound"] for m in spec["end_to_end"]})


if __name__ == "__main__":
    main()
