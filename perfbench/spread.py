#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

Usage (from the repository root):

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds N] [--trace 0|1] [--out FILE]

Runs perfbench/run.py once per seed and prints, for every metric, the
median, the quartiles (statistics.quantiles(n=4)) and the spread
(Q3 - Q1) / median, next to the metric's bound from BENCHMARK.json.
Each run's record and result lines are appended to --out as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    seconds = a.seconds or bench["run_seconds"]
    values, walls = {}, []
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}", flush=True)
            continue
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        if a.out:
            rec = json.loads(lines[-2])["run"] if len(lines) > 1 else {}
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed, "wall_s": walls[-1],
                                     "run": rec, "result": res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} wall={walls[-1]:.0f}s", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:34} {med:12.4g} {q1:12.4g} {q3:12.4g} {spread:7.3f} {'' if b is None else b:>6}")
    print(f"runs: {len(walls)}, wall per run: median {statistics.median(walls):.0f} s, max {max(walls):.0f} s")


if __name__ == "__main__":
    main()
