#!/usr/bin/env python3
"""Run one workload with several seeds and report, per metric, the median
and the spread (distance between the first and third quartile as a share
of the median) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py <workload> [--runs 10] [--first-seed 1] [--trace 0|1]

Each run's result line is appended to <build dir>/spread/<workload>-t<trace>.jsonl.
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    workload, runs, first, trace = a.workload, a.runs, a.first_seed, a.trace
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    out_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "spread")
    os.makedirs(out_dir, exist_ok=True)
    values = {}
    walls = []
    for seed in range(first, first + runs):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", trace], cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            continue
        walls.append(time.time() - t0)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        with open(os.path.join(out_dir, f"{workload}-t{trace}.jsonl"), "a") as f:
            f.write(json.dumps({"seed": seed, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} wall={walls[-1]:.1f}s", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in sorted(values.items()):
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q = statistics.quantiles(xs, n=4)
            spread = (q[2] - q[0]) / med
        else:
            spread = float("nan")
        b = bounds.get(k)
        print(f"{k:34s} median {med:12.4f}  spread {spread:7.3f}  bound {b}  n={len(xs)}")


if __name__ == "__main__":
    main()
