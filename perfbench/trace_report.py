#!/usr/bin/env python3
"""Traced-run report: for each workload, one untraced and one traced run
on the same seed; writes perfbench/traces/<workload>.json with the
per-layer metrics, the self time of each layer and span, and the tracing
overhead (the traced run's end-to-end metrics against the untraced ones).

    python3 perfbench/trace_report.py [--seed 7] [workload ...]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {r.returncode}\n{r.stderr[-2000:]}")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    with open(os.path.join(build_dir, "artifacts", f"{workload}-s{seed}-t{trace}.json")) as f:
        return json.loads(r.stdout.strip().splitlines()[-1]), json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    for w in names:
        plain, plain_art = run(w, a.seed, bench["run_seconds"], 0)
        traced, art = run(w, a.seed, bench["run_seconds"], 1)
        overhead = {}
        for k, v in plain["metrics"].items():
            t = art["end_to_end"].get(k)
            if t is not None and v["value"]:
                overhead[k] = {"untraced": v["value"], "traced": t,
                               "traced_over_untraced": t / v["value"]}
        share = art["trace"]["self_share_by_layer"]
        top = sorted(art["trace"]["self_ms_by_span"].items(), key=lambda kv: -kv[1])[:25]
        report = {
            "workload": w, "seed": a.seed, "run_seconds": bench["run_seconds"],
            "correct": traced["correct"] and plain["correct"],
            "attempted": traced["attempted"], "failed": traced["failed"],
            "self_share_by_layer": dict(sorted(share.items(), key=lambda kv: -kv[1])),
            "self_ms_by_layer": art["trace"]["self_ms_by_layer"],
            "top_spans_self_ms": dict(top),
            "spans": art["trace"]["spans"],
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            "tracing_overhead": overhead,
            "artifact": {k: art[k] for k in art if k not in ("trace", "per_layer", "end_to_end")},
        }
        # notes quote work-directory paths; keep the report checkout-relative
        text = json.dumps(report, indent=1).replace(ROOT + os.sep, "")
        with open(os.path.join(HERE, "traces", f"{w}.json"), "w") as f:
            f.write(text + "\n")
        print(w, json.dumps(report["self_share_by_layer"]))


if __name__ == "__main__":
    main()
