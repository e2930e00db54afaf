#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness (perfbench/build.py) when the sources
changed, runs one workload in a fresh JVM, and prints the result as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(a separate, traced run). The run's full record (per-query times, span
self times, notes) is written to <build dir>/artifacts/.

--record-goldens re-records perfbench/goldens.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["ingest_lifecycle", "batch_suite"]
JVM_TIMEOUT_S = 165

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-goldens", action="store_true")
    a = ap.parse_args()
    if not a.workload and not a.record_goldens:
        ap.error("--workload is required")

    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    classes = build.build(build_dir)
    jars = build.spark_jars()

    tag = "goldens" if a.record_goldens else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    for d in ("artifacts", "logs"):
        os.makedirs(os.path.join(build_dir, d), exist_ok=True)
    artifact = os.path.join(build_dir, "artifacts", f"{tag}.json")
    log_path = os.path.join(build_dir, "logs", f"{tag}.log")

    nproc = len(os.sched_getaffinity(0))
    jvm = ["java", "-Xmx2g", "-Xss4m", "-Duser.timezone=UTC", "-XX:-UsePerfData",
           "-XX:PerMethodRecompilationCutoff=-1", "-XX:PerBytecodeRecompilationCutoff=-1",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main",
            "--threads", str(nproc), "--work-dir", work, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--artifact", artifact,
            "--goldens", os.path.join(HERE, "goldens.json")]
    if a.record_goldens:
        jvm += ["--record-goldens", os.path.join(HERE, "goldens.json")]
    else:
        jvm += ["--workload", a.workload]
    env = dict(os.environ)
    # the in-JVM memos would let a repeated query skip its real work
    env["SPARK_GRAFT_NO_MEMO"] = "1"
    env.pop("SPARK_GRAFT_ONLY", None)

    with open(log_path, "w") as log:
        p = subprocess.Popen(jvm, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            out = ""
            print(f"perfbench: run exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if a.record_goldens:
        sys.exit(p.returncode)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: {a.workload} produced no result (exit {p.returncode}); log {log_path}")
    result = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
