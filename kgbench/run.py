#!/usr/bin/env python3
"""One command for the kgbench benchmark.

    python3 kgbench/run.py --workload kg_pipeline --seed 1 --seconds 10 --trace 0
    python3 kgbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Run from the repository root. Builds the engine and the benchmark from
source when needed (`kgbench/build.py`), then runs the workload in one
JVM on `local[n]` (n <= min(4, cores); see METRICS.md). Scratch data lives under
`.bench_work/` in the checkout and is removed afterwards; traced runs
leave their spans there. The last line of standard output is the result
JSON; see `kgbench/METRICS.md`.

`--workload all` runs every workload untraced and, with `--trace 1`,
traced as well (each in its own JVM), prints the tracing overhead per
workload, and ends with one JSON line whose metrics are prefixed by
workload (and `traced.` for the traced runs).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["kg_pipeline", "curation"]
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_one(root, classes, jars, workload, seed, seconds, trace, capture):
    """Run one workload in its own JVM; return (exit code, last stdout line)."""
    work = os.path.join(root, ".bench_work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # fixed, pre-touched heap: GC sizing and page faults stay out of the
    # timings, and peak RSS moves only with memory outside the heap
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + jars, "kgbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work,
            "--cores", str(min(4, os.cpu_count() or 1))]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE if capture else None,
                            text=True)
    last = ""
    try:
        if capture:
            for line in proc.stdout:
                print(line, end="", flush=True)
                if line.strip():
                    last = line.strip()
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("kgbench: run exceeded its time limit", file=sys.stderr)
        code = 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code, last


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        sys.exit("kgbench: --seconds must be >= 1")

    root = os.getcwd()
    classes = build.ensure_built(root)
    jars = os.path.join(build.spark_jars(), "*")
    if a.workload != "all":
        code, _ = run_one(root, classes, jars, a.workload, a.seed, a.seconds, a.trace, False)
        sys.exit(code)

    results = {}
    for w in WORKLOADS:
        for t in ([0, 1] if a.trace else [0]):
            code, last = run_one(root, classes, jars, w, a.seed, a.seconds, t, True)
            if code != 0:
                sys.exit(code)
            results[(w, t)] = json.loads(last)
    metrics = {}
    for (w, t), r in results.items():
        for k, v in r["metrics"].items():
            metrics[f"{w}.{'traced.' if t else ''}{k}"] = v
    for w in WORKLOADS:
        if (w, 1) in results:
            plain = results[(w, 0)]["metrics"]["units_per_s"]["value"]
            traced = results[(w, 1)]["metrics"]["trace.units_per_s_traced"]["value"]
            ratio = plain / traced if traced else float("nan")
            print(f"[kgbench] {w} tracing overhead = {ratio} (untraced / traced units_per_s)")
            metrics[f"{w}.trace.overhead_ratio"] = {"value": ratio, "unit": "ratio"}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": metrics}))


if __name__ == "__main__":
    main()
