#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program first if needed (see build.py), then runs the workload
in one JVM on a local[nproc] Spark session: set-up, an untimed warm-up
round, then timed rounds for --seconds. Every op's output is checked.
The last stdout line is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer ones with --trace 1. The line before it carries the workload's
own named figures (page, commit, read and query percentiles, error rate).
Exits 1 when an output check failed, 2 when the build failed and 3 when
the run itself failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ("etl_load", "snapshot_query")
JVM_TIMEOUT_S = 170


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_jvm(args, jar, data, work):
    out = os.path.join(work, "result.json")
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java"] + build.java_opts() + [
        f"-Djava.io.tmpdir={work}", f"-Dderby.system.home={work}",
        f"-XX:SharedArchiveFile={os.path.join(build.BUILD, 'app.jsa')}", "-Xlog:cds=off",
        "-cp", build.classpath(jar), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--out", out,
        "--cpus", str(cpus), "--bench", build.BENCH]
    # the JVM's own output goes to stderr: stdout carries only the result
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=work, start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"run exceeded {JVM_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return None
    if rc != 0 or not os.path.exists(out):
        print(f"run failed with exit code {rc}", file=sys.stderr)
        return None
    with open(out) as fh:
        result = json.load(fh)
    spans = out + ".spans.json"
    if os.path.exists(spans):
        os.makedirs(os.path.join(build.BENCH, ".traces"), exist_ok=True)
        shutil.move(spans, os.path.join(build.BENCH, ".traces", f"{args.workload}.spans.json"))
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        s = spec()
        jar, data = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        print(f"cannot build the benchmark: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_jvm(args, jar, data, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 3
    if args.trace:
        metrics = {m["name"]: {"value": result["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in s["per_layer"]}
    else:
        metrics = {m["name"]: {"value": result["e2e"][m["name"]]["value"], "unit": m["unit"]}
                   for m in s["end_to_end"]}
    correct = result["correct"] and all(
        isinstance(m["value"], (int, float)) for m in metrics.values())
    print(json.dumps(result["detail"]))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
