#!/usr/bin/env python3
"""Print the SQL executions of a Spark event log by call site.

    python3 tools/jobs_by_callsite.py EVENTLOG [--stages] [--spans SPANS.json] [--ops NAME,...]

EVENTLOG is one application's event log: a file of JSON lines (plain, or
`.zstd` / `.zst`, decoded with the `zstd` binary) or a rolling log's
`eventlog_v2_*` directory, whose `events_<n>_*` files are read in order.
Each SQL execution prints as its `graft.*` call site (the graft frames of
its call stack, innermost first, joined by `<`), its Spark job count, its
wall time and the gap before it: the time since the previous execution of
the same op ended, or since the op began for its first one (driver-only
time: planning, code generation, the driver's own file-system work).

With --stages, each execution is followed by its jobs and each job by its
stages: task count, summed task run time and CPU time, shuffle bytes read
and written, and the stage's wall time. A stage a job skipped (its shuffle
output reused) prints as skipped. A CPU-dense stage that runs in one task
shows here as `tasks=1` beside a large run time.

With --spans (perfbench's `perfbench/.traces/<workload>.spans.json`, from
a `--trace 1` run) executions are grouped under the `op` span whose time
range holds their start, and a per-op-name summary closes the output;
--ops keeps only the named ops. Without it, the executions print in order.

Recording an event log of a perfbench run changes no file: Spark reads
`spark.*` system properties, so

    mkdir -p /tmp/evlog
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/evlog" \\
        python3 perfbench/run.py --workload snapshot_query --seed 7 --seconds 20 --trace 1
    python3 tools/jobs_by_callsite.py /tmp/evlog/eventlog_v2_local-* \\
        --spans perfbench/.traces/snapshot_query.spans.json --ops delete,update,merge
"""
import argparse
import collections
import json
import os
import re
import subprocess
import sys

EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
EXEC_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
FRAME = re.compile(r"graft\.[\w.$]*?\.(\w+)\$?\.(\w+)\(")


def read_lines(path):
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        return [line for f in parts for line in read_lines(os.path.join(path, f))]
    if path.endswith((".zstd", ".zst")):
        out = subprocess.run(["zstd", "-dc", path], check=True, capture_output=True).stdout
        return out.decode("utf-8").splitlines()
    with open(path, encoding="utf-8") as fh:
        return fh.read().splitlines()


def call_site(details):
    """The graft frames of a call stack as `method<caller<...`, repeats dropped."""
    names = []
    for owner, method in FRAME.findall(details or ""):
        if method.startswith("$") or method in ("apply", "apply$mcV$sp"):
            continue
        name = method if owner in ("SnapshotTable", "WriteStats") else f"{owner}.{method}"
        if not names or names[-1] != name:
            names.append(name)
    return "<".join(names[:6]) or "(no graft frame)"


def executions(lines):
    execs, jobs, stages = {}, {}, {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == EXEC_START:
            execs[e["executionId"]] = {
                "id": e["executionId"], "site": call_site(e.get("details")),
                "start": e["time"], "end": None, "jobs": []}
        elif kind == EXEC_END and e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                jobs[e["Job ID"]] = {"id": e["Job ID"], "exec": int(xid), "start": e.get("Submission Time"),
                                     "end": None, "stages": sorted(e.get("Stage IDs") or [])}
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st = stages.setdefault(e["Stage ID"], new_stage())
            st["tasks"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["written"] += sw.get("Shuffle Bytes Written", 0)
        elif kind == "SparkListenerStageCompleted":
            info = e.get("Stage Info") or {}
            st = stages.setdefault(info["Stage ID"], new_stage())
            st["wall_ms"] = (info.get("Completion Time") or 0) - (info.get("Submission Time") or 0)
    for job in sorted(jobs.values(), key=lambda j: j["id"]):
        if job["exec"] in execs:
            execs[job["exec"]]["jobs"].append(job)
    return sorted(execs.values(), key=lambda x: (x["start"], x["id"])), stages


def new_stage():
    return {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "read": 0, "written": 0, "wall_ms": None}


def mb(n):
    return f"{n / 1e6:8.2f} MB"


def show_stages(jobs, stages):
    for job in jobs:
        wall = (job["end"] - job["start"]) if job["end"] and job["start"] else float("nan")
        print(f"        job {job['id']:5}  {wall:7.0f} ms")
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None or st["tasks"] == 0:
                print(f"          stage {sid:5}  skipped")
                continue
            wall = st["wall_ms"] if st["wall_ms"] is not None else float("nan")
            print(f"          stage {sid:5}  tasks={st['tasks']:4}  {wall:7.0f} ms  "
                  f"run {st['run_ms']:7.0f} ms  cpu {st['cpu_ns'] / 1e6:7.0f} ms  "
                  f"shuffle read {mb(st['read'])}  write {mb(st['written'])}")


def show(rows, since, stages=None):
    for x in rows:
        wall = (x["end"] - x["start"]) if x["end"] is not None else float("nan")
        gap = x["start"] - since
        print(f"    exec {x['id']:5}  jobs={len(x['jobs']):2}  {wall:7.0f} ms  gap {gap:5.0f} ms  {x['site']}")
        if stages is not None:
            show_stages(x["jobs"], stages)
        if x["end"] is not None:
            since = x["end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("eventlog")
    ap.add_argument("--spans")
    ap.add_argument("--ops", help="comma-separated op names to keep (with --spans)")
    ap.add_argument("--stages", action="store_true",
                    help="print each job's stages: tasks, run and CPU time, shuffle bytes")
    args = ap.parse_args()
    xs, stages = executions(read_lines(args.eventlog))
    stages = stages if args.stages else None
    if not args.spans:
        show(xs, xs[0]["start"] if xs else 0, stages)
        return 0
    with open(args.spans, encoding="utf-8") as fh:
        spans = json.load(fh)
    keep = set(args.ops.split(",")) if args.ops else None
    ops = sorted((s for s in spans if s["layer"] == "op"), key=lambda s: s["start_ns"])
    summary = collections.defaultdict(lambda: [0, 0, 0])
    for op in ops:
        if keep is not None and op["name"] not in keep:
            continue
        lo, hi = op["start_ns"] / 1e6, op["end_ns"] / 1e6
        mine = [x for x in xs if lo <= x["start"] <= hi]
        print(f"{op['name']} (op {op['id']}, {hi - lo:.0f} ms): "
              f"{len(mine)} executions, {sum(len(x['jobs']) for x in mine)} jobs")
        show(mine, lo, stages)
        agg = summary[op["name"]]
        agg[0] += 1
        agg[1] += len(mine)
        agg[2] += sum(len(x["jobs"]) for x in mine)
    print()
    for name, (n, ex, jb) in sorted(summary.items()):
        print(f"{name:14} ops={n:3}  executions/op={ex / n:5.2f}  jobs/op={jb / n:5.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
