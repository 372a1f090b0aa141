#!/usr/bin/env python3
"""Attribute the Spark jobs of an event log to the engine code that ran them.

    python3 tools/job_attribution.py LOG [LOG ...] [--window FROM TO] [--list]

Record any JVM (e.g. a `perfbench/run.py` run) with
`JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true
-Dspark.eventLog.dir=file:<dir>"`. LOG is an event log file, plain or
zstd-compressed (`.zstd`, read through the `zstd` command), or a directory:
every `events_*` file under it is read, in rolling order, each dir as
one application.

Each `SparkListenerJobStart` is joined through its `spark.sql.execution.id`
property to the `SparkListenerSQLExecutionStart` of that id, and the job is
attributed to the first `graft.` frame of the execution's `details` (the call
site). A job outside any SQL execution, e.g. an RDD `treeReduce` or Spark's
CSV schema inference, falls back to the call stack in its first stage's
`Details`. Prints jobs and job-seconds (submission to completion) per frame,
most job-seconds first. `--window FROM TO` keeps the jobs submitted between
FROM and TO seconds after the application started; `--list` prints every
kept job with its start offset and duration instead of the totals. Several
applications are summed; their offsets each count from their own start.
"""
import argparse
import collections
import json
import os
import re
import subprocess
import sys

UNATTRIBUTED = "(no graft. frame)"


def log_groups(path):
    """The event logs under `path`, one list of files per application (a
    rolling log's dir holds one application's `events_*` files), each list
    in rolling order."""
    if os.path.isfile(path):
        return [[path]]
    groups = collections.defaultdict(list)
    for d, _, files in os.walk(path):
        groups[d] += [os.path.join(d, f) for f in files if f.startswith("events_")]

    def rolling_index(p):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0
    return [sorted(fs, key=rolling_index) for _, fs in sorted(groups.items()) if fs]


def lines_of(path):
    if path.endswith(".zstd") or path.endswith(".zst"):
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             stdout=subprocess.PIPE).stdout
        return out.decode("utf-8").splitlines()
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def first_graft_frame(stack):
    for line in (stack or "").splitlines():
        s = line.strip()
        if s.startswith("graft."):
            return s
    return None


def read_jobs(paths):
    """Yields (start_s, seconds, frame) per completed job of one
    application's log files, start_s relative to the application start (or
    to its first job when the log has no start event)."""
    app_start = None
    executions = {}   # SQL execution id -> first graft. frame of its details
    starts = {}       # job id -> (submission ms, execution id, stage frame)
    ends = {}         # job id -> completion ms
    for path in paths:
        for line in lines_of(path):
            if not line:
                continue
            e = json.loads(line)
            kind = e.get("Event", "")
            if kind == "SparkListenerApplicationStart":
                app_start = e.get("Timestamp")
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                executions[str(e.get("executionId"))] = first_graft_frame(e.get("details"))
            elif kind == "SparkListenerJobStart":
                stages = e.get("Stage Infos") or [{}]
                props = e.get("Properties") or {}
                starts[e["Job ID"]] = (e["Submission Time"],
                                       props.get("spark.sql.execution.id"),
                                       first_graft_frame(stages[0].get("Details")))
            elif kind == "SparkListenerJobEnd":
                ends[e["Job ID"]] = e["Completion Time"]
    if app_start is None and starts:
        app_start = min(s for s, _, _ in starts.values())
    for job, (submitted, exec_id, stage_frame) in sorted(starts.items()):
        if job not in ends:
            continue
        frame = executions.get(exec_id) or stage_frame or UNATTRIBUTED
        yield (submitted - app_start) / 1000.0, (ends[job] - submitted) / 1000.0, frame


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("logs", nargs="+")
    ap.add_argument("--window", nargs=2, type=float, metavar=("FROM", "TO"))
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()
    groups = [g for p in args.logs for g in log_groups(p)]
    if not groups:
        sys.exit("job_attribution: no event log files found")
    jobs = [j for g in groups for j in read_jobs(g)
            if args.window is None or args.window[0] <= j[0] < args.window[1]]
    if args.list:
        for start, secs, frame in jobs:
            print(f"{start:9.3f} {secs:8.3f}  {frame}")
        return
    count = collections.Counter()
    seconds = collections.Counter()
    for _, secs, frame in jobs:
        count[frame] += 1
        seconds[frame] += secs
    print(f"{len(jobs)} jobs, {sum(seconds.values()):.3f} job-seconds")
    for frame in sorted(count, key=lambda f: (-seconds[f], f)):
        print(f"{count[frame]:6d} {seconds[frame]:9.3f}  {frame}")


if __name__ == "__main__":
    main()
