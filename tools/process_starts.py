#!/usr/bin/env python3
"""Count the OS processes a JVM started, from a flight recording.

    jfr print --events jdk.ProcessStart --stack-depth 256 rec.jfr \\
        | python3 tools/process_starts.py [--under SUBSTRING ...] [--top N]

Record any JVM (e.g. a `perfbench/run.py` run) with
`JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=256
-XX:StartFlightRecording=filename=<dir>,settings=profile"`; JFR keeps 64
frames by default, which cuts the outer end off deep Spark stacks. Prints
the number of process starts, then counts by command (the program name),
by thread kind (thread names with their numbers and ids folded), and by
the outermost recorded `graft.` frame of each start's stack: the engine
call that led to the fork. Frames of the benchmark harness
(`graft.perfbench.`) are skipped when an engine frame is present.
`--under` also counts the starts whose command line contains the given
substring, e.g. `/wh/` for the benchmark's warehouse roots.
"""
import argparse
import collections
import re
import sys

HARNESS = "graft.perfbench."


def events(lines):
    """Yields (command, thread, frames) per jdk.ProcessStart event."""
    cur = None
    for line in lines:
        s = line.strip()
        if s == "jdk.ProcessStart {":
            cur = {"command": "", "thread": "", "frames": []}
        elif cur is None:
            continue
        elif s.startswith("command = "):
            cur["command"] = s[len("command = "):].strip('"')
        elif s.startswith("eventThread = "):
            m = re.match(r'eventThread = "(.*)" \(javaThreadId', s)
            cur["thread"] = m.group(1) if m else s[len("eventThread = "):]
        elif s.startswith("stackTrace = ") or s in ("]", "..."):
            pass
        elif s == "}":
            yield cur["command"], cur["thread"], cur["frames"]
            cur = None
        elif "(" in s:
            cur["frames"].append(s.split("(")[0])


def thread_kind(name):
    if name.startswith("Executor task launch worker"):
        return "executor task"
    name = re.sub(r" \[id = .*\]$", "", name)  # a stream's query and run ids
    name = re.sub(r"[0-9a-f]{16,}", "<id>", name)
    return re.sub(r"\d+", "N", name)


def outermost_graft(frames):
    graft = [f for f in frames if f.startswith("graft.")]
    engine = [f for f in graft if not f.startswith(HARNESS)]
    pick = engine or graft
    return pick[-1] if pick else "(no graft frame)"


def table(title, counter, top):
    print(f"\n{title}")
    for k, n in counter.most_common(top):
        print(f"{n:8d}  {k}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--under", action="append", default=[],
                    help="also count commands containing this substring")
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()
    by_cmd, by_thread, by_frame = (collections.Counter() for _ in range(3))
    under = collections.Counter()
    total = 0
    for command, thread, frames in events(sys.stdin):
        total += 1
        by_cmd[command.split(" ")[0]] += 1
        by_thread[thread_kind(thread)] += 1
        by_frame[outermost_graft(frames)] += 1
        for u in args.under:
            under[u] += u in command
    print(f"process starts: {total}")
    for u in args.under:
        print(f"commands containing {u!r}: {under[u]}")
    table("by command", by_cmd, args.top)
    table("by thread kind", by_thread, args.top)
    table("by outermost graft frame", by_frame, args.top)


if __name__ == "__main__":
    main()
