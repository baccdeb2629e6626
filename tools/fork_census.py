#!/usr/bin/env python3
"""Count the child processes a JVM started, from a JFR recording.

    python3 tools/fork_census.py <recording.jfr | events.json> [--top K]

Reads the recording's `jdk.ProcessStart` events (through `jfr print --json
--stack-depth 512` when given a .jfr file; a JSON file must be printed
with a deep stack too, as `jfr print` keeps 5 frames by default) and
prints three tables: starts by command, by thread (trailing digits and
stream ids folded, so "Executor task launch worker-3" and "-7" count
together) and by caller. A caller is the first engine frame
(`graft.`) of the stack, else the first benchmark-harness frame
(`perfbench.`), paired with the first Spark frame (`org.apache.spark.`).

To record a benchmark run without changing the harness:

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=512 \\
      -XX:StartFlightRecording=filename=/tmp/run.jfr,settings=default" \\
      python3 perfbench/run.py --workload warehouse-ingest --seed 1 --seconds 10 --trace 0

The default stack depth (64) often ends inside Hadoop or Spark, before
any engine frame; 512 reaches the caller.
"""
import argparse
import collections
import json
import re
import subprocess
import sys


def load_events(path):
    if path.endswith(".json"):
        with open(path) as f:
            doc = json.load(f)
    else:
        out = subprocess.run(["jfr", "print", "--events", "jdk.ProcessStart", "--stack-depth", "512",
                              "--json", path], check=True, capture_output=True, text=True).stdout
        doc = json.loads(out)
    return [e for e in doc["recording"]["events"] if e["type"] == "jdk.ProcessStart"]


def frame_names(event):
    trace = event["values"].get("stackTrace") or {"frames": []}
    for fr in trace["frames"]:
        m = fr["method"]
        yield m["type"]["name"].replace("/", ".") + "." + m["name"]


def caller(event):
    names = list(frame_names(event))
    first = lambda *prefixes: next((n for n in names if n.startswith(prefixes)), None)
    engine = first("graft.") or first("perfbench.") or "(no engine frame)"
    spark = first("org.apache.spark.") or "-"
    return f"{engine}  <-  {spark}"


def table(title, counter, top):
    print(f"\n{title} ({sum(counter.values())} starts)")
    for key, n in counter.most_common(top):
        print(f"  {n:7d}  {key}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    events = load_events(a.recording)
    commands = collections.Counter(e["values"]["command"].split()[0] for e in events)
    threads = collections.Counter(
        re.sub(r"\[id = .*", "[…]", re.sub(r"[-\s]*\d+$", "", e["values"]["eventThread"]["javaName"] or "?"))
        for e in events)
    callers = collections.Counter(caller(e) for e in events)
    truncated = sum(1 for e in events if (e["values"].get("stackTrace") or {}).get("truncated"))
    print(f"{len(events)} process starts; {truncated} with truncated stacks")
    table("by command", commands, a.top)
    table("by thread", threads, a.top)
    table("by caller (first engine frame <- first Spark frame)", callers, a.top)
    return 0


if __name__ == "__main__":
    sys.exit(main())
