#!/usr/bin/env python3
"""Summarize the child processes a JVM started, from a JFR recording.

    python3 scripts/jfr_forks.py recording.jfr [--top 15]

Reads the recording's `jdk.ProcessStart` events with the JDK's `jfr`
tool (`jfr print --json`) and prints three tables: the events by
command (the program name only), by the innermost Spark or graft frame
of their stack (the engine call that led to the fork), and by the
innermost Hadoop frame outside `org.apache.hadoop.util` (the file system
call that shelled out). Without libhadoop, Hadoop's local file system
forks `chmod` for every file it creates and `readlink` on every
`FileContext` rename; this shows how many of each a run paid and where.

Record a JVM with, for example:

    java -XX:StartFlightRecording=filename=run.jfr ...

A JFR stack keeps 64 frames by default; a deeper stack whose engine
frames were cut off counts under "(no frame)".
"""
import argparse
import collections
import json
import shutil
import subprocess
import sys


def events(path, name="jdk.ProcessStart"):
    """The recording's `name` events, each stack up to 64 frames deep."""
    jfr = shutil.which("jfr")
    if jfr is None:
        sys.exit("the JDK's `jfr` tool is not on PATH")
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", "64",
                          "--events", name, path],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(event):
    stack = event["values"].get("stackTrace") or {}
    for f in stack.get("frames", []):
        m = f["method"]
        yield m["type"]["name"].replace("/", ".") + "." + m["name"]


def first(names, accept):
    return next((n for n in names if accept(n)), "(no frame)")


def engine_frame(name):
    return name.startswith("org.apache.spark.") or name.startswith("graft.")


def hadoop_frame(name):
    return name.startswith("org.apache.hadoop.") and not name.startswith("org.apache.hadoop.util.")


def table(title, counts, top):
    total = sum(counts.values())
    print(f"{title} ({total} events)")
    for key, n in counts.most_common(top):
        print(f"  {n:7d}  {100.0 * n / max(total, 1):5.1f}%  {key}")
    rest = len(counts) - top
    if rest > 0:
        print(f"  ... {rest} more")
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    by_command, by_engine, by_hadoop = (collections.Counter() for _ in range(3))
    for e in events(a.recording):
        command = e["values"].get("command") or ""
        by_command[command.split(" ", 1)[0].rsplit("/", 1)[-1] or "(empty)"] += 1
        names = list(frames(e))
        by_engine[first(names, engine_frame)] += 1
        by_hadoop[first(names, hadoop_frame)] += 1
    table("jdk.ProcessStart by command", by_command, a.top)
    table("by innermost Spark or graft frame", by_engine, a.top)
    table("by innermost Hadoop frame outside org.apache.hadoop.util", by_hadoop, a.top)


if __name__ == "__main__":
    main()
