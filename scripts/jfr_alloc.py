#!/usr/bin/env python3
"""Sum a JFR recording's large allocations by thread and by engine frame.

    python3 scripts/jfr_alloc.py recording.jfr [--min-kib 512] [--top 15]

Reads the recording's `jdk.ObjectAllocationOutsideTLAB` events with the
JDK's `jfr` tool (`jfr print --json --stack-depth 64`; the tool's default
depth of 5 frames stops inside the allocating library and hides the
engine call above it), keeps those of at least `--min-kib` KiB, and
prints three tables of their megabytes: by thread (numbered names such
as `dispatcher-event-loop-3` and the per-query suffix of `stream
execution thread for ...` folded together), by the innermost Spark or
graft frame of their stack, and by allocated class. At `-Xmx3g` G1's
regions are 1 MiB, so an object of 512 KiB or more is humongous: it is
allocated outside any TLAB, straight into old regions of its own.

Record a JVM with, for example:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,settings=profile,+jdk.ObjectAllocationOutsideTLAB#enabled=true" \\
      python3 perfbench/run.py --workload forward_window --seed 7 --seconds 20 --trace 0

Build the benchmark first (one plain run), or the compiler's JVM records
too.
"""
import argparse
import collections
import re

from jfr_forks import engine_frame, events, first, frames

MIB = 1024.0 * 1024.0


def thread(event):
    t = event["values"].get("eventThread") or {}
    name = t.get("javaName") or t.get("osName") or "(no thread)"
    name = re.sub(r" for .*$", "", name)  # a query's or a task's own suffix
    return re.sub(r"-\d+$", "", name)


def table(title, sizes, top):
    total = sum(sizes.values())
    print(f"{title} ({total / MIB:.1f} MB)")
    for key, b in sizes.most_common(top):
        print(f"  {b / MIB:9.1f} MB  {100.0 * b / max(total, 1):5.1f}%  {key}")
    rest = len(sizes) - top
    if rest > 0:
        print(f"  ... {rest} more")
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--min-kib", type=int, default=512)
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    by_thread, by_engine, by_class = (collections.Counter() for _ in range(3))
    kept = 0
    for e in events(a.recording, "jdk.ObjectAllocationOutsideTLAB"):
        size = int(e["values"].get("allocationSize") or 0)
        if size < a.min_kib * 1024:
            continue
        kept += 1
        by_thread[thread(e)] += size
        by_engine[first(frames(e), engine_frame)] += size
        cls = (e["values"].get("objectClass") or {}).get("name") or "(no class)"
        by_class[cls.replace("/", ".")] += size
    print(f"{kept} allocations outside a TLAB of at least {a.min_kib} KiB\n")
    table("by thread", by_thread, a.top)
    table("by innermost Spark or graft frame", by_engine, a.top)
    table("by class", by_class, a.top)


if __name__ == "__main__":
    main()
