#!/usr/bin/env python3
"""Bucket a JFR recording's executor CPU samples by operator.

    python3 scripts/jfr_hot.py recording.jfr [--top 15]

Reads the recording's `jdk.ExecutionSample` events with the JDK's `jfr`
tool (`jfr print --json`), keeps the samples of Spark's executor threads
("Executor task launch worker ..."), and prints two tables: the samples
by operator bucket, and by their innermost frame outside the JDK and the
Scala library.

A sample's bucket is decided by its innermost frame that one of these
rules claims, walking outward from the sampled frame:

  regex_groups    graft.functions.RegexGroups and its byte scanner
                  graft.functions.RegexScanner, or java.util.regex called
                  from them (the regex parser's one match per record)
  other regex     any other java.util.regex caller (RLIKE, regexp_extract,
                  regexp_replace, grep rules, rewrite_tag rules)
  json            Spark's JSON generator and parser, Jackson, and the
                  byte writer of string-only JSON lines (graft.functions.JsonLine*)
  scan            reading input files (FileScanRDD, Hadoop line readers)
  write           writing output files (Spark's file writers, Hadoop's
                  output streams, the commit protocol)
  shuffle         shuffle write and read, serializers, spill collections
  generated code  the whole-stage generated code itself (projections,
                  filters, aggregates evaluated inline)
  other           none of the above

Record a JVM with, for example:

    java -XX:StartFlightRecording=filename=run.jfr,settings=profile ...

or, for a perfbench run, put that option in JAVA_TOOL_OPTIONS.
"""
import argparse
import collections
import json
import shutil
import subprocess
import sys

EXECUTOR = "Executor task launch worker"

# (bucket, name prefixes or substrings), tried in order on each frame
RULES = [
    ("json", ("org.apache.spark.sql.catalyst.json.", "com.fasterxml.jackson.",
              "org.apache.spark.sql.catalyst.expressions.json.", "graft.functions.JsonLine",
              "org.apache.spark.sql.catalyst.expressions.StructsToJson",
              "org.apache.spark.sql.catalyst.expressions.JsonToStructs")),
    ("scan", ("org.apache.spark.sql.execution.datasources.FileScanRDD",
              "org.apache.spark.sql.execution.datasources.HadoopFileLinesReader",
              "org.apache.spark.sql.execution.datasources.RecordReaderIterator",
              "org.apache.hadoop.mapreduce.lib.input.", "org.apache.hadoop.util.LineReader",
              "org.apache.hadoop.fs.RawLocalFileSystem$LocalFSFileInputStream",
              "org.apache.hadoop.fs.ChecksumFileSystem$ChecksumFSInputChecker",
              "java.io.FileInputStream")),
    ("write", ("org.apache.spark.sql.execution.datasources.", "org.apache.spark.internal.io.",
               "org.apache.hadoop.fs.", "java.io.FileOutputStream")),
    ("shuffle", ("org.apache.spark.shuffle.", "org.apache.spark.util.collection.",
                 "org.apache.spark.storage.", "org.apache.spark.serializer.",
                 "org.apache.spark.sql.execution.exchange.",
                 "org.apache.spark.sql.execution.UnsafeRowSerializer",
                 "net.jpountz.lz4.", "com.github.luben.zstd.")),
    ("generated code", ("org.apache.spark.sql.catalyst.expressions.GeneratedClass",)),
]
BUCKETS = ["regex_groups", "other regex"] + [b for b, _ in RULES] + ["other"]


def events(path):
    jfr = shutil.which("jfr")
    if jfr is None:
        sys.exit("jfr_hot: the JDK's `jfr` tool is not on PATH")
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ExecutionSample", path],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)["recording"]["events"]


def thread_name(event):
    return (event["values"].get("sampledThread") or {}).get("javaName") or ""


def frames(event):
    stack = event["values"].get("stackTrace") or {}
    return [f["method"]["type"]["name"].replace("/", ".") + "." + f["method"]["name"]
            for f in stack.get("frames", [])]


PARSER = ("graft.functions.RegexGroups", "graft.functions.RegexScanner")


def bucket(names):
    """The bucket of a stack given innermost frame first."""
    for i, name in enumerate(names):
        if name.startswith(PARSER):
            return "regex_groups"
        if name.startswith("java.util.regex."):
            caller = next((n for n in names[i:] if not n.startswith("java.util.regex.")), "")
            return "regex_groups" if caller.startswith(PARSER) else "other regex"
        for b, keys in RULES:
            if any(name.startswith(k) for k in keys):
                return b
    return "other"


def library_frame(name):
    return name.startswith(("java.", "jdk.", "sun.", "scala."))


def table(title, counts, top, order=None):
    total = sum(counts.values())
    print(f"{title} ({total} samples)")
    keys = [k for k in order if counts[k]] if order else [k for k, _ in counts.most_common(top)]
    for key in keys:
        n = counts[key]
        print(f"  {n:7d}  {100.0 * n / max(total, 1):5.1f}%  {key}")
    rest = len(counts) - len(keys)
    if rest > 0:
        print(f"  ... {rest} more")
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    by_bucket, by_frame = collections.Counter(), collections.Counter()
    for e in events(a.recording):
        if not thread_name(e).startswith(EXECUTOR):
            continue
        names = frames(e)
        by_bucket[bucket(names)] += 1
        by_frame[next((n for n in names if not library_frame(n)), "(no frame)")] += 1
    table("executor jdk.ExecutionSample by operator", by_bucket, a.top, BUCKETS)
    table("by innermost frame outside the JDK and Scala library", by_frame, a.top)


if __name__ == "__main__":
    main()
