#!/usr/bin/env python3
"""Build and run the pipeline benchmark.

    python3 perfbench/run.py --workload access_batch --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) and the benchmark (`perfbench/src`) with the Scala
compiler shipped in `$SPARK_HOME/jars` into `.bench_build/perfbench`;
later runs reuse the classes while the sources are unchanged. The last
line of standard output is the result JSON. A run that crashes or times
out prints a failing result that counts every planned record as failed.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """`$SPARK_HOME/jars`, or else the jar directory `build.sbt` declares."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            fail("SPARK_HOME is not set and build.sbt declares no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Scala compiler in {jars}")
    return jars


def sources(test):
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail("engine sources src/main/scala not found: run from the root of a checkout")
    dirs = [engine, os.path.join(HERE, "src")] + ([os.path.join(HERE, "test")] if test else [])
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars, test):
    """Compile when the sources differ from the last build; return the classes dir."""
    srcs = sources(test)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes-test" if test else "classes")
    stamp_file = classes + ".stamp"
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = classes + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{m}-*.jar"))[0]
                        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def java_cmd(classes, jars, main, args, work):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", classes + ":" + os.path.join(jars, "*"), main] + args)


def run_jvm(cmd, work):
    """Run the JVM in its own process group; return (exit code, stdout lines)."""
    log = open(os.path.join(work, "jvm.log"), "w")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                         env=env, cwd=work, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        code = p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGTERM)
        try:
            out, _ = p.communicate(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            out, _ = p.communicate()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
        code = None
    finally:
        log.close()
    return code, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    # runs share the build and work directories: one at a time
    lock = open(os.path.join(BUILD, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    classes = build(jars, a.selftest)
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    if a.selftest:
        code, lines = run_jvm(java_cmd(classes, jars, "perfbench.SelfTest", [], work), work)
        print("\n".join(lines))
        sys.exit(0 if code == 0 else 1)

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work]
    code, lines = run_jvm(java_cmd(classes, jars, "perfbench.Main", args, work), work)
    result = None
    if lines:
        try:
            last = json.loads(lines[-1])
            if {"correct", "attempted", "failed", "metrics"} <= set(last):
                result = last
        except ValueError:
            pass
    if code == 2 and result is None:
        print("\n".join(lines))
        fail("the benchmark rejected its arguments")
    if result is None:
        # crashed or timed out: every planned record counts as failed
        planned = 1
        for l in lines:
            try:
                planned = max(planned, int(json.loads(l).get("plan", {}).get("records", 1)))
            except (ValueError, AttributeError):
                pass
        lines.append(json.dumps({"correct": False, "attempted": planned, "failed": planned,
                                 "metrics": {}}))
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
    print("\n".join(lines))
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
