#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per call.

Usage (from the repository root):
    python3 perfbench/run.py --workload stream_window --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --test

The first call compiles the library (src/main/scala) together with the
benchmark (perfbench/src, perfbench/tests) with the Scala compiler that
ships in the Spark distribution; later calls reuse the classes while the
sources are unchanged. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. The exit code is
non-zero when an output check fails or the run cannot complete.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("stream_window", "batch_small")
TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    the repository's build.sbt compiles against (unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("cannot locate the Spark jars: set SPARK_HOME")
    return m.group(1)


def sources():
    lib = sorted(glob.glob(os.path.join(LIB, "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")) +
                 glob.glob(os.path.join(HERE, "tests", "*.scala")))
    if not os.path.exists(os.path.join(LIB, "graft", "SparkEntry.scala")):
        fail(f"library sources not found under {os.path.relpath(LIB)}")
    return lib + own


def build(jars):
    """Compiles when the sources changed; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def driver_mem():
    """The repository's test-run heap rule: half the RAM in GiB, clamped
    to [2, 8]; SPARK_DRIVER_MEM wins when set."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java(classes, jars, work, main, args, log):
    cmd = (["java", f"-Xmx{driver_mem()}", "-Xss16m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), main] + args)
    with open(log, "w") as err:
        try:
            return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                  cwd=work, timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {TIMEOUT_S} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--test", action="store_true", help="run the benchmark's own tests")
    ap.add_argument("--oracle-sql", help="write SparkEntry.oracleSql as JSON to this path")
    a = ap.parse_args()
    if not (a.workload or a.test or a.oracle_sql):
        ap.error("one of --workload, --test, --oracle-sql is required")
    if a.workload and not os.path.exists(os.path.join(HERE, "data", "lineitem.parquet")):
        fail("benchmark tables missing under perfbench/data")
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars}")
    classes = build(jars)
    work = os.path.join(HERE, ".work", f"{a.workload or 'tool'}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(HERE, ".work", os.path.basename(work) + ".log")
    try:
        if a.test:
            r = java(classes, jars, work, "perfbench.SelfTest", [], log)
            print(r.stdout, end="")
            return r.returncode
        if a.oracle_sql:
            r = java(classes, jars, work, "perfbench.Main",
                     ["--oracle-sql", os.path.abspath(a.oracle_sql)], log)
            return r.returncode
        r = java(classes, jars, work, "perfbench.Main",
                 ["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--home", HERE], log)
        lines = r.stdout.strip().splitlines()
        result = None
        if r.returncode == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        if result is None:
            sys.stdout.write(r.stdout)
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"workload {a.workload} did not complete (exit {r.returncode})")
        print("\n".join(lines[:-1]))
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if sys.exc_info()[0] is None and os.path.exists(log):
            os.remove(log)


if __name__ == "__main__":
    sys.exit(main())
