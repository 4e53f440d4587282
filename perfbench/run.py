#!/usr/bin/env python3
"""Benchmark of the B3 pipeline and a sample of the query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (sbt, into
perfbench/target), then runs one workload in one JVM and prints, as the last
line of standard output, one JSON object with the keys correct, attempted,
failed and metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-stamp.txt")
ARCHIVE = os.path.join(TARGET, "perfbench-classes.jsa")
WORKLOADS = ("backfill", "registry")
JVM_SECONDS = 170
BUILD_SECONDS = 540
TRAIN_SECONDS = 300

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Digest of every source and build file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def jvm(work, archive_flag):
    """The java command line shared by the training run and the measured runs."""
    cmd = ["java", archive_flag, "-Xms1g", "-Xmx1g", "-XX:+UseG1GC",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    with open(CLASSPATH) as f:
        cmd += ["-cp", f.read().strip(), "perfbench.Main", "--work", work]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return cmd


def spark_jars():
    """The Spark jar directory the program's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("no Spark jar directory: build.sbt sets no unmanagedBase and SPARK_HOME is unset")


def build():
    """Compiles the program and the benchmark into one jar, then records a
    class-data archive from a short run of every workload: a cold JVM spends
    most of its first Spark session loading classes, and the archive cuts
    that from about 9 s to about 3 s on every later run."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env["PERFBENCH_SPARK_JARS"] = spark_jars()
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("perfbench: building program and benchmark with sbt", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_SECONDS)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if "graft-perfbench" in l and os.pathsep in l]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())

    work = os.path.join(BENCH, ".work", f"train-{os.getpid()}")
    log_path = os.path.join(BENCH, ".work", "train.log")
    try:
        with open(log_path, "w") as log:
            t = subprocess.run(jvm(work, "-XX:ArchiveClassesAtExit=" + ARCHIVE) + ["--train", "1"],
                               cwd=ROOT, stdout=log, stderr=log, timeout=TRAIN_SECONDS)
    except subprocess.TimeoutExpired:
        fail(f"training run timed out; log in {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if t.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("training run failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {os.path.relpath(PROGRAM_SRC, os.getcwd())}")
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    build()

    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    log_path = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}.log")
    # without an archive the JVM loads classes from the jars as usual
    cmd = jvm(work, "-XX:SharedArchiveFile=" + ARCHIVE if os.path.exists(ARCHIVE) else "-Xshare:auto")
    cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace]
    try:
        with open(log_path, "w") as log:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_SECONDS} s; log in {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stdout.write(p.stdout)
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run failed with code {p.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
