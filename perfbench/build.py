#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark harness (perfbench/scala)
into .bench_build/perfbench/classes with the Scala compiler that ships
with Spark. A stamp of the sources' contents skips the compile when
nothing changed.

Usage: python3 perfbench/build.py   (from the repo root or anywhere)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the first
    <home>/bin on the PATH that holds spark-submit next to <home>/jars."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(d), "jars")
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(jars):
            return jars
    raise SystemExit("perfbench: Spark not found; set SPARK_HOME")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles when the sources changed; returns the classpath."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit(f"perfbench: {SOURCE_DIRS[0]} not found; run from "
                         "a checkout of the repository")
    files = sources()
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found at {jars}; "
                         "set SPARK_HOME")
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath()
    # generated inputs are cached per seed; a new build may generate
    # them differently
    for d in (CLASSES, os.path.join(OUT, "data")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        print(r.stdout[-8000:], file=log)
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    build()
    print(CLASSES)
