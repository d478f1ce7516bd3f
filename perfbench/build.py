#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py        # from the root of a checkout

A stamp of the source hashes skips the compile when nothing changed.
Spark's jars are taken from $SPARK_HOME/jars, else from the installed
pyspark package.
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        spec = importlib.util.find_spec("pyspark")
        jars = os.path.join(os.path.dirname(spec.origin), "jars") if spec else "jars"
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars at '{jars}' (set SPARK_HOME)")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: source directory {d} is missing; run from the root of a checkout")
        for root, _, files in os.walk(d):
            found += [os.path.join(root, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classes_dir():
    return os.path.join(BUILD_DIR, "classes")


def classpath():
    return classes_dir() + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compiles when a source changed; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(BUILD_DIR, "classes.stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes_dir()
    shutil.rmtree(classes_dir(), ignore_errors=True)
    os.makedirs(classes_dir())
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-d", classes_dir(), "-classpath", jars, "-nowarn"] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes_dir()


if __name__ == "__main__":
    build()
