#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark harness (perfbench/harness) with the Scala compiler that ships in
the Spark jar directory, into .bench_build/classes.

A stamp of the sources' hash skips the build when nothing changed.

Usage: python3 perfbench/build.py          (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob("perfbench/harness/*.scala"))
    return main, harness


def classpath():
    return os.path.join(SPARK_JARS, "*")


def java_cmd(xmx, *args):
    return ["java", f"-Xmx{xmx}", "-Xss8m", "-cp", classpath(), *args]


def build(log=sys.stderr):
    """Compiles when the sources changed; returns the classes directory."""
    main, harness = sources()
    if not main:
        raise SystemExit("no library sources under src/main/scala")
    h = hashlib.sha256()
    for path in main + harness:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"[perfbench] compiling {len(main)} library + {len(harness)} harness sources",
          file=log, flush=True)
    cmd = java_cmd("3g", "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
                   "-classpath", classpath(), *main, *harness)
    res = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if res.returncode != 0:
        raise SystemExit(f"compile failed (exit {res.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    build()
