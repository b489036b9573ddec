#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) together with
the benchmark harness (perfbench/scala) using the Scala compiler that ships in the
Spark distribution's jars, into .bench_build/classes (engine resources are
copied beside the classes). A stamp of every source's
path and content skips the compile when nothing changed.

Usage, from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = ".bench_build"


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME (Spark, Scala, its compiler)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: SPARK_HOME is not set")
    return os.path.join(home, "jars")


def resources():
    return sorted(f for f in glob.glob("src/main/resources/**/*", recursive=True)
                  if os.path.isfile(f))


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/scala/**/*.scala", recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    if not bench:
        raise SystemExit("build: no harness sources under perfbench/scala")
    return engine + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the classes directory, compiling first when a source changed."""
    files = sources()
    res = resources()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    want = stamp(files + res)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return classes
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(build())
