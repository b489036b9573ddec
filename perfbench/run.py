#!/usr/bin/env python3
"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload <bulk_encode|lookup_append> \\
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py), runs the
workload in one local[4] Spark JVM, and prints the result object as the last
line of stdout. Everything the run writes stays under .bench_build/ in the
current directory; the work directory is removed at the end.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

DEADLINE_S = 170  # seconds for the JVM; the build before it is not counted
WORKLOADS = ("bulk_encode", "lookup_append")
# Spark 4 on JDK 17 outside spark-submit (as org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject-mismatch", action="store_true",
                   help="test hook: expect a wrong decode hash (bulk_encode)")
    a = p.parse_args()
    classes = build.build()
    t0 = time.monotonic()
    work = os.path.abspath(os.path.join(build.OUT, "work", a.workload))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--spans", os.path.abspath(os.path.join(build.OUT, "traces", f"{a.workload}-{a.seed}.jsonl"))]
    if a.inject_mismatch:
        cmd.append("--inject-mismatch")

    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit("benchmark: run exceeded its deadline")
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"benchmark: harness exited with {proc.returncode}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
