#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source with sbt the first time (and again whenever a source changes), then
runs one workload in a fresh JVM. Every metric is printed by name with its
unit; the last line of stdout is the result object
{"correct", "attempted", "failed", "metrics"}. Exits non-zero, printing no
result, when the engine's sources are missing or the build or run fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench", "classpath.txt")
STAMP = os.path.join(BUILD, "perfbench", "sources.sha256")

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
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
    sys.exit(1)


def sources_digest():
    """Digest of every input of the build, to tell when to rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", f"-J-Djava.io.tmpdir={tmp}",
           "-J-XX:-UsePerfData", "writeClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "cli", "Main.scala")):
        fail("no engine sources under src/main/scala; run from the root of a checkout")
    build()

    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # -UsePerfData: no hsperfdata file outside the checkout;
           # -UseDynamicNumberOfCompilerThreads: JIT threads live as long as
           # the JVM, so the harness can subtract their CPU time
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData",
              "-XX:-UseDynamicNumberOfCompilerThreads",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--out", result])
    # the command line's own defaults decide master and shuffle partitions
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_MASTER", "SPARK_GRAFT_CPUS")}
    started = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    line = None
    if code == 0 and os.path.exists(result):
        with open(result) as fh:
            line = fh.read().strip()
    shutil.rmtree(work, ignore_errors=True)
    if line is None:
        fail(f"run failed (exit {code})")
    print(f"wall_s {time.time() - started:.1f}")
    print(line, flush=True)


if __name__ == "__main__":
    main()
