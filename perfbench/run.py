#!/usr/bin/env python3
"""Product-path benchmark of the linkage and corpus-cleaning engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload link-dense --seed 1 --seconds 10 --trace 0

Workloads: link-dense, clean-corpus (see perfbench/README.md).
The first run builds the product sources together with the harness in
perfbench/src (sbt, offline) into .bench_build/; later runs reuse that build
while the sources are unchanged. Each run is one JVM with one Spark session
on local[<cores>]. Its stdout is a table of every metric it measured, then,
as the last line, one JSON object with the end-to-end metrics (--trace 0)
or the per-layer metrics (--trace 1). Exits non-zero, without a result
line, when the build fails or the run overruns; exits 1 when an output
check failed.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
PRODUCT_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# what spark-submit adds for Spark on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [PRODUCT_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = os.path.join(BUILD, "build.stamp")
    want = fingerprint()
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                return
    tmp = os.path.join(BUILD, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.forcestart=false", f"-Djava.io.tmpdir={tmp}",
                 "-J-XX:-UsePerfData", "compile"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"build failed (exit {rc}); end of {log}:\n{tail}")
    with open(stamp, "w") as fh:
        fh.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["link-dense", "clean-corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PRODUCT_SRC, "graft")):
        fail(f"product sources not found under {PRODUCT_SRC}: run from the "
             "root of a full checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark distribution with a jars/ directory")
    build()

    tmp = os.path.join(BUILD, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap: heap resizing during the first executions made the warm
    # walls of one run differ by up to 15% (interleaved A/B, 3 of 3 pairs)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", args.trace, "--root", ROOT])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", code=3)
    sys.exit(rc)


if __name__ == "__main__":
    main()
