#!/usr/bin/env python3
"""Retrieval benchmark launcher.

Builds the engine and the benchmark from the sources of the checkout it runs
in (once per source state; the classpath is kept under .bench_build/), then
runs one workload in its own JVM and relays the result. The last line of
standard output is the result object.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload serve_batch|serve_small \
        --seed N --seconds S --trace 0|1
"""
import argparse
import hashlib
import json
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("serve_batch", "serve_small")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit (the engine build sets
# the same list for its own forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Compiles with sbt when the sources changed; returns the classpath."""
    cp_file, stamp_file = OUT / "classpath.txt", OUT / "stamp.txt"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "export perfbench/Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build took more than {BUILD_TIMEOUT_S} s")
    lines = [l for l in p.stdout.splitlines()
             if os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    OUT.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp + "\n")
    stamp_file.write_text(want)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no engine sources here: run from the root of a checkout")
    cp = classpath()

    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--state", str(OUT)]
    # Spark prefers these to spark.local.dir; the run stays in the checkout.
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run took more than {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    if p.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"run exited with code {p.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.stdout.write(out)
        fail("the run printed no result line")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
