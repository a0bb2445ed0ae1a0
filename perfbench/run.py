#!/usr/bin/env python3
"""Build and run the streaming CDC benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload wire_live --seed 1 --seconds 10 --trace 0

Workloads: wire_live, wire_drain, artifact_feed. Extra flags are passed
to the benchmark: --cores N (default min(nproc - 2, 4), at least 1) and --inject
drop|stale (the output check's self-test).

The first run compiles the engine from this checkout's sources with the
benchmark's own sbt build (perfbench/build.sbt) into .bench_build/; later
runs reuse that build while the sources hash the same. The last line of
stdout is the result JSON; everything else goes to stderr.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
TMP = os.path.join(BUILD, "tmp")
ENGINE = [os.path.join(ROOT, "src", "main")]
FIXTURES = [os.path.join(ROOT, "src", "test", "scala", "graft", f)
            for f in ("BinlogFixture.scala", "BinlogMasterFixture.scala")]
# a checkout's first run builds and then measures: both within 900 s
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (the root build passes
# the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for top in ENGINE + [os.path.join(HERE, "src")]:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += FIXTURES
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def build():
    """Compile once per source state; return the runtime classpath."""
    missing = [p for p in ENGINE + FIXTURES if not os.path.exists(p)]
    if missing:
        fail("engine sources not found: " + ", ".join(
            os.path.relpath(p, ROOT) for p in missing))
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                with open(cp_file) as fh:
                    return fh.read()
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    env = dict(os.environ, SPARK_HOME=spark_home())
    os.makedirs(TMP, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={TMP}",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout)
    cps = [ln for ln in proc.stdout.splitlines()
           if not ln.startswith("[") and "sbt-target" in ln and os.pathsep in ln]
    if proc.returncode != 0 or not cps:
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return cps[-1].strip()


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["wire_live", "wire_drain", "artifact_feed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--cores", type=int)
    ap.add_argument("--inject", choices=["drop", "stale"])
    a = ap.parse_args()
    cp = build()
    os.makedirs(TMP, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={TMP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--git-head", git_head()]
    if a.cores:
        cmd += ["--cores", str(a.cores)]
    if a.inject:
        cmd += ["--inject", a.inject]
    try:
        rc = subprocess.run(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(rc)


if __name__ == "__main__":
    main()
