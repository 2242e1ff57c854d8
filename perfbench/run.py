#!/usr/bin/env python3
"""Runs one benchmark workload and prints its JSON result as the last line.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: etl_full_load, etl_incremental_reload, query_suite (see
BENCHMARK.json). The first call builds the engine and the benchmark from
source with sbt (offline) into perfbench/target; later calls reuse that build
while the sources are unchanged. The measurement itself runs in one JVM
(perfbench.Main) under local[<cores>], with its scratch files under
perfbench/work, which it removes when it ends.

Tests of the benchmark's own helpers: `cd perfbench && sbt test`.
Expected query results: see perfbench/src/main/scala/perfbench/ExpectedGen.scala.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
WORK = os.path.join(HERE, "work")
TMP = os.path.join(WORK, "tmp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# A fixed heap, whose young generation the parallel collector keeps fixed,
# steadies peak_rss_mb from run to run. UTC fixes how result digests print
# dates and timestamps. Temporary files stay inside the checkout.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={TMP}", "-Dspark.ui.enabled=false"]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(TMP, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Dsbt.server.autostart=false", "-Xmx2g", f"-Djava.io.tmpdir={TMP}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    sbt = shutil.which("sbt") or fail("sbt not found")
    proc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S, check=False)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    build()
    os.makedirs(TMP, exist_ok=True)
    java = shutil.which("java") or fail("java not found")
    cmd = [java] + JVM_OPTS
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--home", os.path.relpath(HERE, ROOT)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(TMP, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"benchmark exited {proc.returncode} without a result")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
