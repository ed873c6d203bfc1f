#!/usr/bin/env python3
"""Runs one benchmark run of the engine in the enclosing checkout.

    python3 dumpsterbench/run.py --workload merge_day --seed 1 --seconds 12 --trace 0

The first run in a checkout builds the engine and the benchmark with sbt
(offline, from the local dependency cache) into .bench_build/. The build is
keyed on a hash of its inputs (the engine's and the benchmark's sources and
build files): a later run rebuilds, incrementally, whenever any of them
changed, and otherwise reuses it. Each run is one JVM; its last stdout line
is the JSON result. A workload's first run in a build also writes an archive
of the classes it loaded (class data sharing), which its later runs map
instead of loading and verifying each class again. Exits non-zero, without
a result, if the engine's sources are not there or anything fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "target", "classpath.txt")
BUILD_HASH = os.path.join(BUILD, "target", "inputs.sha256")
CLASS_ARCHIVES = os.path.join(BUILD, "class-archives")
WORKLOADS = ("merge_day", "archive_query", "collect_stream")
RUN_TIMEOUT_S = 170
# a first run (compile + the run) stays within 900 s
COMPILE_TIMEOUT_S = 600

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[dumpsterbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java(main_args, work, jvm_opts):
    """The benchmark JVM."""
    with open(CLASSPATH) as f:
        cp = os.pathsep.join(line.strip() for line in f if line.strip())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + jvm_opts + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xlog:disable", "-Xlog:all=error:stderr",
        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "dumpsterbench.Main"] + main_args + ["--work", work]


def build_inputs():
    """Hash of every file the build reads: the engine's main sources and build
    definition, and the benchmark's own."""
    files = [os.path.join(ROOT, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        files += [os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith((".sbt", ".scala", ".properties"))] if os.path.isdir(d) else []
    files.append(os.path.join(BENCH, "build.sbt"))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, subdirs, names in os.walk(top):
            subdirs.sort()
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src"))):
        fail("no engine sources (build.sbt, src/) next to the benchmark")
    key = build_inputs()
    if os.path.isfile(CLASSPATH) and os.path.isfile(BUILD_HASH):
        with open(BUILD_HASH) as f:
            if f.read().strip() == key:
                return
    shutil.rmtree(CLASS_ARCHIVES, ignore_errors=True)
    compile_all()
    with open(BUILD_HASH, "w") as f:
        f.write(key + "\n")


def class_archive(workload):
    """Class data sharing flags. Without them each run spends about 7 s more
    loading and verifying Spark's classes at start-up and in its cold round,
    and 70 runs of the three workloads would not fit their time budget.
    The archive belongs to one build: build() deletes it on a rebuild."""
    jsa = os.path.join(CLASS_ARCHIVES, f"{workload}.jsa")
    if os.path.isfile(jsa):
        return [f"-XX:SharedArchiveFile={jsa}"]
    os.makedirs(CLASS_ARCHIVES, exist_ok=True)
    return [f"-XX:ArchiveClassesAtExit={jsa}"]


def compile_all():
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "-J-Xmx2g", "writeClasspath"]
    # sbt's log goes to stderr: stdout carries only the result line
    if run_bounded(cmd, COMPILE_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr) != 0 \
            or not os.path.isfile(CLASSPATH):
        fail("build failed", 3)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    cmd = java(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace], work, class_archive(a.workload))
    out = os.path.join(work, "stdout.txt")
    try:
        with open(out, "w") as f:
            code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=f)
        with open(out) as f:
            lines = f.read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        fail(f"run failed (exit {code})", 4)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
