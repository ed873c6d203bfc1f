#!/usr/bin/env python3
"""Summarises a JDK Flight Recorder file: the processes the JVM started, by
command, the threads it started, the hottest frames of its `main` thread, and
the samples spent in static initializers.

    python3 tools/jfr_report.py <file.jfr> [--top N]

One benchmark run records such a file with no change to the benchmark:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,settings=profile,dumponexit=true" \\
        python3 dumpsterbench/run.py --workload collect_stream --seed 1

The static-initializer table counts, on every thread, the execution samples
whose stack holds a `<clinit>` frame, under the outermost such frame: the class
whose first use paid for the whole nested initialization. Only the innermost
`STACK_DEPTH` frames of a sample are read, so a `<clinit>` deeper than that is
not seen.

The file is read through the JDK's `jfr` tool, which must be on the PATH.
"""
import argparse
import collections
import json
import re
import subprocess
import sys


STACK_DEPTH = 64


def events(path, names):
    """The recording's events of the given types, with `STACK_DEPTH` stack frames."""
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", str(STACK_DEPTH), "--events",
                          ",".join(names), path], check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frame(f):
    m = f["method"]
    return f"{m['type']['name']}.{m['name']}"


def outermost_clinit(sample):
    """The sample's outermost `<clinit>` frame, or None. Frames run innermost first."""
    frames = (sample.get("stackTrace") or {}).get("frames") or []
    return next((frame(f) for f in reversed(frames) if f["method"]["name"] == "<clinit>"), None)


def table(title, counts, top):
    total = sum(counts.values())
    print(f"{title}: {total}")
    for key, n in counts.most_common(top):
        print(f"  {n:8d}  {key}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("jfr")
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    try:
        evs = events(a.jfr, ["jdk.ProcessStart", "jdk.ThreadStart", "jdk.ExecutionSample"])
    except (OSError, subprocess.CalledProcessError) as e:
        sys.exit(f"jfr print failed: {e}")
    by_type = collections.defaultdict(list)
    for e in evs:
        by_type[e["type"]].append(e["values"])

    table("process starts, by command", collections.Counter(
        v["command"].split()[0] if v.get("command") else "?" for v in by_type["jdk.ProcessStart"]), a.top)
    # thread names with their numbers stripped, so a pool counts as one
    table("thread starts, by name", collections.Counter(
        re.sub(r"\d+", "N", (v.get("thread") or {}).get("javaName") or "?")
        for v in by_type["jdk.ThreadStart"]), a.top)
    main_samples = [v for v in by_type["jdk.ExecutionSample"]
                    if (v.get("sampledThread") or {}).get("javaName") == "main"]
    table("main-thread samples, by top frame", collections.Counter(
        frame(v["stackTrace"]["frames"][0]) for v in main_samples
        if v.get("stackTrace") and v["stackTrace"]["frames"]), a.top)
    clinits = (outermost_clinit(v) for v in by_type["jdk.ExecutionSample"])
    table("static-initializer samples, by outermost <clinit>",
          collections.Counter(c for c in clinits if c), a.top)


if __name__ == "__main__":
    main()
