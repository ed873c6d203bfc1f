#!/usr/bin/env python3
"""Janino compiles per benchmark phase, from a dumpsterbench stderr log.

    python3 tools/codegen_rounds.py <stderr-log>

The log is the stderr of a run whose log4j2 config (passed as
JAVA_TOOL_OPTIONS=-Dlog4j2.configurationFile=<file>) logs to stderr with the
layout `%d{HH:mm:ss.SSS} %t %c{1}: %m%n` and sets the logger
org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator to INFO, so
each compile is one "Code generated in <ms> ms" line naming its thread.
dumpsterbench prints "[dumpsterbench] set-up: ..." after its warm-up round and
"[dumpsterbench] round <i> ..." after each timed round; the compiles logged
before a marker belong to that phase. Per phase it prints the compiles on
driver threads (the session thread and Spark's exchange/broadcast pools), on
task threads ("Executor task launch worker ..."), their total and the summed
compile milliseconds. The warm-up compiles each class once, unless the cache
evicts it within the round, so its count is about the round's number of
codegen cache keys (a class compiled on the driver and in a task is two
keys); a timed round's count is what the cache no longer held. Compiles
after the last round marker (shutdown, if any) are not shown.
"""
import re
import statistics
import sys

COMPILE = re.compile(r"^\S+ (?P<thread>.*) CodeGenerator: Code generated in (?P<ms>[\d.]+) ms")
SETUP = re.compile(r"^\[dumpsterbench\] set-up:")
ROUND = re.compile(r"^\[dumpsterbench\] round (?P<i>\d+)")
TASK_THREAD = "Executor task launch worker"


def phases(lines):
    """[(phase, driver, task, ms)] in log order."""
    out = []
    driver = task = 0
    ms = 0.0
    for line in lines:
        m = COMPILE.match(line)
        if m:
            if m["thread"].startswith(TASK_THREAD):
                task += 1
            else:
                driver += 1
            ms += float(m["ms"])
            continue
        r = ROUND.match(line)
        name = "warm-up" if SETUP.match(line) else f"round {r['i']}" if r else None
        if name:
            out.append((name, driver, task, ms))
            driver = task = 0
            ms = 0.0
    return out


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1], errors="replace") as f:
        rows = phases(f)
    if not rows:
        sys.exit(f"{sys.argv[1]}: no '[dumpsterbench] set-up' or 'round' line")
    print(f"{'phase':<10} {'driver':>7} {'task':>7} {'total':>7} {'compile_ms':>11}")
    for name, driver, task, ms in rows:
        print(f"{name:<10} {driver:>7} {task:>7} {driver + task:>7} {ms:>11.0f}")
    timed = [d + t for name, d, t, _ in rows if name != "warm-up"]
    if timed:
        print(f"timed rounds: median {statistics.median(timed):g} compiles per round")


if __name__ == "__main__":
    main()
