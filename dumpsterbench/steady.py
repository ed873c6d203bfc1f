#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, against BENCHMARK.json.

    python3 dumpsterbench/steady.py --runs 10 [--workloads merge_day ...] [--first-seed 1]

Runs run.py once per seed on each workload (untraced), then prints, per
workload and metric, the median of the runs, the spread (distance between
the first and third quartile as a share of the median, the statistic
`statistics.quantiles(values, n=4)` gives) and the metric's bound, flagging
spreads above a third of the bound. Also prints each run's wall time and
the share of the machine's CPU time the hypervisor took (steal) during its
timed rounds.
Run from the repository root.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
import time


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads:
        values, walls = {}, []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                                   str(bench["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            r = json.loads(p.stdout.strip().splitlines()[-1])
            if not r["correct"] or r["failed"]:
                sys.exit(f"{w} seed {seed}: incorrect result {r}")
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            steal = re.search(r"steal: the hypervisor took ([0-9.]+) %", p.stderr)
            print(f"{w} seed {seed}: {walls[-1]:.1f} s  steal {steal.group(1) if steal else '?'} %  " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        print(f"\n{w}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for k, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
            spread = (q[2] - q[0]) / med if med else float("inf")
            b = bounds.get(k)
            flag = "" if b is None or spread < b / 3 else "  <-- above bound/3"
            print(f"  {k:20s} median {med:12.4g}  spread {spread:6.3f}  bound {b}{flag}")
        print(flush=True)


if __name__ == "__main__":
    main()
