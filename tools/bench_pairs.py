#!/usr/bin/env python3
"""Alternating parent/change pairs of one benchmark workload.

    python3 tools/bench_pairs.py --workload archive_query --base HEAD~1
        [--pairs 10] [--first-seed 1] [--workdir DIR]

Exports the parent commit with `git archive` into <--workdir>/<its SHA> (a new
/tmp dir by default); the change side is this checkout. Pair i runs
dumpsterbench/run.py untraced with seed first-seed+i on both sides, parent
first in even pairs. Prints every run, then per end-to-end metric each side's
median and quartiles, the change's wins (ties count for neither) and whether a
gain may be claimed: nine tenths wins and a median gap over the parent's IQR.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(sha, workdir):
    dest = os.path.join(workdir, sha)
    if not os.path.isdir(dest):  # extracted beside it first, so a cut export is never reused
        tar = subprocess.run(["git", "-C", ROOT, "archive", sha], check=True, capture_output=True).stdout
        tmp = tempfile.mkdtemp(dir=workdir)
        subprocess.run(["tar", "-x", "-C", tmp], input=tar, check=True)
        os.rename(tmp, dest)
    return dest


def run(tree, bench, workload, seed):
    p = subprocess.run(["python3", os.path.join(tree, "dumpsterbench", "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{tree} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    if not r["correct"] or r["failed"]:
        sys.exit(f"{tree} seed {seed}: incorrect result {r}")
    return {k: v["value"] for k, v in r["metrics"].items()}


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--base", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workdir")
    a = ap.parse_args()
    workdir = a.workdir or tempfile.mkdtemp(prefix="bench_pairs_", dir="/tmp")
    os.makedirs(workdir, exist_ok=True)
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", a.base + "^{commit}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    trees = {"parent": export(sha, workdir), "change": ROOT}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.first_seed + i
        for side in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
            runs[side].append(run(trees[side], bench, a.workload, seed))
            print(f"pair {i} seed {seed} {side}: " +
                  " ".join(f"{k}={v:.4g}" for k, v in runs[side][-1].items()), flush=True)
    print(f"\n{a.workload}: {a.pairs} pairs, parent {sha}, change checkout")
    for m in bench["end_to_end"]:
        k, sign = m["name"], (1 if m["better"] == "higher" else -1)
        p, c = [r[k] for r in runs["parent"]], [r[k] for r in runs["change"]]
        qp, qc = statistics.quantiles(p, n=4), statistics.quantiles(c, n=4)
        wins = sum(sign * (y - x) > 0 for x, y in zip(p, c))
        gap = sign * (statistics.median(c) - statistics.median(p))
        claim = wins >= 0.9 * a.pairs and gap > qp[2] - qp[0]
        print(f"  {k:20s} parent {qp[1]:10.4g} [{qp[0]:.4g}, {qp[2]:.4g}]  change {qc[1]:10.4g} "
              f"[{qc[0]:.4g}, {qc[2]:.4g}]  wins {wins}/{a.pairs}  claim {'yes' if claim else 'no'}")


if __name__ == "__main__":
    main()
