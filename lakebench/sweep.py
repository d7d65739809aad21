#!/usr/bin/env python3
"""Run the benchmark over a range of seeds and keep the run summaries.

    python3 lakebench/sweep.py --out DIR [--seeds 1-10] [--workloads a,b]
        [--trace 0|1] [--seconds N]

Each run's summary (`<workload>-s<seed>-t<trace>.json`) is copied into
DIR, which `compare.py` then reads as one set of runs.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    a = ap.parse_args()
    lo, _, hi = a.seeds.partition("-")
    os.makedirs(a.out, exist_ok=True)
    for seed in range(int(lo), int(hi or lo) + 1):
        for w in a.workloads.split(","):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
                               cwd=REPO, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            print(f"{w} seed {seed}: exit {p.returncode} {last[:300]}", flush=True)
            src = os.path.join(HERE, ".work", "results", f"{w}-s{seed}-t{a.trace}.json")
            if p.returncode == 0 and os.path.exists(src):
                shutil.copy(src, a.out)
            else:
                print(p.stderr[-2000:], file=sys.stderr)


if __name__ == "__main__":
    main()
