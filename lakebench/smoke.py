#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on sf0.001 inputs and short runs.

    python3 lakebench/smoke.py

Checks that
- every end-to-end metric (untraced) and every per-layer metric (traced)
  prints by name with its unit and appears in the final JSON line;
- a traced run writes a span file whose spans link to their parents;
- a wrong row injected on the model side fails the lake check;
- a wrong row injected into an oracle's rows fails the query check;
- a query that throws is counted as failed.
Exits 0 when all hold.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
problems = []


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--sf", "0.001",
           *extra]
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        problems.append(f"{workload} {extra}: exit {p.returncode}: {p.stderr[-2000:]}")
        return None, p.stdout
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def expect(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        problems.append(msg)


def metrics_printed(res, out, kind):
    specs = SPEC["end_to_end" if kind == "end_to_end" else "per_layer"]
    names = {m["name"] for m in specs}
    expect(res is not None and set(res["metrics"]) == names, f"{kind}: final JSON has exactly the {len(names)} metrics")
    printed = dict(re.findall(r"^metric (\S+) = \S+ (\S+)", out, re.M))
    expect(all(printed.get(m["name"]) == m["unit"] for m in specs), f"{kind}: every metric printed with its unit")


def main():
    res, out = run("lake", 0)
    metrics_printed(res, out, "end_to_end")
    expect(res is not None and res["correct"] and res["failed"] == 0, "lake: all operations and checks pass")

    res, out = run("lake", 1, "--inject-wrong-row")
    metrics_printed(res, out, "per_layer")
    spans = os.path.join(HERE, ".work", "results", "spans-lake-s7-t1.jsonl")
    rows = [json.loads(ln) for ln in open(spans)] if os.path.exists(spans) else []
    ids = {r["id"] for r in rows}
    expect(rows and all(r["parent"] == 0 or r["parent"] in ids for r in rows)
           and any(r["name"] == "spark.job" for r in rows)
           and any(r["name"].startswith("catalyst.") for r in rows), "traced run wrote linked spans")
    expect(res is not None and not res["correct"] and "FAILED final.api" in out,
           "injected wrong model row is caught")

    res, out = run("query_suite", 0, "--inject-wrong-row", "--inject-failing-query")
    metrics_printed(res, out, "end_to_end")
    expect("FAILED smoke.throwing_query" in out, "a query that throws is counted as failed")
    expect(re.search(r"^FAILED oracle\.\S+: 1 of 1: .*injected", out, re.M) is not None,
           "injected wrong oracle row is caught")
    expect(res is not None and res["failed"] >= 3, "failures reach the failed count")
    print("smoke:", "PASS" if not problems else f"{len(problems)} problem(s)")
    for p in problems:
        print("  " + p[:3000])
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
