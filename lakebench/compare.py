#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or check the spread of one set.

    python3 lakebench/compare.py BASE_DIR [NEW_DIR]

A set is a directory of the per-run summaries `run.py` leaves in
`lakebench/.work/results/` (`<workload>-s<seed>-t0.json`). With one set,
prints per workload and end-to-end metric the median, the quartiles and
the spread (interquartile distance / median) against the metric's bound.
With two, also the relative change of the medians, the pairwise wins of
NEW over BASE (runs paired by seed; ties count for neither) and a verdict:

- `better` / `worse`: NEW wins / loses at least 9 of 10 pairs and the
  medians differ by more than BASE's own spread;
- `within bound`: NEW's median is no worse than BASE's by more than the
  bound;
- `regressed`: worse than the bound allows;
- `unresolved`: either side's spread exceeds the bound, unless every NEW
  run beats every BASE run.

Traced summaries (`-t1`) are compared the same way on the per-layer
metrics when both sets hold them, without verdicts (no bounds).
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
E2E = {m["name"]: m for m in SPEC["end_to_end"]}


def load(d, trace):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, f"*-t{trace}.json"))):
        s = json.load(open(p))
        w, seed = s["info"]["workload"], s["info"]["seed"]
        vals = s["e2e"] if trace == 0 else {k: v["value"] for k, v in s["metrics"].items()}
        runs.setdefault(w, {})[seed] = vals
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def verdict(name, base, new):
    spec = E2E[name]
    lower = spec["better"] == "lower"
    b, n = list(base.values()), list(new.values())
    mb, mn = statistics.median(b), statistics.median(n)
    pairs = [(base[s], new[s]) for s in base if s in new]
    wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
    losses = sum(1 for x, y in pairs if (y > x if lower else y < x))
    worse_by = ((mn - mb) if lower else (mb - mn)) / abs(mb) if mb else 0.0
    all_better = all((y < x if lower else y > x) for x in b for y in n)
    bq1, _, bq3 = quartiles(b)
    if (max(spread(b), spread(n)) > spec["bound"] and not all_better) or not pairs:
        v = "unresolved"
    elif wins >= 0.9 * len(pairs) and abs(mn - mb) > (bq3 - bq1):
        v = "better"
    elif losses >= 0.9 * len(pairs) and abs(mn - mb) > (bq3 - bq1):
        v = "worse" if worse_by <= spec["bound"] else "regressed"
    else:
        v = "within bound" if worse_by <= spec["bound"] else "regressed"
    return mb, mn, wins, losses, len(pairs), v


def fmt(q):
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__)
        return 2
    base = load(argv[1], 0)
    new = load(argv[2], 0) if len(argv) == 3 else None
    worst = 0
    for w in sorted(base):
        print(f"== {w} ({len(base[w])} base runs" + (f", {len(new.get(w, {}))} new runs)" if new else ")"))
        for name, spec in E2E.items():
            b = {s: r[name] for s, r in base[w].items()}
            line = f"  {name:18s} {spec['unit']:>5s}  base {fmt(quartiles(list(b.values())))} " \
                   f"spread {spread(list(b.values())):.3f} (bound {spec['bound']})"
            if new is not None and w in new:
                n = {s: r[name] for s, r in new[w].items()}
                mb, mn, wins, losses, pairs, v = verdict(name, b, n)
                line += f"  new {fmt(quartiles(list(n.values())))} spread {spread(list(n.values())):.3f}" \
                        f"  change {((mn - mb) / mb if mb else 0):+.1%}  wins {wins}/{pairs} " \
                        f"losses {losses}/{pairs}  {v}"
                worst = max(worst, v in ("regressed", "unresolved"))
            elif spread(list(b.values())) > spec["bound"]:
                line += "  SPREAD ABOVE BOUND"
                worst = 1
            print(line)
    if new is not None:
        tb, tn = load(argv[1], 1), load(argv[2], 1)
        for w in sorted(set(tb) & set(tn)):
            print(f"== {w} per-layer medians (traced runs)")
            names = next(iter(tb[w].values())).keys()
            for name in names:
                mb = statistics.median(r[name] for r in tb[w].values())
                mn = statistics.median(r[name] for r in tn[w].values())
                if mb or mn:
                    print(f"  {name:40s} base {mb:.6g}  new {mn:.6g}")
    return worst


if __name__ == "__main__":
    sys.exit(main(sys.argv))
