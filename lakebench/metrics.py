"""Turn one run's raw harness output into the reported metrics.

The metric names and units come from BENCHMARK.json at the repository
root; every workload reports every metric of the requested kind
(end-to-end untraced, per-layer traced).
"""
import collections
import json
import math
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
END_TO_END = {m["name"]: m for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m for m in SPEC["per_layer"]}
TIMED = ("primary", "secondary", "other")


def quantile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def summarize(raw, checks, trace):
    """Metrics, sample counts and failures of one run."""
    ops = raw["ops"] + [dict(c, cls="check", ms=0.0) for c in checks]
    timed = [o for o in ops if o["cls"] in TIMED]
    samples = {}
    e2e = {
        "setup_s": statistics.median(raw["setup_cpu_s"]),
        "peak_rss_mb": raw["layers"]["jvm.peak_rss_mb"],
        "ops_per_cpu_s": len(timed) / (sum(o["cpu_ms"] for o in timed) / 1000.0),
    }
    samples["setup_s"] = len(raw["setup_s"])
    samples["ops_per_cpu_s"] = len(timed)
    for cls in ("primary", "secondary"):
        xs = [o["cpu_ms"] for o in timed if o["cls"] == cls]
        e2e[f"{cls}_cpu_ms"] = statistics.mean(xs) if xs else float("nan")
        samples[f"{cls}_cpu_ms"] = len(xs)
    # wall-clock figures, printed for reading but not gated: on a host whose
    # hypervisor steals CPU they move with the steal
    wall = {"ops_per_s": len(timed) / raw["window_s"], "setup_s": statistics.median(raw["setup_s"])}
    for cls in ("primary", "secondary"):
        xs = [o["ms"] for o in timed if o["cls"] == cls]
        if raw["workload"] == "query_suite":
            # one latency per query: the median of its timed runs
            runs = collections.defaultdict(list)
            for o in timed:
                if o["cls"] == cls:
                    runs[o["kind"]].append(o["ms"])
            xs = [statistics.median(v) for v in runs.values()]
        for q in (50, 75):
            wall[f"{cls}_p{q}_ms"] = quantile(xs, q / 100) if xs else float("nan")
        wall[f"{cls}_n"] = len(xs)
    failed = [o for o in ops if not o["ok"]]
    layers = {k: 0.0 for k in PER_LAYER}
    layers.update({k: v for k, v in raw["layers"].items() if k in PER_LAYER and v is not None})
    layers["failed_ratio"] = len(failed) / len(ops)
    by_kind = collections.Counter(o["kind"] for o in ops)
    failures = {}
    for o in failed:
        f = failures.setdefault(o["kind"], {"failed": 0, "attempted": by_kind[o["kind"]], "err": o["err"]})
        f["failed"] += 1
    by_kind_ms = collections.defaultdict(list)
    for o in timed:
        by_kind_ms[o["kind"]].append(o["ms"])
    metrics = {}
    for name, spec in (PER_LAYER if trace else END_TO_END).items():
        metrics[name] = {"value": (layers if trace else e2e)[name], "unit": spec["unit"]}
    return {"metrics": metrics, "e2e": e2e, "wall": wall, "samples": samples, "attempted": len(ops),
            "failed": len(failed), "failures": failures, "window_s": raw["window_s"],
            "setup_samples": raw["setup_s"],
            "by_kind": {k: (len(v), quantile(v, 0.5)) for k, v in by_kind_ms.items()}, "ops_by_class": collections.Counter(o["cls"] for o in ops)}


def report(summary, results_dir):
    """Print every metric by name with its unit, the sample counts behind
    each percentile, the failures by operation and, for a traced run, its
    end-to-end metrics beside the untraced run of the same seed."""
    info = summary["info"]
    print("lakebench " + " ".join(f"{k}={info[k]}" for k in sorted(info)))
    print(f"window {summary['window_s']:.2f} s; operations by class: "
          + ", ".join(f"{k}={v}" for k, v in sorted(summary["ops_by_class"].items())))
    for name, m in summary["metrics"].items():
        n = summary["samples"].get(name)
        extra = f"  (mean over n={n})" if n is not None and name.endswith("_cpu_ms") else (
            f"  (n={n})" if n is not None else "")
        print(f"metric {name} = {m['value']:.6g} {m['unit']}{extra}")
    w = summary["wall"]
    print(f"wall ops_per_s = {w['ops_per_s']:.4g} 1/s")
    print(f"wall setup_s = {w['setup_s']:.4g} s  (median over n={len(summary['setup_samples'])})")
    for cls in ("primary", "secondary"):
        n = w[f"{cls}_n"]
        for q in (50, 75):
            print(f"wall {cls}_p{q}_ms = {w[f'{cls}_p{q}_ms']:.4g} ms  "
                  f"(n={n}, {n - math.ceil(n * q / 100)} samples above p{q})")
    for kind, (n, p50) in sorted(summary["by_kind"].items()):
        print(f"operation {kind}: n={n} p50={p50:.1f} ms")
    for kind, f in sorted(summary["failures"].items()):
        print(f"FAILED {kind}: {f['failed']} of {f['attempted']}: {f['err']}")
    if info["trace"]:
        base = os.path.join(results_dir, f"{info['workload']}-s{info['seed']}-t0.json")
        plain = json.load(open(base))["e2e"] if os.path.exists(base) else None
        for name, v in summary["e2e"].items():
            unit = END_TO_END[name]["unit"]
            if plain is None:
                print(f"traced {name} = {v:.6g} {unit} (no untraced run of this seed to compare)")
            else:
                d = v - plain[name]
                rel = d / plain[name] if plain[name] else float("nan")
                print(f"traced {name} = {v:.6g} {unit}; untraced {plain[name]:.6g}; "
                      f"tracing overhead {d:+.6g} {unit} ({rel:+.1%})")
