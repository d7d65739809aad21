#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 lakebench/run.py --workload <lake|query_suite>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt when their
sources changed since the last build, generates the seeded inputs, runs
the workload in one JVM (Spark `local[n]`, one client thread, closed
loop), checks every output, prints each metric by name with its unit,
and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer metrics and writes the span file. Everything it writes
stays under `lakebench/.work/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
DEADLINE_S = 175      # every run ends within this, build excluded
BUILD_TIMEOUT_S = 850
SF = 0.01             # 15k orders, 60k lineitem rows
# Parallel GC with a fixed heap and young generation keeps the resident
# set the same from run to run and lets it show the program's live data
# (under G1 with a fixed heap it reads the heap size). C1-only
# compilation reaches steady code within the warm-up; under tiered C2 the
# reads of the timed window still cost 30-60% more CPU in their first
# cycle than in their second, while C2 compiles them. See METRICS.md.
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import gen_data  # noqa: E402
import metrics as M  # noqa: E402


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, REPO).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness with sbt when the sources changed; return
    the runtime classpath."""
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read().strip(), want
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], HERE, out, BUILD_TIMEOUT_S)
    cps = [ln.strip() for ln in open(log) if "classes" in ln and ln.count(":") > 10]
    if rc != 0 or not cps:
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(want)
    return cps[-1], want


def run_bounded(cmd, cwd, out, timeout, env=None):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def machine():
    cpus = min(4, os.cpu_count() or 1)
    mem_gb = 4
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
        mem_gb = kb / 1048576
    except (OSError, StopIteration, ValueError):
        pass
    heap_gb = 3 if mem_gb >= 8 else 2
    return cpus, f"{heap_gb}g", f"{heap_gb * 256}m"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(M.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-wrong-row", action="store_true",
                    help="smoke test only: corrupt one expected row (the lake model's or "
                         "an oracle's) so the checker must fail")
    ap.add_argument("--inject-failing-query", action="store_true",
                    help="smoke test only: add a query that throws to query_suite")
    ap.add_argument("--sf", type=float, default=SF, help="scale factor of the generated inputs")
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the engine")
    classpath, src_hash = build()
    t_start = time.monotonic()

    cpus, heap, young = machine()
    data = os.path.join(WORK, "data", f"sf{args.sf}-s{args.seed}")
    gen_data.write_tables(data, args.sf, args.seed)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out_json = os.path.join(run_dir, "result.json")
    spans = os.path.join(results, f"spans-{tag}.jsonl")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Xmn{young}"] + JVM_FLAGS +
           [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", classpath, "lakebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--data", data,
            "--cpus", str(cpus), "--out", out_json, "--spans", spans,
            "--inject-wrong-row", str(int(args.inject_wrong_row)),
            "--inject-failing-query", str(int(args.inject_failing_query))])
    env = dict(os.environ, SPARK_DRIVER_MEM=heap, SPARK_GRAFT_CPUS=str(cpus))
    log = os.path.join(run_dir, "jvm.log")
    remaining = DEADLINE_S - (time.monotonic() - t_start)
    print(f"run: jvm starts at {time.monotonic() - t_start:.1f} s")
    steal0 = cpu_steal()
    with open(log, "w") as out:
        rc = run_bounded(cmd, run_dir, out, max(remaining, 10), env)
    steal = cpu_steal(steal0)
    if rc != 0 or not os.path.exists(out_json):
        tail = "".join(open(log).readlines()[-30:])
        fail(f"workload JVM exited with {rc}; last log lines:\n{tail}")
    raw = json.load(open(out_json))
    print(f"run: jvm done at {time.monotonic() - t_start:.1f} s; phases: " + "; ".join(
        ln.split("lakebench phase ")[1].strip() for ln in open(log) if "lakebench phase " in ln))

    checks = []
    t_check = time.monotonic()
    if args.workload == "query_suite":
        import oracle
        checks = oracle.check(data, os.path.join(run_dir, "query-results"),
                              inject_wrong_row=args.inject_wrong_row)
    print(f"run: output checks took {time.monotonic() - t_check:.1f} s")
    summary = M.summarize(raw, checks, args.trace)
    summary["info"] = dict(raw["info"], cpus=cpus, heap=heap, seed=args.seed,
                           source_hash=src_hash, git_sha=git_sha(),
                           data=os.path.relpath(data, REPO),
                           seconds=args.seconds, workload=args.workload, trace=args.trace,
                           cpu_steal=round(steal, 4))
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    M.report(summary, results)
    shutil.copy(out_json, os.path.join(results, f"{tag}.raw.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": summary["failed"] == 0, "attempted": summary["attempted"],
                      "failed": summary["failed"], "metrics": summary["metrics"]}))


def cpu_steal(base=None):
    """Share of CPU time the hypervisor took from this machine since
    `base` (a /proc/stat sample); with no base, return a sample."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0.0 if base else None
    if base is None:
        return ticks
    d = [a - b for a, b in zip(ticks, base)]
    return d[7] / sum(d) if sum(d) else 0.0


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


if __name__ == "__main__":
    main()
