#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload cdc_lake|registry \
        --seed N --seconds S --trace 0|1 [--out-dir DIR]

Run from the root of a checkout of the engine. The first run builds the
engine and the benchmark (perfbench/build.py). The JVM side
(graft.perfbench.Main) generates the inputs from the seed, sets up, warms
up, runs the closed loop for S seconds and checks its outputs; this script
turns its raw record into metrics, runs the DuckDB oracle for registry,
stores an artifact per run (default .perfbench/runs/) and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("cdc_lake", "registry")
RUN_LIMIT_S = 175

# Spark 4 on JDK 17 outside spark-submit needs the launcher's module opens
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """The tier-1 SPARK_DRIVER_MEM rule: half of MemTotal in GiB, 2..8."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, args, work, timeout):
    # -XX:-UsePerfData: the JVM would otherwise write a perf-data file under
    # the system temp directory, outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap()}", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = open(f"{work}/jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        log.close()


def printable(v, cap):
    return cap if v == stats.INF else v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out-dir", default=None, help="artifact directory")
    a = ap.parse_args()

    t_start = time.time()
    root = os.getcwd()
    try:
        classpath, code = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    build_s = time.time() - t_start

    work = os.path.join(root, ".perfbench", "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    n = cores()
    args = ["graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(n),
            "--work", work, "--out", raw_path]
    try:
        rc = run_jvm(classpath, args, work, RUN_LIMIT_S - (time.time() - t_start - build_s))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    if rc != 0 or not os.path.exists(raw_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        print(f"perfbench: JVM exited with {rc}", file=sys.stderr)
        return 1
    with open(raw_path) as fh:
        raw = json.load(fh)

    t_oracle = time.time()
    if a.workload == "registry":
        raw["checks"] += [{"name": f"oracle_{e}", "ok": ok, "detail": d} for e, ok, d
                          in oracle.check(raw["extra"]["tables_dir"], raw["extra"]["oracle"])]
    oracle_s = time.time() - t_oracle
    attempted, failed = stats.outcome(raw)
    correct = failed == 0 and all(c["ok"] for c in raw["checks"])
    window_ms = raw["window"]["wall_ms"]
    e2e = {k: printable(v, window_ms) for k, v in stats.end_to_end(raw).items()}
    layer = stats.per_layer(raw) if a.trace else {}

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "context": {
            "seed": a.seed, "cores": n, "heap": heap(), "heap_mb": raw["heap_mb"],
            "git_commit": git_commit(root), "code": code,
            "spark_version": raw["spark_version"], "window": raw["window"],
            "build_s": build_s, "verify_ms": raw["verify_ms"], "oracle_s": oracle_s,
            "run_s": time.time() - t_start,
        },
        "correct": correct, "attempted": attempted, "failed": failed,
        "error_rate": stats.error_rate(attempted, failed),
        "latency_detail": {k: {m: printable(v, window_ms) for m, v in d.items()}
                           for k, d in stats.tail(raw).items()},
        "end_to_end": e2e, "per_layer": layer,
        "setup": raw["setup"], "checks": raw["checks"], "extra": raw["extra"],
        "ops": [{k: o[k] for k in ("kind", "name", "ms", "ok", "error")} for o in raw["ops"]],
    }
    if a.trace:
        spans = raw.get("spans", [])
        primary_ops = {o["id"] for o in raw["ops"] if o["kind"] == "primary"}
        artifact["self_ms"] = {
            name: stats.median_or_zero([per_op.get(i, 0.0) for i in primary_ops])
            for name, per_op in stats.self_times(spans).items()}
        artifact["spans"] = spans
    out_dir = a.out_dir or os.path.join(root, ".perfbench", "runs")
    os.makedirs(out_dir, exist_ok=True)
    if a.trace:
        untraced = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            artifact["trace_overhead"] = {
                k: {"untraced": base[k], "traced": v, "delta": v - base[k]}
                for k, v in e2e.items() if k in base}
    with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for c in raw["checks"]:
        if not c["ok"]:
            print(f"perfbench: check {c['name']} failed: {c['detail']}", file=sys.stderr)
    for o in raw["ops"]:
        if not o["ok"]:
            print(f"perfbench: op {o['name']} failed: {o['error']}", file=sys.stderr)
    if a.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, (u, _) in stats.PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in stats.END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
