"""Metric arithmetic of the benchmark: percentiles, error rate, per-layer
medians and span self time. Pure functions over the JVM's raw record, so
they are testable without Spark (test_perfbench.py)."""
import math
import statistics

INF = float("inf")

# end-to-end metrics: name -> unit. Timings are medians: a run has 8 lake
# batches, 24 lake reads or 15 registry ops, too few for a p90 with ten
# samples beyond it (the p90s are kept in the artifact, with counts).
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "latency_p50_ms": "ms",
    "read_p50_ms": "ms",
    "heap_live_mb": "MiB",
}

# per-layer metrics: name -> (unit, which ops the per-op median is over)
PER_LAYER = {
    "cdc.ingest_ms": ("ms", "primary"),
    "cdc.events_in": ("count", "primary"),
    "cdc.dlq_rows": ("count", "primary"),
    "cdc.events_per_s": ("events/s", None),
    "commit.append_ms": ("ms", "primary"),
    "commit.merge_ms": ("ms", "primary"),
    "commit.maint_ms": ("ms", "primary"),
    "commit.read_ms": ("ms", "read"),
    "commit.rows_scanned_per_row_returned": ("ratio", "read"),
    "commit.rows_written_per_row_changed": ("ratio", "primary"),
    "commit.versions": ("count", "primary"),
    "commit.files_live": ("count", "primary"),
    "commit.files_written": ("count", "primary"),
    "commit.bytes_written": ("bytes", "primary"),
    "commit.storage_amplification": ("ratio", None),
    "ops.construct_ms": ("ms", "primary"),
    "ops.exec_ms": ("ms", "primary"),
    "ext.construct_ms": ("ms", "primary"),
    "ext.exec_ms": ("ms", "primary"),
    "ext.dedup_ms": ("ms", None),
    "ext.similarity_ms": ("ms", None),
    "ext.text_ms": ("ms", None),
    "ext.curation_ms": ("ms", None),
    "ext.cached_mb_after_op": ("MiB", "primary"),
    "sql.analysis_ms": ("ms", "primary"),
    "sql.optimize_ms": ("ms", "primary"),
    "sql.plan_ms": ("ms", "primary"),
    "sql.codegen_ms": ("ms", "primary"),
    "spark.jobs": ("count", "primary"),
    "spark.stages": ("count", "primary"),
    "spark.tasks": ("count", "primary"),
    "spark.task_run_ms": ("ms", "primary"),
    "spark.task_cpu_ms": ("ms", "primary"),
    "spark.core_busy_ratio": ("ratio", "primary"),
    "spark.driver_gap_ms": ("ms", "primary"),
    "spark.shuffle_read_bytes": ("bytes", "primary"),
    "spark.shuffle_write_bytes": ("bytes", "primary"),
    "spark.spill_bytes": ("bytes", "primary"),
    "spark.input_bytes": ("bytes", "primary"),
    "spark.output_bytes": ("bytes", "primary"),
    "spark.failed_tasks": ("count", "primary"),
    "jvm.gc_ms": ("ms", "primary"),
    "jvm.peak_rss_mb": ("MiB", None),
    "setup.session_ms": ("ms", None),
    "setup.generate_ms": ("ms", None),
    "setup.cache_ms": ("ms", None),
    "setup.bootstrap_ms": ("ms", None),
    "trace.overhead_ms": ("ms", "primary"),
}


def percentile(values, p):
    """Linear-interpolation percentile (numpy's default) of `values`;
    infinite values (failed ops) sort above every finite one."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    if lo == hi or xs[hi] == xs[lo]:
        return xs[lo]
    if math.isinf(xs[hi]):
        return INF
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def op_latencies(ops, kind):
    """Latencies of one kind of op; a failed op counts as beyond every
    percentile."""
    return [o["ms"] if o["ok"] else INF for o in ops if o["kind"] == kind]


def error_rate(attempted, failed):
    return failed / attempted if attempted else 0.0


def outcome(raw):
    """(attempted, failed): every timed op is attempted; an op fails when
    it threw or returned a wrong result, and each failed after-window check
    is one more wrong result."""
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    failed += sum(1 for c in raw["checks"] if not c["ok"])
    return attempted, min(failed, attempted)


def setup_seconds(raw):
    s = raw["setup"]
    reps = [sum(r.values()) for r in s["reps"]]
    return (s["session_ms"] + statistics.median(reps) + s["warmup_ms"]) / 1000.0


def latencies(raw):
    """{"latency": [...], "read": [...]}: primary-op and read-op latencies;
    on registry every op only reads, so its reads are its primary ops."""
    primary = op_latencies(raw["ops"], "primary")
    return {"latency": primary, "read": op_latencies(raw["ops"], "read") or primary}


def end_to_end(raw):
    lat = latencies(raw)
    done = sum(1 for o in raw["ops"] if o["kind"] == "primary" and o["ok"])
    return {
        "setup_s": setup_seconds(raw),
        "ops_per_s": done / (raw["window"]["wall_ms"] / 1000.0),
        "latency_p50_ms": percentile(lat["latency"], 50),
        "read_p50_ms": percentile(lat["read"], 50),
        "heap_live_mb": raw["heap_live_mb"],
    }


def tail(raw):
    """Sample count, p50 and p90 of each latency kind, for the artifact."""
    return {k: {"n": len(v), "p50": percentile(v, 50), "p90": percentile(v, 90)}
            for k, v in latencies(raw).items()}


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(raw):
    """Per-op medians of each layer figure over the ops that touched the
    layer (0 when no op did), plus the run-level layer figures."""
    ops = [o for o in raw["ops"] if o["ok"]]
    out = {}
    for name, (_, kind) in PER_LAYER.items():
        if kind is not None:
            out[name] = median_or_zero(
                [o["metrics"][name] for o in ops if o["kind"] == kind and name in o["metrics"]])
    for fam in ("dedup", "similarity", "text", "curation"):
        out[f"ext.{fam}_ms"] = median_or_zero(
            [o["ms"] for o in ops if o["kind"] == "primary" and o.get("family") == fam])
    extra = raw.get("extra", {})
    window_s = raw["window"]["wall_ms"] / 1000.0
    events = sum(o["metrics"].get("cdc.events_in", 0.0) for o in ops)
    out["cdc.events_per_s"] = events / window_s
    amp = extra.get("storage_amplification")
    out["commit.storage_amplification"] = amp if isinstance(amp, (int, float)) else 0.0
    out["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    s = raw["setup"]
    out["setup.session_ms"] = s["session_ms"]
    for k in ("generate_ms", "cache_ms", "bootstrap_ms"):
        out[f"setup.{k}"] = statistics.median(r[k] for r in s["reps"])
    return out


def union_length(intervals, lo, hi):
    total, cur = 0.0, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur and s <= cur[1]:
            cur[1] = max(cur[1], e)
        else:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
    if cur:
        total += cur[1] - cur[0]
    return total


def self_times(spans):
    """Self time of each span (its length minus the time its children
    cover), summed per span name and op: {name: {op: ms}}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(kids.get(s["id"], []), s["start"], s["end"])
        own = max(0.0, s["end"] - s["start"] - covered)
        per_op = out.setdefault(s["name"], {})
        per_op[s["op"]] = per_op.get(s["op"], 0.0) + own
    return out


def quartile_spread(values):
    """(median, q1, q3, (q3 - q1) / median) with Python's default
    `statistics.quantiles(values, n=4)`."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, ((q3 - q1) / med if med else INF)
