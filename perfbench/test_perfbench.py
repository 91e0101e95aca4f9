#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/test_perfbench.py          # arithmetic + JVM self-test
    PERFBENCH_SKIP_JVM=1 python3 perfbench/test_perfbench.py   # arithmetic only

The JVM half (graft.perfbench.SelfTest) checks that the generators are
deterministic per seed, that the cdc_lake reference snapshot is right on a
hand-built 20-event case, that a failing op is recorded rather than thrown,
and that a curation op repeated in fresh sessions is not served from the
engine's session memo.
"""
import os
import shutil
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

INF = stats.INF


def op(ms, kind="primary", ok=True, **metrics):
    return {"kind": kind, "ms": ms, "ok": ok, "family": "", "metrics": metrics, "id": 0}


def raw(ops, checks=(), wall_ms=10000.0):
    return {"ops": list(ops), "checks": list(checks), "window": {"wall_ms": wall_ms},
            "peak_rss_mb": 512.0, "heap_live_mb": 300.0, "extra": {},
            "setup": {"session_ms": 1000.0, "warmup_ms": 500.0,
                      "reps": [{"generate_ms": 100.0, "cache_ms": 0.0, "bootstrap_ms": 900.0},
                               {"generate_ms": 50.0, "cache_ms": 0.0, "bootstrap_ms": 450.0},
                               {"generate_ms": 60.0, "cache_ms": 0.0, "bootstrap_ms": 540.0}]}}


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [10.0, 20.0, 30.0, 40.0, 50.0]
        self.assertEqual(stats.percentile(xs, 50), 30.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 46.0)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertAlmostEqual(stats.percentile(list(range(1, 101)), 90), 90.1)

    def test_failed_op_is_beyond_every_percentile(self):
        lat = stats.op_latencies([op(10.0), op(20.0), op(30.0, ok=False)], "primary")
        self.assertEqual(lat, [10.0, 20.0, INF])
        self.assertEqual(stats.percentile(lat, 50), 20.0)
        self.assertEqual(stats.percentile(lat, 90), INF)

    def test_quartile_spread_matches_statistics(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        med, q1, q3, spread = stats.quartile_spread(xs)
        want_q1, _, want_q3 = statistics.quantiles(xs, n=4)
        self.assertEqual((med, q1, q3), (5.5, want_q1, want_q3))
        self.assertAlmostEqual(spread, (want_q3 - want_q1) / 5.5)


class ErrorRate(unittest.TestCase):
    def test_forced_failure_counts(self):
        r = raw([op(10.0), op(12.0), op(11.0, ok=False), op(5.0, kind="read")])
        attempted, failed = stats.outcome(r)
        self.assertEqual((attempted, failed), (4, 1))
        self.assertAlmostEqual(stats.error_rate(attempted, failed), 0.25)

    def test_wrong_result_counts(self):
        r = raw([op(10.0), op(12.0)], checks=[{"name": "x", "ok": False, "detail": ""}])
        self.assertEqual(stats.outcome(r), (2, 1))

    def test_clean_run(self):
        r = raw([op(10.0), op(12.0)], checks=[{"name": "x", "ok": True, "detail": ""}])
        self.assertEqual(stats.outcome(r), (2, 0))
        self.assertEqual(stats.error_rate(*stats.outcome(r)), 0.0)


class Metrics(unittest.TestCase):
    def test_end_to_end(self):
        r = raw([op(100.0), op(300.0), op(200.0), op(5.0, kind="read"), op(7.0, kind="read")],
                wall_ms=2000.0)
        e = stats.end_to_end(r)
        self.assertEqual(set(e), set(stats.END_TO_END))
        self.assertAlmostEqual(e["ops_per_s"], 1.5)
        self.assertEqual(e["latency_p50_ms"], 200.0)
        self.assertEqual(e["read_p50_ms"], 6.0)
        self.assertEqual(stats.tail(r)["latency"], {"n": 3, "p50": 200.0, "p90": 280.0})
        # session + median set-up repetition + warm-up
        self.assertAlmostEqual(e["setup_s"], (1000.0 + 600.0 + 500.0) / 1000.0)

    def test_reads_default_to_primary_ops(self):
        e = stats.end_to_end(raw([op(100.0), op(300.0)]))
        self.assertEqual(e["read_p50_ms"], e["latency_p50_ms"])

    def test_per_layer_medians_over_ops_that_touched_the_layer(self):
        r = raw([op(100.0, **{"commit.maint_ms": 40.0, "spark.jobs": 3.0}),
                 op(100.0, **{"spark.jobs": 5.0}),
                 op(100.0, **{"spark.jobs": 4.0}),
                 op(5.0, kind="read", **{"commit.read_ms": 4.0})])
        p = stats.per_layer(r)
        self.assertEqual(set(p), set(stats.PER_LAYER))
        self.assertEqual(p["commit.maint_ms"], 40.0)
        self.assertEqual(p["spark.jobs"], 4.0)
        self.assertEqual(p["commit.read_ms"], 4.0)
        self.assertEqual(p["ops.exec_ms"], 0.0)
        self.assertEqual(p["setup.bootstrap_ms"], 540.0)

    def test_self_time_subtracts_child_coverage(self):
        spans = [{"id": "op-0", "parent": None, "op": 0, "name": "op", "start": 0.0, "end": 100.0},
                 {"id": "l-1", "parent": "op-0", "op": 0, "name": "merge", "start": 10.0, "end": 60.0},
                 {"id": "j-1", "parent": "l-1", "op": 0, "name": "job", "start": 20.0, "end": 40.0},
                 {"id": "j-2", "parent": "l-1", "op": 0, "name": "job", "start": 30.0, "end": 50.0}]
        s = stats.self_times(spans)
        self.assertEqual(s["op"][0], 50.0)
        self.assertEqual(s["merge"][0], 20.0)
        self.assertEqual(s["job"][0], 40.0)

    def test_win_rate(self):
        self.assertEqual(compare.win_rate([10, 20], [5, 15], lower_better=True), 0.75)
        self.assertEqual(compare.win_rate([10], [10], lower_better=True), 0.5)


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_JVM") == "1", "JVM self-test skipped")
class JvmSelfTest(unittest.TestCase):
    def test_selftest(self):
        root = os.getcwd()
        classpath, _ = build.build(root)
        work = os.path.join(root, ".perfbench", "work", f"selftest-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            rc = run.run_jvm(classpath, ["graft.perfbench.Main", "--selftest", "1",
                                         "--work", work, "--cores", str(run.cores())], work, 600)
            with open(os.path.join(work, "jvm.log")) as fh:
                lines = [ln for ln in fh.read().splitlines() if ln.startswith(("PASS", "FAIL"))]
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("\n".join(lines))
        self.assertEqual(rc, 0, "\n".join(lines))
        self.assertEqual(len(lines), 7)


if __name__ == "__main__":
    unittest.main(verbosity=2)
