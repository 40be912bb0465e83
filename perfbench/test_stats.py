"""Tests of the benchmark's statistics: python3 -m unittest perfbench/test_stats.py"""

import math
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402


def op(i, wall, calls=5, failed=0, traced=False, items=100):
    return {"id": i, "wall_s": wall, "calls": calls, "failed": failed, "traced": traced,
            "items": items, "gc_s": 0.0, "errors": [], "detail": {}}


def span(i, name, parent, start, end, op_id=1, **counters):
    return {"id": i, "name": name, "parent": parent, "op": op_id, "start_s": start,
            "end_s": end, "counters": counters}


class MedianAndPercentiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertTrue(math.isnan(stats.median([])))

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 100)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(40), 75)
        # fewer than 21 samples leave no percentile above the median
        self.assertIsNone(stats.tail_percentile(20))
        self.assertIsNone(stats.tail_percentile(3))
        for n in (25, 100, 137, 1000):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, n)


class FailuresAndSamples(unittest.TestCase):
    def test_error_carrying_result_counts_as_failed(self):
        # the engine returns a failed sync as a normal result with `error`;
        # the JVM side counts it in the op's `failed`
        ops = [op(1, 20.0), op(2, 3.0, failed=1)]
        failed, attempted, frac = stats.failed_frac(ops)
        self.assertEqual((failed, attempted), (1, 10))
        self.assertAlmostEqual(frac, 0.1)

    def test_failed_op_stays_out_of_latency_samples(self):
        rec = {"ops": [op(1, 20.0), op(2, 3.0, failed=5, items=0), op(3, 22.0)],
               "setup": {"state_s": [1.0], "ready_s": 2.0},
               "session_s": 1.0, "rss_peak_mb": 1.0}
        m = stats.e2e_metrics(rec)
        self.assertEqual(m["op_p50_s"], (21.0, "s", 2))
        self.assertAlmostEqual(m["items_per_s"][0], 200 / 45.0)
        self.assertAlmostEqual(m["success_frac"][0], 1 - 5 / 15)
        self.assertEqual(stats.named_metrics(rec, "daily_sync")["failed_frac"][2], 15)

    def test_e2e_metrics_report_sample_counts(self):
        rec = {"ops": [op(1, 20.0), op(2, 22.0), op(3, 30.0)],
               "setup": {"state_s": [0.5, 0.2, 0.3], "ready_s": 6.0},
               "session_s": 5.0, "rss_peak_mb": 1000.0}
        m = stats.e2e_metrics(rec)
        self.assertEqual(m["op_p50_s"], (22.0, "s", 3))
        # the three set-ups count once, at their median
        self.assertEqual(m["setup_s"][2], 3)
        self.assertAlmostEqual(m["setup_s"][0], 6.0 - 1.0 + 0.3)
        self.assertAlmostEqual(m["items_per_s"][0], 300 / 72.0)
        self.assertEqual(m["success_frac"], (1.0, "ratio", 15))

    def test_traced_ops_stay_out_of_end_to_end_samples(self):
        rec = {"ops": [op(1, 20.0), op(2, 99.0, traced=True)],
               "setup": {"state_s": [1.0], "ready_s": 2.0},
               "session_s": 1.0, "rss_peak_mb": 1.0}
        self.assertEqual(stats.e2e_metrics(rec)["op_p50_s"], (20.0, "s", 1))


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        parent = span(1, "ops.sync", 0, 0.0, 10.0)
        kids = [span(2, "a", 1, 1.0, 4.0), span(3, "b", 1, 3.0, 6.0),
                span(4, "c", 1, 8.0, 12.0)]  # overlaps and overhang are not double counted
        self.assertAlmostEqual(stats.self_time(parent, kids), 10.0 - 5.0 - 2.0)

    def test_accounting_of_a_traced_op(self):
        spans = [span(1, "ops.cycle", 0, 0.0, 10.0),
                 span(2, "ops.sync", 1, 0.5, 9.5),
                 span(3, "etl.plan", 2, 0.5, 1.0),
                 span(4, "cube.aggregate", 2, 1.0, 5.0, jobs=3, run_ms=8000),
                 span(5, "sinks.merge", 2, 5.0, 9.0, jobs=4)]
        rec = {"ops": [op(1, 10.0, traced=True)], "spans": spans}
        self.assertEqual(stats.check_accounting(rec), [])
        kids = stats.children_of(spans)
        self.assertAlmostEqual(stats.ops_self(spans[0], kids), 1.0 + 0.5)
        self.assertAlmostEqual(stats.op_layer_time(spans[0], kids), 8.5)
        # a wall time the spans do not cover is reported
        rec["ops"][0]["wall_s"] = 12.0
        self.assertEqual(len(stats.check_accounting(rec)), 1)

    def test_traced_and_untraced_ops_make_the_same_jobs(self):
        rec = {"ops": [dict(op(1, 30.0, traced=True), jobs=82),
                       dict(op(2, 11.0, traced=True), jobs=83), dict(op(3, 10.0), jobs=83)]}
        self.assertEqual(stats.check_same_work(rec), [])
        rec["ops"][2]["jobs"] = 84
        self.assertEqual(len(stats.check_same_work(rec)), 1)
        self.assertEqual(stats.check_same_work(rec, tolerance=1), [])
        rec["ops"][2]["jobs"] = 85
        self.assertEqual(len(stats.check_same_work(rec, tolerance=1)), 1)
        # untraced runs count no jobs
        self.assertEqual(stats.check_same_work({"ops": [op(1, 10.0)]}), [])

    def test_layer_metrics_describe_the_first_op(self):
        spans = [span(1, "ops.cycle", 0, 0.0, 10.0),
                 span(2, "cube.aggregate", 1, 1.0, 5.0, jobs=3, run_ms=8000,
                      input_bytes=100),
                 # a later traced op, which only feeds the tracing overhead
                 span(3, "ops.cycle", 0, 30.0, 37.0, op_id=2),
                 span(4, "cube.aggregate", 3, 30.0, 36.0, op_id=2, jobs=3)]
        rec = {"ops": [op(1, 10.0, traced=True), op(2, 7.0, traced=True), op(3, 6.5)],
               "spans": spans, "posture": {"nproc": 4}, "session_s": 5.0,
               "setup": {"state_s": [1.0, 3.0, 2.0], "ready_s": 9.0}}
        m = stats.layer_metrics(rec)
        self.assertEqual(m["cube.aggregate_s"], (4.0, "s"))
        self.assertEqual(m["cube.aggregate_jobs"], (3, "count"))
        self.assertAlmostEqual(m["cube.slot_util"][0], 8.0 / (4.0 * 4))
        self.assertEqual(m["ops.self_s"], (6.0, "s"))
        self.assertEqual(m["setup.state_s"], (2.0, "s"))
        self.assertAlmostEqual(m["trace.overhead_s"][0], 0.5)
        self.assertEqual(m["dedup.ingest_s"], (0, "s"))
        # an untraced first op leaves the layers at 0
        rec["ops"][0]["traced"] = False
        self.assertEqual(stats.layer_metrics(rec)["cube.aggregate_s"], (0, "s"))

if __name__ == "__main__":
    unittest.main()
