#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_bench.py      # from the checkout root

The pure helpers are tested directly. The JVM side (same seed gives the
same input hash; each checker catches a planted error) runs through
`run.py --selftest`, which compiles the program first if needed."""

import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_reports_value_and_count(self):
        v, n = stats.percentile(list(range(1, 101)), 0.5)
        self.assertEqual(n, 100)
        self.assertAlmostEqual(v, 50.5)

    def test_median_needs_no_tail(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 0.5), (2.0, 3))

    def test_refuses_tail_without_ten_beyond(self):
        with self.assertRaises(stats.InsufficientSamples):
            stats.percentile(list(range(99)), 0.9)
        with self.assertRaises(stats.InsufficientSamples):
            stats.percentile(list(range(39)), 0.75)
        self.assertEqual(stats.percentile(list(range(100)), 0.9)[1], 100)
        self.assertEqual(stats.percentile(list(range(40)), 0.75)[1], 40)

    def test_highest_percentile(self):
        self.assertEqual(stats.highest_percentile(5), 50)
        self.assertEqual(stats.highest_percentile(40), 75)
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(1000), 99)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        # root [0,100] > a [10,50] > b [20,30]; root > c [60,90]
        spans = [(1, -1, 0, 100), (2, 1, 10, 50), (3, 2, 20, 30), (4, 1, 60, 90)]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 30, 2: 30, 3: 10, 4: 30})
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_count_once(self):
        st = stats.self_times([(1, -1, 0, 10), (2, 1, 2, 6), (3, 1, 4, 8)])
        self.assertEqual(st[1], 4)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_identity_on_a_traced_op(self):
        raw = {
            "ops": [{"id": 1, "kind": "cdc_job", "start": 0, "end": 100_000_000,
                     "counters": {}}],
            "spans": [[1, -1, 1, "op.cdc_job", 0, 100_000_000],
                      [2, 1, 1, "core.task", 5_000_000, 95_000_000],
                      [3, 2, 1, "core.ledger", 5_000_000, 7_000_000],
                      [4, 2, 1, "core.step.merge", 10_000_000, 90_000_000],
                      [5, 4, 1, "layout.commit", 11_000_000, 89_000_000]],
            "jobs": [[20_000_000, 40_000_000, 1, False, 4, 0, 0, 0, 0, 0, 0]],
        }
        by = run.op_breakdown(raw)
        d = by["cdc_job"][0]
        self.assertAlmostEqual(d["self_ms"]["op.cdc_job"], 10.0)
        self.assertAlmostEqual(d["self_ms"]["core.task"], 8.0)
        self.assertAlmostEqual(sum(d["self_ms"].values()), d["wall_ms"])
        self.assertAlmostEqual(d["spark.job_ms"], 20.0)
        self.assertAlmostEqual(d["spark.driver_gap_ms"], 80.0)
        run.check_self_time_identity(by)


class DeclaredMetricsTest(unittest.TestCase):
    def test_per_layer_names_come_from_benchmark_json(self):
        e2e, layers = run.declared()
        self.assertIn("setup_s", e2e)
        self.assertEqual(layers["core.step_ms.etl"], "ms")
        raw = {"ops": [], "spans": [], "jobs": [], "samples": {"cdc_job": [10.0]},
               "values": {}}
        m, _ = run.per_layer(raw, "lake_cdc", layers, {"samples": {"cdc_job": [8.0]}})
        self.assertEqual(set(m), set(layers))
        self.assertAlmostEqual(m["trace.overhead_pct"], 25.0)


class SpreadTest(unittest.TestCase):
    def test_spread(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)


class JvmSelfTest(unittest.TestCase):
    """Generator determinism and planted-error checks, on the JVM."""

    def test_jvm_selftest(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--selftest"],
                           cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn("same seed, same input hash", r.stderr)
        # planted errors print "CHECK FAILED" from their own recorders; a
        # selftest check that did not hold is listed as "FAIL"
        self.assertNotIn("[perfbench] FAIL ", r.stderr)


if __name__ == "__main__":
    unittest.main()
