"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


def span(i, start, end, parent=-1, name="s", kind="op", out=0, cpu=0, shuffle=0):
    return {"id": i, "parent": parent, "name": name, "kind": kind, "start": start,
            "end": end, "out_bytes": out, "cpu_ns": cpu, "shuffle_bytes": shuffle}


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 1001))              # 1..1000
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (990, 99.0, 1000))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_hundred_samples_is_p90(self):
        value, pct, _ = stats.tail([float(x) for x in range(100, 0, -1)])
        self.assertEqual((value, pct), (90.0, 90.0))

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail(list(range(19)))[:2], (18, 100.0))
        self.assertEqual(stats.tail(list(range(20)))[:2], (9, 50.0))


class SpanArithmeticTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        parent = span(0, 0.0, 100.0)
        kids = [span(1, 10.0, 30.0, 0), span(2, 20.0, 40.0, 0), span(3, 90.0, 120.0, 0)]
        # children cover [10, 40] and [90, 100] inside the parent
        self.assertEqual(stats.self_ms(parent, kids), 100.0 - 30.0 - 10.0)

    def test_self_time_excludes_the_tracers_own_walks(self):
        parent = dict(span(0, 0.0, 100.0), excluded_ms=5.0)
        self.assertEqual(stats.self_ms(parent, [span(1, 10.0, 30.0, 0)]), 75.0)

    def test_nested_spans_count_only_direct_children(self):
        spans = [span(0, 0.0, 100.0, name="plan"), span(1, 10.0, 60.0, 0, name="step"),
                 span(2, 20.0, 30.0, 1, name="call")]
        m = stats.layer_metrics(spans, [], {"op": 1})
        self.assertAlmostEqual(m["plan"]["wall_s"], 0.050)
        self.assertAlmostEqual(m["step"]["wall_s"], 0.040)
        self.assertAlmostEqual(m["call"]["wall_s"], 0.010)

    def test_driver_gap_is_wall_minus_union_of_overlapping_jobs(self):
        s = span(0, 1000.0, 2000.0)
        jobs = [{"span": 0, "start": 1100, "end": 1300},
                {"span": 0, "start": 1200, "end": 1500},   # overlaps the first
                {"span": 0, "start": 1900, "end": 2100}]   # runs past the span
        self.assertEqual(stats.driver_gap_ms(s, jobs), 1000.0 - 400.0 - 100.0)

    def test_driver_gap_of_a_parent_counts_only_its_self_time(self):
        s = span(0, 0.0, 100.0)
        kids = [span(1, 50.0, 90.0, 0)]
        jobs = [{"span": 0, "start": 10, "end": 30}]
        self.assertEqual(stats.driver_gap_ms(s, jobs, kids), 100.0 - 40.0 - 20.0)

    def test_layer_metrics_are_per_op(self):
        spans = [span(0, 0.0, 1000.0, name="q", cpu=2_000_000_000, shuffle=10, out=7),
                 span(1, 2000.0, 3000.0, name="q", cpu=0, shuffle=30, out=1)]
        jobs = [{"span": 0, "start": 0, "end": 500}, {"span": 1, "start": 2000, "end": 3000}]
        m = stats.layer_metrics(spans, jobs, {"op": 2})["q"]
        self.assertEqual(m["jobs"], 1.0)
        self.assertAlmostEqual(m["driver_gap_s"], 0.25)
        self.assertAlmostEqual(m["executor_cpu_s"], 1.0)
        self.assertEqual(m["shuffle_write_bytes"], 20.0)
        self.assertEqual(m["output_bytes"], 4.0)


class FailRatioTest(unittest.TestCase):
    def test_a_throwing_op_counts_as_attempted_and_failed(self):
        # as the JVM reports it: 3 ops and 1 bg op timed, 1 op threw
        phases = [{"ops": [1.0, 1.1, 0.9], "op_failed": 1, "bgs": [0.2], "bg_failed": 0}]
        attempted, failed = stats.counts(phases)
        self.assertEqual((attempted, failed), (5, 1))
        self.assertEqual(stats.fail_ratio(failed, attempted), 0.2)

    def test_no_failures_is_zero(self):
        phases = [{"ops": [1.0], "op_failed": 0, "bgs": [], "bg_failed": 0}] * 2
        self.assertEqual(stats.fail_ratio(*reversed(stats.counts(phases))), 0.0)


if __name__ == "__main__":
    unittest.main()
