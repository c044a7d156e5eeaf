"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(range(10)))
        # 20 samples: p50 is rank 10 with 10 beyond; nothing higher qualifies
        self.assertIsNone(stats.tail_percentile(range(20)))
        self.assertEqual(stats.tail_percentile(range(21)), (52, 10))

    def test_highest_qualifying_percentile(self):
        # 100 samples 1..100: p90 is the 90th value, with exactly 10 beyond
        self.assertEqual(stats.tail_percentile(range(1, 101)), (90, 90))
        # 1000 samples: p99 leaves exactly 10 beyond
        self.assertEqual(stats.tail_percentile(range(1, 1001)), (99, 990))

    def test_order_free(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail_percentile(xs[::-1]), (90, 90))


class FailedRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failed_ratio(5, 0), 0.0)
        self.assertEqual(stats.failed_ratio(4, 1), 0.25)

    def test_nothing_attempted(self):
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)


class AttributionTest(unittest.TestCase):
    EVENTS = [
        {"kind": "span", "group": "shape", "wall_ms": 10.0},
        {"kind": "span", "group": "shape", "wall_ms": 5.0},
        {"kind": "span", "group": "extents", "wall_ms": 7.0},
        {"kind": "job", "group": "shape", "job": 0},
        {"kind": "job", "group": "extents", "job": 1},
        {"kind": "job", "group": "extents", "job": 2},
        {"kind": "job", "group": "", "job": 3},
        {"kind": "stage", "group": "shape", "stage": 0, "tasks": 4, "task_ms": 40,
         "shuffle_write_bytes": 100, "spill_bytes": 0, "input_bytes": 1000},
        {"kind": "stage", "group": "extents", "stage": 1, "tasks": 2, "task_ms": 8,
         "shuffle_write_bytes": 0, "spill_bytes": 64, "input_bytes": 0},
        {"kind": "stage", "group": "other", "stage": 2, "tasks": 9, "task_ms": 99,
         "shuffle_write_bytes": 9, "spill_bytes": 9, "input_bytes": 9},
        {"kind": "sql", "group": "shape", "exec": 0, "plan_ms": 3, "exchanges": 1,
         "long_csv_scans": 1},
        {"kind": "sql", "group": "extents", "exec": 1, "plan_ms": 2, "exchanges": 2,
         "long_csv_scans": 0},
    ]

    def test_counters_follow_the_job_group(self):
        out = stats.attribute(self.EVENTS, ["shape", "extents"])
        self.assertEqual(out["shape"], {
            "wall_ms": 15.0, "plan_ms": 3, "jobs": 1, "tasks": 4, "task_ms": 40,
            "shuffle_write_bytes": 100, "spill_bytes": 0, "exchanges": 1,
            "long_csv_scans": 1, "input_bytes": 1000})
        self.assertEqual(out["extents"]["jobs"], 2)
        self.assertEqual(out["extents"]["spill_bytes"], 64)
        self.assertEqual(out["extents"]["wall_ms"], 7.0)

    def test_unknown_groups_are_dropped(self):
        out = stats.attribute(self.EVENTS, ["shape", "extents"])
        self.assertEqual(sum(v["tasks"] for v in out.values()), 6)
        self.assertEqual(set(out), {"shape", "extents"})

    def test_span_without_events_reads_zero(self):
        out = stats.attribute([], ["geometry"])
        self.assertTrue(all(v == 0 for v in out["geometry"].values()))


if __name__ == "__main__":
    unittest.main()
