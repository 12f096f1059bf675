"""Unit tests for the pure trace helpers.

    python3 -m unittest discover perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Trace, covered, median, percentile, union  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(percentile(xs, 0), 1.0)
        self.assertEqual(percentile(xs, 100), 4.0)
        self.assertAlmostEqual(percentile(xs, 50), 2.5)
        self.assertAlmostEqual(percentile(xs, 90), 3.7)

    def test_median_of_odd_and_single(self):
        self.assertEqual(median([5.0, 1.0, 3.0]), 3.0)
        self.assertEqual(median([7.0]), 7.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            percentile([], 50)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlapping_and_touching(self):
        self.assertEqual(union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])

    def test_union_clips(self):
        self.assertEqual(union([(0, 10), (12, 20)], clip=(5, 15)), [(5, 10), (12, 15)])
        self.assertEqual(union([(0, 2)], clip=(5, 15)), [])

    def test_covered_counts_overlap_once(self):
        self.assertEqual(covered([(0, 4), (2, 6), (8, 9)]), 7)


def record(spans, jobs, stages=(), actions=(), cores=4):
    return {
        "cores": cores,
        "spans": [{"id": i, "name": n, "parent": p, "start_ms": s, "end_ms": e,
                   "counters": {}} for i, n, p, s, e in spans],
        "jobs": [{"id": k, "span": sp, "start_ms": s, "end_ms": e}
                 for k, (sp, s, e) in enumerate(jobs)],
        "stages": [{"id": k, "span": sp, "tasks": 1, "run_ms": r, "cpu_ns": 0,
                    "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                    "output_bytes": 0} for k, (sp, r) in enumerate(stages)],
        "sql_actions": list(actions),
    }


class TraceTest(unittest.TestCase):
    def setUp(self):
        # root 0..1000 ms; children 100..400 and 500..900; jobs overlap
        # each other and cross the child boundary.
        self.tr = Trace(record(
            spans=[(0, "pipeline", -1, 0, 1000), (1, "a", 0, 100, 400), (2, "b", 0, 500, 900)],
            jobs=[(1, 150, 300), (1, 250, 350), (2, 380, 600), (-1, 700, 800)],
            stages=[(1, 400), (2, 300)]))

    def test_self_time_subtracts_children(self):
        self.assertAlmostEqual(self.tr.self_s(0), 0.3)
        self.assertAlmostEqual(self.tr.self_s(1), 0.3)
        self.assertAlmostEqual(self.tr.self_time_error(0), 0.0)

    def test_driver_time_uses_union_of_overlapping_jobs(self):
        # span a: jobs cover 150..350 and 380..400 -> 220 ms of 300.
        self.assertAlmostEqual(self.tr.driver_s(1), 0.08)
        # root: 150..350, 380..600, 700..800 -> 520 ms of 1000.
        self.assertAlmostEqual(self.tr.driver_s(0), 0.48)

    def test_untagged_job_goes_to_innermost_open_span(self):
        self.assertEqual([j["span"] for j in self.tr.jobs_in(2)], [2, 2])

    def test_slot_util(self):
        # span a: 400 ms of task time over 220 ms covered x 4 cores.
        self.assertAlmostEqual(self.tr.slot_util(1), 400 / (220 * 4))

    def test_overlapping_children_break_the_self_time_sum(self):
        tr = Trace(record(
            spans=[(0, "root", -1, 0, 100), (1, "a", 0, 0, 60), (2, "b", 0, 40, 100)],
            jobs=[]))
        self.assertAlmostEqual(tr.self_time_error(0), 0.2)

    def test_actions_book_to_the_span_open_at_planning(self):
        tr = Trace(record(
            spans=[(0, "root", -1, 0, 100), (1, "a", 0, 10, 50)], jobs=[],
            actions=[{"at_ms": 20, "scan_rows": 5}, {"at_ms": 70, "scan_rows": 7}]))
        self.assertEqual(tr.action_sum(1, "scan_rows"), 5)
        self.assertEqual(tr.action_sum(0, "scan_rows"), 12)


if __name__ == "__main__":
    unittest.main()
