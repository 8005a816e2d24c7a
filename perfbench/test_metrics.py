"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import canon  # noqa: E402
import metrics  # noqa: E402


def span(id, parent, kind, start, end, **attrs):
    return dict(id=id, parent=parent, kind=kind, name=kind, start_us=start, end_us=end, **attrs)


class Percentiles(unittest.TestCase):
    def test_nearest_rank_and_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), (50, 50))
        self.assertEqual(metrics.percentile(xs, 90), (90, 10))
        self.assertEqual(metrics.percentile([7.0], 90), (7.0, 0))

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 50), (3, 2))

    def test_p90_is_trusted_only_with_ten_samples_beyond(self):
        self.assertEqual(metrics.highest_trusted_percentile(list(range(100)), 90), (90, 89))
        # 99 samples: p90 has 9 beyond, so the highest trusted one is p89
        q, _ = metrics.highest_trusted_percentile(list(range(99)), 90)
        self.assertEqual(q, 89)
        # 50 samples: p80 is the highest percentile with 10 beyond
        self.assertEqual(metrics.highest_trusted_percentile(list(range(50)), 90), (80, 39))
        # 15 samples: not even the median has 10 beyond
        self.assertIsNone(metrics.highest_trusted_percentile(list(range(15)), 90))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class SelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "ensure", 0, 10),
                 span(3, 1, "execute", 20, 90)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["op"], (100 - 10 - 70) / 1000.0)
        self.assertAlmostEqual(st["execute"], 70 / 1000.0)

    def test_overlapping_children_are_counted_once(self):
        # two stages of one job run in parallel: 10-60 and 40-90
        spans = [span(1, 0, "job", 0, 100), span(2, 1, "stage", 10, 60),
                 span(3, 1, "stage", 40, 90)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["job"], (100 - 80) / 1000.0)
        self.assertAlmostEqual(st["stage"], 100 / 1000.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "execute", 50, 150)]
        self.assertAlmostEqual(metrics.self_times(spans)["op"], 50 / 1000.0)

    def test_parentless_phases_and_jobs_go_under_the_innermost_harness_span(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "submit", 0, 30),
                 span(3, 1, "execute", 30, 100),
                 span(4, -1, "analyze", 5, 25), span(5, -1, "optimize", 31, 40),
                 span(6, 1, "job", 40, 95)]
        by_id = {s["id"]: s for s in metrics.attach(spans)}
        self.assertEqual(by_id[4]["parent"], 2)
        self.assertEqual(by_id[5]["parent"], 3)
        self.assertEqual(by_id[6]["parent"], 3)
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["execute"], (70 - 9 - 55) / 1000.0)
        self.assertAlmostEqual(st["submit"], 10 / 1000.0)

    def test_driver_gap_excludes_planning_and_jobs(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "execute", 0, 100),
                 span(3, -1, "optimize", 10, 30), span(4, 1, "job", 20, 60)]
        self.assertAlmostEqual(metrics.driver_gap_ms(spans), (100 - 50) / 1000.0)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 20), (30, 40)], 0, 100), 30)
        self.assertEqual(metrics.union_length([(0, 10), (5, 20)], 8, 12), 4)
        self.assertEqual(metrics.union_length([], 0, 10), 0)


class Ratios(unittest.TestCase):
    def test_session_drift_is_later_half_over_earlier_half(self):
        self.assertAlmostEqual(metrics.session_drift([8.0, 12.0]), 1.5)
        self.assertAlmostEqual(metrics.session_drift([10.0, 99.0, 15.0]), 1.5)
        self.assertAlmostEqual(metrics.session_drift([10.0, 12.0, 20.0, 14.0, 16.0, 15.0]), 1.25)
        self.assertAlmostEqual(metrics.session_drift([8.0, 8.0]), 1.0)
        with self.assertRaises(ValueError):
            metrics.session_drift([8.0])

    def test_core_busy(self):
        # 4 cores for 1000 ms, tasks ran 1000 ms in total: a quarter busy
        self.assertAlmostEqual(metrics.core_busy(1000.0, 1000.0, 4), 0.25)
        self.assertAlmostEqual(metrics.core_busy(4000.0, 1000.0, 4), 1.0)
        self.assertEqual(metrics.core_busy(10.0, 0.0, 4), 0.0)

    def test_stage_skew_ignores_single_task_stages(self):
        stages = [dict(tasks=1, max_task_ms=50.0, median_task_ms=1.0),
                  dict(tasks=4, max_task_ms=30.0, median_task_ms=10.0),
                  dict(tasks=4, max_task_ms=10.0, median_task_ms=10.0),
                  dict(tasks=2, max_task_ms=20.0, median_task_ms=10.0)]
        self.assertAlmostEqual(metrics.stage_skew(stages), 2.0)
        self.assertEqual(metrics.stage_skew(stages[:1]), 1.0)

    def test_error_rate_counts_failures_and_wrong_answers(self):
        expected = {"a": {"rows": 2, "hash": "h"}, "b": {"rows": 1, "hash": "g"}}
        ops = [dict(name="a", rows=2, hash="h", error=""),      # right
               dict(name="a", rows=2, hash="x", error=""),      # wrong hash
               dict(name="b", rows=3, hash="g", error=""),      # wrong count
               dict(name="b", rows=-1, hash="", error="boom"),  # raised
               dict(name="c", rows=1, hash="h", error="")]      # nothing to check against
        self.assertEqual(metrics.failed_ops(ops, expected), ops[1:])
        self.assertEqual(metrics.failed_ops(ops[:1], expected), [])


class Fingerprint(unittest.TestCase):
    def test_order_insensitive_and_columns_by_name(self):
        a = canon.fingerprint(["b", "a"], [(1, "x"), (2, "y")])
        b = canon.fingerprint(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)

    def test_floats_at_four_places_and_negative_zero_kept(self):
        self.assertEqual(canon.cell(1.23456), "1.2346")
        self.assertEqual(canon.cell(-0.0), "-0.0000")
        self.assertEqual(canon.cell(0.0), "0.0000")
        self.assertNotEqual(canon.fingerprint(["v"], [(-0.0,)]), canon.fingerprint(["v"], [(0.0,)]))
        self.assertEqual(canon.cell(float("nan")), "NaN")
        self.assertEqual(canon.cell(None), "NULL")
        self.assertEqual(canon.cell(True), "true")

    def test_cells_beyond_the_oracle_canon(self):
        import datetime
        import decimal
        self.assertEqual(canon.cell(decimal.Decimal("1.23456")), "1.2346")
        zoned = datetime.datetime(2024, 1, 1, 2, 0, tzinfo=datetime.timezone(datetime.timedelta(hours=2)))
        self.assertEqual(canon.cell(zoned), "2024-01-01 00:00:00.000000")
        self.assertEqual(canon.cell(b"\x01\xff"), "01ff")

    def test_nested_values(self):
        self.assertEqual(canon.cell([1, 2.5, None]), "[1,2.5000,NULL]")
        self.assertEqual(canon.cell({"k": 1}), "{k:1}")


if __name__ == "__main__":
    unittest.main()
