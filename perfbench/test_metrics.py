"""Checks of the benchmark's arithmetic on tiny fixed inputs.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics
import oracle


class PercentileRule(unittest.TestCase):
    def test_target_when_enough_samples(self):
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(1000), 90.0)

    def test_highest_with_ten_beyond(self):
        # 40 samples: p75 leaves exactly ten beyond it
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        value, p = metrics.tail(list(range(1, 41)))
        self.assertEqual((value, p), (30, 75.0))
        self.assertEqual(sum(1 for x in range(1, 41) if x > value), 10)

    def test_median_below_twenty(self):
        self.assertEqual(metrics.tail_percentile(19), 50.0)
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (2.0, 50.0))
        self.assertEqual(metrics.tail([4.0, 1.0, 2.0, 3.0]), (2.5, 50.0))

    def test_nearest_rank(self):
        self.assertEqual(metrics.nearest_rank([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(metrics.nearest_rank([5, 1, 4, 2, 3], 100), 5)
        self.assertEqual(metrics.nearest_rank([5, 1, 4, 2, 3], 1), 1)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "start": 10.0, "end": 40.0},
            {"id": 3, "parent": 1, "start": 30.0, "end": 60.0},  # overlaps 2
            {"id": 4, "parent": 1, "start": 90.0, "end": 120.0},  # runs past 1
            {"id": 5, "parent": 2, "start": 15.0, "end": 20.0},
        ]
        st = metrics.self_times(spans)
        # 1 is covered on [10, 60] and [90, 100]
        self.assertAlmostEqual(st[1], 40.0)
        self.assertAlmostEqual(st[2], 25.0)
        self.assertAlmostEqual(st[3], 30.0)
        self.assertAlmostEqual(st[4], 30.0)
        self.assertAlmostEqual(st[5], 5.0)

    def test_nested_children_inside_each_other(self):
        self.assertAlmostEqual(metrics.covered([(0, 10), (2, 3), (5, 12)], 0, 10), 10.0)
        self.assertAlmostEqual(metrics.covered([], 0, 10), 0.0)


class Ratios(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(metrics.geomean([2.0]), 2.0)

    def test_slot_util(self):
        # 6 s of task time on 4 slots over 3 s of wall time
        self.assertAlmostEqual(metrics.slot_util(6000.0, 4, 3000.0), 0.5)

    def test_write_amp(self):
        self.assertAlmostEqual(metrics.write_amp(300, 200), 1.5)


class OracleCache(unittest.TestCase):
    def test_tables_read_ignores_literals(self):
        sql = ("SELECT concat(text, ' part one.') FROM documents d "
               "JOIN lineitem l ON 1 = 1, orders o WHERE 'customer' = 'x'")
        self.assertEqual(oracle.tables_read(sql), ["orders", "lineitem", "documents"])


class Render(unittest.TestCase):
    def test_fast_render_matches_reference(self):
        import pandas as pd
        df = pd.DataFrame({
            "b": ["x", None, "y", "x"],
            "a": [1.5, 2.0, float("nan"), 1.5],
            "c": [3, 1, 2, 3],
            "d": pd.to_datetime(["1995-01-01 00:00", "2001-08-01 12:30", None, "1995-01-01 00:00"]),
        })
        self.assertEqual(oracle.render(df), oracle.render_reference(df))


if __name__ == "__main__":
    unittest.main()
