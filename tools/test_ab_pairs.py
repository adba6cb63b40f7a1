"""Unit test of `ab_pairs.verdict`, the bound check of the A/B pair tool.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab_pairs import verdict  # noqa: E402


class VerdictTest(unittest.TestCase):

    def test_within_bound_is_ok(self):
        ratio, mark = verdict([100, 101, 102, 103], [110, 111, 112, 113], True, 0.25)
        self.assertAlmostEqual(ratio, 111.5 / 101.5)
        self.assertEqual(mark, "ok")

    def test_median_past_bound_is_worse(self):
        self.assertEqual(verdict([100, 100, 100], [130, 130, 130], True, 0.25)[1], "worse")
        # higher is better: a drop past the bound is worse, a rise is not
        self.assertEqual(verdict([2.0, 2.0, 2.0], [1.4, 1.4, 1.4], False, 0.25)[1], "worse")
        self.assertEqual(verdict([2.0, 2.0, 2.0], [3.0, 3.0, 3.0], False, 0.25)[1], "ok")

    def test_parent_spread_wider_than_bound_is_unresolved(self):
        parent = [60, 80, 100, 120, 140]  # IQR 40 on a median of 100
        self.assertEqual(verdict(parent, [70, 90, 105, 115, 150], True, 0.25)[1],
                         "unresolved")

    def test_every_change_run_better_resolves_a_wide_spread(self):
        parent = [60, 80, 100, 120, 140]
        self.assertEqual(verdict(parent, [40, 45, 50, 55, 59], True, 0.25)[1], "ok")
        self.assertEqual(verdict([1, 2, 3, 4, 5], [6, 7, 8, 9, 10], False, 0.25)[1], "ok")

    def test_worse_wins_over_unresolved(self):
        self.assertEqual(verdict([60, 80, 100, 120, 140], [200, 210, 220], True, 0.25)[1],
                         "worse")

    def test_zero_parent_median(self):
        self.assertEqual(verdict([0, 0, 0], [0, 0, 0], True, 0.1), (1.0, "ok"))
        self.assertEqual(verdict([0, 0, 0], [1, 1, 1], True, 0.1)[1], "worse")


if __name__ == "__main__":
    unittest.main()
