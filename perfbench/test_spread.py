"""Tests of the spread and bound arithmetic; run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import spread  # noqa: E402


class SpreadTest(unittest.TestCase):
    def test_quartiles_follow_statistics_quantiles(self):
        self.assertEqual(spread.quartiles([5.0, 1.0, 4.0, 2.0, 3.0]), (1.5, 4.5))
        self.assertEqual(spread.quartiles([1.0, 2.0]), (0.75, 2.25))

    def test_spread_is_interquartile_share_of_median(self):
        vals = [0.5, 0.7, 0.6, 0.9, 1.1, 0.4, 0.8, 1.0, 0.65, 0.75]
        self.assertAlmostEqual(spread.spread(vals), (0.925 - 0.575) / 0.725)
        self.assertEqual(spread.spread([2.0, 2.0, 2.0]), 0.0)

    def test_worse_than_respects_direction_and_bound(self):
        self.assertFalse(spread.worse_than(1.0, 1.1, 0.1, "lower"))
        self.assertTrue(spread.worse_than(1.0, 1.11, 0.1, "lower"))
        self.assertFalse(spread.worse_than(1.0, 0.9, 0.1, "higher"))
        self.assertTrue(spread.worse_than(1.0, 0.89, 0.1, "higher"))

    def test_setup_spread_is_reported_but_not_gated(self):
        s = spread.summarize([1.0, 2.0, 3.0], {"name": "setup_s", "bound": 0.1})
        self.assertFalse(s["within_bound"])
        self.assertFalse(s["spread_gated"])
        s = spread.summarize([1.0, 2.0, 3.0], {"name": "query_s", "bound": 0.1})
        self.assertFalse(s["within_bound"])
        self.assertTrue(s["spread_gated"])
        self.assertEqual(s["median"], 2.0)


if __name__ == "__main__":
    unittest.main()
