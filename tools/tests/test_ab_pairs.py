"""Unit tests of the verdict arithmetic in tools/ab_pairs.py.

    python3 -m unittest discover -s tools/tests
"""
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import ab_pairs  # noqa: E402

PARENT = [10.0, 11.0, 12.0, 13.0, 14.0, 10.5, 11.5, 12.5, 13.5, 14.5]


class VerdictTest(unittest.TestCase):
    def test_quartiles_interpolate(self):
        self.assertEqual(ab_pairs.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(ab_pairs.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_gain_needs_nine_tenths_and_a_gap_over_the_iqr(self):
        # every pair 3 lower: 10/10 wins, median gap 3 > parent IQR 2.25
        v = ab_pairs.verdict(PARENT, [p - 3 for p in PARENT], "lower", 0.25)
        self.assertEqual((v["wins"], v["losses"], v["ties"]), (10, 0, 0))
        self.assertEqual(v["parent"], [12.25, 11.125, 13.375])
        self.assertTrue(v["gain"])
        self.assertTrue(v["within_bound"])

    def test_small_gap_is_no_gain(self):
        # 10/10 wins but the gap (1) is inside the parent's IQR (2.25)
        v = ab_pairs.verdict(PARENT, [p - 1 for p in PARENT], "lower", 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertFalse(v["gain"])

    def test_eight_wins_is_no_gain_and_ties_count_for_neither(self):
        change = [p - 5 for p in PARENT[:8]] + [PARENT[8], PARENT[9] + 1]
        v = ab_pairs.verdict(PARENT, change, "lower", 0.25)
        self.assertEqual((v["wins"], v["losses"], v["ties"]), (8, 1, 1))
        self.assertFalse(v["gain"])

    def test_higher_is_better(self):
        v = ab_pairs.verdict(PARENT, [p + 3 for p in PARENT], "higher", 0.25)
        self.assertTrue(v["gain"])
        v = ab_pairs.verdict(PARENT, [p - 3 for p in PARENT], "higher", 0.25)
        self.assertEqual(v["losses"], 10)
        self.assertFalse(v["gain"])

    def test_bound_is_a_fraction_of_the_parent_median(self):
        # medians 12.25 vs 15.25: 24.5 % worse, inside a 0.25 bound, not 0.2
        worse = [p + 3 for p in PARENT]
        self.assertTrue(ab_pairs.verdict(PARENT, worse, "lower", 0.25)["within_bound"])
        self.assertFalse(ab_pairs.verdict(PARENT, worse, "lower", 0.2)["within_bound"])

    def test_report_pairs_runs_by_seed(self):
        def rec(seed, side, wall):
            return {"workload": "w", "seed": seed, "side": side,
                    "result": {"failed": 0, "metrics": {"wall_s": {"value": wall}}}}
        records = [rec(1, "parent", 2.0), rec(1, "change", 1.0),
                   rec(2, "change", 1.5), rec(2, "parent", 3.0),
                   rec(3, "parent", 9.0)]  # unpaired: left out
        rows = ab_pairs.report(records, [{"name": "wall_s", "unit": "s",
                                          "better": "lower", "bound": 0.25}])
        self.assertEqual(len(rows), 1)
        self.assertEqual(rows[0]["seeds"], [1, 2])
        self.assertEqual(rows[0]["wins"], 2)
        self.assertEqual(rows[0]["parent"][0], 2.5)


if __name__ == "__main__":
    unittest.main()
