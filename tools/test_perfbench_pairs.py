"""Tests of the verdict arithmetic: python3 -m unittest discover tools"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from perfbench_pairs import judge, quartiles  # noqa: E402

PARENT = [100, 104, 108, 110, 111, 112, 114, 116, 120, 130]


class Quartiles(unittest.TestCase):
    def test_interpolates_between_runs(self):
        self.assertEqual(quartiles([1, 2, 3, 4, 5]), (2, 3, 4))
        self.assertEqual(quartiles([1, 2, 3, 4]), (1.75, 2.5, 3.25))
        self.assertEqual(quartiles([7]), (7, 7, 7))


class Verdict(unittest.TestCase):
    def test_gain_needs_nine_in_ten_and_a_gap_beyond_the_parent_iqr(self):
        # parent quartiles 108.5 / 111.5 / 115.5: IQR 7
        self.assertEqual(quartiles(PARENT), (108.5, 111.5, 115.5))
        change = [p * 2 for p in PARENT]
        j = judge(PARENT, change, "higher", 0.25)
        self.assertEqual((j["wins"], j["ties"], j["verdict"]), (10, 0, "gain"))
        # 8 wins of 10 is not a gain, however large the gap
        eight = change[:8] + PARENT[8:9] + [PARENT[9] - 1]
        j = judge(PARENT, eight, "higher", 0.25)
        self.assertEqual((j["wins"], j["ties"]), (8, 1))
        self.assertNotEqual(j["verdict"], "gain")
        # 10 wins by a median gap of 5, inside the parent's IQR of 7
        small = [p + 5 for p in PARENT]
        self.assertEqual(judge(PARENT, small, "higher", 0.25)["verdict"],
                         "within")

    def test_a_gain_with_more_failed_ops_does_not_count(self):
        change = [p * 2 for p in PARENT]
        self.assertEqual(judge(PARENT, change, "higher", 0.25,
                               failed=(0, 1))["verdict"], "within")

    def test_lower_is_better(self):
        fast = [p / 2 for p in PARENT]
        self.assertEqual(judge(PARENT, fast, "lower", 0.25)["verdict"], "gain")
        slow = [p * 1.3 for p in PARENT]  # 30% worse against a 25% bound
        self.assertEqual(judge(PARENT, slow, "lower", 0.25)["verdict"],
                         "regression")
        self.assertEqual(judge(PARENT, slow, "lower", 0.35)["verdict"],
                         "within")

    def test_regression_is_judged_against_the_bound(self):
        # 20% worse: inside a 0.25 bound, past a 0.1 bound
        worse = [p * 0.8 for p in PARENT]
        self.assertEqual(judge(PARENT, worse, "higher", 0.25)["verdict"],
                         "within")
        self.assertEqual(judge(PARENT, worse, "higher", 0.1)["verdict"],
                         "regression")

    def test_a_spread_wider_than_the_bound_is_unresolved(self):
        wide = [50, 80, 90, 100, 110, 112, 120, 130, 140, 200]
        j = judge(wide, list(wide), "higher", 0.25)
        self.assertEqual((j["ties"], j["verdict"]), (10, "unresolved"))
        # unless every change run beats every parent run: here by a median
        # gap of 50.5, inside the parent's IQR of 90
        split = [10] * 5 + [100] * 5
        j = judge(split, [101 + i for i in range(10)], "higher", 0.25)
        self.assertEqual((j["wins"], j["verdict"]), (10, "within"))

    def test_a_metric_without_a_bound_reads_gain_or_no_gain(self):
        self.assertEqual(judge(PARENT, PARENT, "lower")["verdict"], "no gain")
        self.assertEqual(judge(PARENT, [p / 2 for p in PARENT],
                               "lower")["verdict"], "gain")


if __name__ == "__main__":
    unittest.main()
