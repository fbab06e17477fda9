"""Self-tests for the verdict logic of tools/bench_pairs.py (stdlib only, no JVM).

    python3 -m unittest discover -s tools/tests
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import bench_pairs  # noqa: E402

PARENT = [0.80, 0.82, 0.81, 0.85, 0.79, 0.83, 0.84, 0.80, 0.82, 0.81]


class JudgeTest(unittest.TestCase):
    def test_clear_gain(self):
        change = [x - 0.25 for x in PARENT]
        j = bench_pairs.judge(PARENT, change, "lower", 0.25)
        self.assertEqual(j["wins"], 10)
        self.assertTrue(j["gain"])
        self.assertTrue(j["within_bound"])
        self.assertAlmostEqual(j["gap"], 0.25)

    def test_nine_of_ten_is_enough_eight_is_not(self):
        nine = [x - 0.2 for x in PARENT[:9]] + [PARENT[9] + 0.01]
        self.assertEqual(bench_pairs.judge(PARENT, nine, "lower", 0.25)["wins"], 9)
        self.assertTrue(bench_pairs.judge(PARENT, nine, "lower", 0.25)["gain"])
        eight = [x - 0.2 for x in PARENT[:8]] + [x + 0.01 for x in PARENT[8:]]
        self.assertFalse(bench_pairs.judge(PARENT, eight, "lower", 0.25)["gain"])

    def test_ties_count_for_neither_side(self):
        change = [x - 0.2 for x in PARENT[:8]] + PARENT[8:]
        j = bench_pairs.judge(PARENT, change, "lower", 0.25)
        self.assertEqual(j["wins"], 8)
        self.assertFalse(j["gain"])

    def test_gap_must_exceed_the_parent_iqr(self):
        # wins every pair, by less than the spread of the parent's runs
        change = [x - 0.005 for x in PARENT]
        j = bench_pairs.judge(PARENT, change, "lower", 0.25)
        self.assertEqual(j["wins"], 10)
        self.assertGreater(j["parent_iqr"], j["gap"])
        self.assertFalse(j["gain"])

    def test_quartiles_are_inclusive(self):
        self.assertEqual(bench_pairs.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(bench_pairs.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_bound_is_relative_to_the_parent_median(self):
        # parent median 0.815; +20% is within a 25% bound, +30% is not
        self.assertTrue(bench_pairs.judge(PARENT, [x * 1.2 for x in PARENT], "lower", 0.25)["within_bound"])
        j = bench_pairs.judge(PARENT, [x * 1.3 for x in PARENT], "lower", 0.25)
        self.assertFalse(j["within_bound"])
        self.assertAlmostEqual(j["worse_frac"], 0.3)

    def test_higher_is_better(self):
        change = [x + 0.3 for x in PARENT]
        j = bench_pairs.judge(PARENT, change, "higher", 0.25)
        self.assertEqual(j["wins"], 10)
        self.assertTrue(j["gain"])
        j = bench_pairs.judge(change, PARENT, "higher", 0.25)
        self.assertEqual(j["wins"], 0)
        self.assertFalse(j["within_bound"])

    def test_unequal_sides_are_rejected(self):
        with self.assertRaises(ValueError):
            bench_pairs.judge(PARENT, PARENT[:9], "lower", 0.25)

    def test_parent_runs_first_on_odd_pairs(self):
        self.assertEqual([bench_pairs.first_side(i) for i in range(1, 5)],
                         ["parent", "change", "parent", "change"])


if __name__ == "__main__":
    unittest.main()
