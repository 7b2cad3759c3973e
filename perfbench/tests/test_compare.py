import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402

PARENT = [100.0, 101.0, 99.0, 100.5, 99.5, 100.2, 99.8, 100.1, 99.9, 100.3]


class VerdictTest(unittest.TestCase):
    def test_improved_needs_nine_of_ten_wins_and_a_gap(self):
        change = [p * 0.9 for p in PARENT]
        self.assertEqual(compare.verdict(PARENT, change, "lower", 0.1), ("improved", 1.0))

    def test_higher_is_better_direction(self):
        change = [p * 1.1 for p in PARENT]
        self.assertEqual(compare.verdict(PARENT, change, "higher", 0.1)[0], "improved")
        self.assertEqual(compare.verdict(PARENT, change, "lower", 0.2)[0], "within bound")

    def test_eight_wins_is_not_improved(self):
        change = [p * 0.9 for p in PARENT[:8]] + [p * 1.01 for p in PARENT[8:]]
        v, share = compare.verdict(PARENT, change, "lower", 0.1)
        self.assertEqual(share, 0.8)
        self.assertEqual(v, "within bound")

    def test_ties_count_for_neither(self):
        v, share = compare.verdict(PARENT, list(PARENT), "lower", 0.1)
        self.assertEqual((v, share), ("within bound", 0.0))

    def test_small_loss_is_within_bound(self):
        change = [p * 1.03 for p in PARENT]
        self.assertEqual(compare.verdict(PARENT, change, "lower", 0.1)[0], "within bound")

    def test_large_loss_is_regressed(self):
        change = [p * 1.3 for p in PARENT]
        self.assertEqual(compare.verdict(PARENT, change, "lower", 0.1)[0], "regressed")

    def test_wide_parent_spread_is_unresolved(self):
        parent = [60.0, 140.0, 80.0, 120.0, 100.0, 70.0, 130.0, 90.0, 110.0, 100.0]
        change = [p * 1.05 for p in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "unresolved")

    def test_wide_spread_but_every_change_run_better(self):
        parent = [160.0, 240.0, 180.0, 220.0, 200.0, 170.0, 230.0, 190.0, 210.0, 200.0]
        change = [100.0, 150.0, 120.0, 140.0, 130.0, 110.0, 145.0, 125.0, 135.0, 130.0]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "improved")
        change = [158.0] * 10
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "within bound")


class CompareTest(unittest.TestCase):
    def test_pairs_by_seed(self):
        parent = {"search": {1: {"pass_s": 10.0}, 2: {"pass_s": 11.0}, 3: {"pass_s": 9.0}}}
        change = {"search": {2: {"pass_s": 10.0}, 3: {"pass_s": 8.0}, 4: {"pass_s": 1.0}}}
        rows = compare.compare(parent, change,
                               [{"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.2}])
        (w, m, unit, pq, cq, share, v, n), = rows
        self.assertEqual((w, m, n, share), ("search", "pass_s", 2, 1.0))


if __name__ == "__main__":
    unittest.main()
