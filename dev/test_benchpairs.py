"""Tests of benchpairs' win count and verdicts.

Run from the repo root: python3 -m unittest discover -s dev -p 'test_*.py'
"""

import unittest

from benchpairs import verdicts, wins


class WinsTest(unittest.TestCase):

    def test_lower_is_better(self):
        self.assertEqual(wins([10, 10, 10], [9, 11, 10], lower=True), 1)

    def test_higher_is_better(self):
        self.assertEqual(wins([10, 10, 10], [9, 11, 10], lower=False), 1)

    def test_ties_count_for_neither_side(self):
        self.assertEqual(wins([5] * 4, [5] * 4, lower=True), 0)
        self.assertEqual(wins([5] * 4, [5] * 4, lower=False), 0)


class ClaimTest(unittest.TestCase):
    # a tight parent (q3 - q1 = 0.1) and a change 1.0 lower
    PARENT = [10.0] * 5 + [10.1] * 5

    def test_nine_of_ten_wins_meets_the_claim(self):
        change = [9.0] * 9 + [10.5]
        self.assertEqual(wins(self.PARENT, change, lower=True), 9)
        self.assertTrue(verdicts(self.PARENT, change, True, None)[0])

    def test_eight_of_ten_wins_misses_the_claim(self):
        change = [9.0] * 8 + [10.5] * 2
        self.assertFalse(verdicts(self.PARENT, change, True, None)[0])

    def test_a_tie_is_not_a_win(self):
        change = [9.0] * 8 + [10.1, 10.1]  # the last two pairs tie
        self.assertEqual(wins(self.PARENT, change, lower=True), 8)
        self.assertFalse(verdicts(self.PARENT, change, True, None)[0])

    def test_a_median_gap_inside_the_parent_spread_misses_the_claim(self):
        parent = [8.0, 9.0, 10.0, 11.0, 12.0] * 2
        change = [x - 0.5 for x in parent]
        self.assertEqual(wins(parent, change, lower=True), 10)
        self.assertFalse(verdicts(parent, change, True, None)[0])

    def test_higher_is_better_claim(self):
        change = [11.0] * 10
        self.assertTrue(verdicts(self.PARENT, change, False, None)[0])
        self.assertFalse(verdicts(self.PARENT, change, True, None)[0])


class BoundTest(unittest.TestCase):

    def test_no_bound(self):
        self.assertEqual(verdicts([1.0, 2.0], [1.0, 2.0], True, None)[1], "-")

    def test_within_and_past_the_bound(self):
        parent = [10.0] * 10
        self.assertEqual(verdicts(parent, [12.4] * 10, True, 0.25)[1], "yes")
        self.assertEqual(verdicts(parent, [12.6] * 10, True, 0.25)[1], "no")

    def test_higher_is_better_bound(self):
        parent = [100.0] * 10
        self.assertEqual(verdicts(parent, [81.0] * 10, False, 0.2)[1], "yes")
        self.assertEqual(verdicts(parent, [79.0] * 10, False, 0.2)[1], "no")

    def test_a_parent_spread_wider_than_the_bound_is_unresolved(self):
        # parent q3 - q1 = 3.0 > median 10.0 x 0.25
        parent = [6.0, 8.0, 8.0, 10.0, 10.0, 10.0, 10.0, 12.0, 12.0, 14.0]
        self.assertEqual(verdicts(parent, [10.0] * 10, True, 0.25)[1], "unresolved")
        self.assertEqual(verdicts(parent, [20.0] * 10, True, 0.25)[1], "unresolved")

    def test_every_change_run_better_than_every_parent_run_resolves(self):
        parent = [6.0, 8.0, 8.0, 10.0, 10.0, 10.0, 10.0, 12.0, 12.0, 14.0]
        self.assertEqual(verdicts(parent, [5.0] * 10, True, 0.25)[1], "yes")
        # a single change run level with the parent's best is not enough
        self.assertEqual(verdicts(parent, [5.0] * 9 + [6.0], True, 0.25)[1], "unresolved")


if __name__ == "__main__":
    unittest.main()
