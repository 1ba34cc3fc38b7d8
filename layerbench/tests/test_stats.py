"""Tests of the benchmark's percentile rules.

Run from the repository root: python3 -m unittest discover -s layerbench/tests
"""

import os
import random
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        value, pct, n = stats.tail(range(1, 101))
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_ten_samples_lie_beyond_the_tail(self):
        rng = random.Random(7)
        xs = [rng.random() for _ in range(37)]
        value, pct, n = stats.tail(xs)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertAlmostEqual(pct, 100 * 27 / 37)

    def test_few_samples_fall_back_to_the_median(self):
        value, pct, n = stats.tail([5, 1, 3, 2, 4])
        self.assertEqual((value, pct, n), (3, 50.0, 5))

    def test_tail_is_never_below_the_median(self):
        rng = random.Random(1)
        for n in range(1, 200):
            xs = [rng.choice([0.1, 0.2, 0.3, rng.expovariate(1)]) for _ in range(n)]
            value, pct, _ = stats.tail(xs)
            self.assertGreaterEqual(value, stats.median(xs))
            self.assertGreaterEqual(pct, 50.0)

    def test_order_does_not_matter(self):
        rng = random.Random(3)
        xs = [rng.gauss(1, 0.2) for _ in range(60)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs, reverse=True)))


if __name__ == "__main__":
    unittest.main()
