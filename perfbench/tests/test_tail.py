"""Tests of the tail-latency figure (`run.tail`).

The tail must not depend on how many samples a run happens to take in a
way that turns it into a low percentile: around n = 10 it stays at the
top of the sample, and only from 100 samples on does it become the
highest percentile with ten samples beyond it.

Run from the repository root:
    python3 perfbench/tests/test_tail.py
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def samples(n):
    # 1..n seconds, shuffled so the order of arrival does not matter
    return [float((7 * i) % n + 1) for i in range(n)]


class Tail(unittest.TestCase):
    def test_small_samples_stay_near_the_top(self):
        self.assertEqual(run.tail(samples(6)), (6.0, 100.0, 6))
        self.assertEqual(run.tail(samples(10)), (9.0, 90.0, 10))
        self.assertEqual(run.tail(samples(11)), (10.0, 100.0 * 10 / 11, 11))
        self.assertEqual(run.tail(samples(12)), (11.0, 100.0 * 11 / 12, 12))

    def test_never_below_p90(self):
        for n in range(1, 300):
            _, pct, count = run.tail(samples(n))
            self.assertGreaterEqual(pct, 90.0, n)
            self.assertEqual(count, n)

    def test_ten_beyond_from_100_samples(self):
        self.assertEqual(run.tail(samples(100)), (90.0, 90.0, 100))
        self.assertEqual(run.tail(samples(200)), (190.0, 95.0, 200))

    def test_empty(self):
        self.assertEqual(run.tail([]), (0.0, 0.0, 0))


if __name__ == "__main__":
    unittest.main()
