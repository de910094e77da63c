"""Tests of the percentile and digest code.

    python3 -m unittest discover -s taskbench/tests
"""
import datetime
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
from stats import median, percentile  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [15.0, 20.0, 35.0, 40.0, 50.0]
        self.assertEqual(percentile(xs, 0), 15.0)
        self.assertEqual(percentile(xs, 100), 50.0)
        self.assertEqual(percentile(xs, 50), 35.0)
        self.assertAlmostEqual(percentile(xs, 90), 46.0)  # rank 3.6
        self.assertAlmostEqual(percentile(xs, 25), 20.0)

    def test_order_does_not_matter(self):
        xs = [9.0, 1.0, 5.0, 3.0, 7.0, 2.0]
        self.assertEqual(percentile(xs, 90), percentile(sorted(xs), 90))

    def test_median_agrees_with_statistics(self):
        for xs in ([1.0], [2.0, 1.0], [3.0, 1.0, 2.0, 10.0], [0.5, 0.25, 4.0, 8.0, 1.0]):
            self.assertAlmostEqual(median(xs), statistics.median(xs))

    def test_p90_of_a_hundred_runs_has_ten_beyond_it(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(sum(1 for x in xs if x > percentile(xs, 90)), 10)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            percentile([], 50)
        with self.assertRaises(ValueError):
            percentile([1.0], 101)


class DigestTest(unittest.TestCase):
    def canon(self, cols, rows):
        return oracle.canonical(cols, rows)

    def test_column_and_row_order_do_not_matter(self):
        a = self.canon(["b", "a"], [(2.0, "x"), (1.0, "y")])
        b = self.canon(["a", "b"], [("y", 1.0), ("x", 2.0)])
        self.assertEqual(oracle.digest(*a), oracle.digest(*b))

    def test_doubles_are_rounded_to_1e6(self):
        a = self.canon(["v"], [(0.1 + 0.2,)])
        b = self.canon(["v"], [(0.3,)])
        self.assertEqual(oracle.digest(*a), oracle.digest(*b))
        c = self.canon(["v"], [(0.300002,)])
        self.assertNotEqual(oracle.digest(*a), oracle.digest(*c))

    def test_nan_is_null_and_negative_zero_is_zero(self):
        self.assertEqual(self.canon(["v"], [(float("nan"),)]), self.canon(["v"], [(None,)]))
        self.assertEqual(oracle.digest(*self.canon(["v"], [(-0.0,)])),
                         oracle.digest(*self.canon(["v"], [(0.0,)])))

    def test_timestamps_and_lists(self):
        t = datetime.datetime(2024, 1, 1, 0, 0, 1)
        a = self.canon(["t", "l"], [(t, [1.0000001, 2.0])])
        self.assertEqual(a[1], [((1.0, 2.0), "2024-01-01T00:00:01")])

    def test_a_changed_value_or_missing_row_fails(self):
        want = self.canon(["k", "v"], [(1, 1.5), (2, 2.5)])
        self.assertEqual(oracle.compare(want, want), (True, "digest"))
        ok, _ = oracle.compare(self.canon(["k", "v"], [(1, 1.5), (2, 2.6)]), want)
        self.assertFalse(ok)
        ok, detail = oracle.compare(self.canon(["k", "v"], [(1, 1.5)]), want)
        self.assertFalse(ok)
        self.assertIn("rows", detail)
        ok, _ = oracle.compare(self.canon(["k", "w"], [(1, 1.5), (2, 2.5)]), want)
        self.assertFalse(ok)

    def test_one_rounding_step_is_tolerated_two_are_not(self):
        want = self.canon(["v"], [(2.0000005,)])  # rounds to 2.000001 (or 2.0)
        near = self.canon(["v"], [(2.0,)])
        self.assertEqual(oracle.compare(near, want)[0], True)
        far = self.canon(["v"], [(2.000003,)])
        self.assertFalse(oracle.compare(far, want)[0])


if __name__ == "__main__":
    unittest.main()
