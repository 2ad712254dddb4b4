"""Tests of the benchmark's percentile and tail-mean rules.

Run from the repository root: `python3 -m unittest discover -s perfbench/tests`
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from run import stream_latencies, windowed  # noqa: E402
from stats import median, percentile, tail_mean  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_is_a_measured_value(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(percentile(xs, 50), 3.0)
        self.assertEqual(percentile(xs, 100), 5.0)
        self.assertEqual(percentile(xs, 1), 1.0)
        self.assertIn(percentile([0.1, 0.7, 0.3], 95), [0.1, 0.7, 0.3])

    def test_rank_is_ceiling_of_p_times_n(self):
        xs = list(range(1, 271))  # 270 samples, as in a full catalog pass
        self.assertEqual(percentile(xs, 95), 257)  # ceil(256.5)
        self.assertEqual(sum(1 for x in xs if x > percentile(xs, 95)), 13)
        self.assertEqual(percentile(xs, 50), 135)
        self.assertEqual(percentile(list(range(1, 101)), 99), 99)

    def test_single_value_and_order_independence(self):
        self.assertEqual(percentile([7.5], 99), 7.5)
        self.assertEqual(percentile([3, 1, 2], 50), percentile([1, 2, 3], 50))

    def test_rejects_empty_and_bad_rank(self):
        with self.assertRaises(ValueError):
            percentile([], 50)
        with self.assertRaises(ValueError):
            percentile([1.0], 0)
        with self.assertRaises(ValueError):
            percentile([1.0], 101)

    def test_tail_mean_averages_the_values_above_the_percentile(self):
        xs = list(range(1, 22))  # 21 operations, as in a catalog pass
        self.assertEqual(percentile(xs, 90), 19)
        self.assertEqual(tail_mean(xs, 90), 20.5)  # mean of 20 and 21
        self.assertEqual(tail_mean(list(reversed(xs)), 90), 20.5)
        # nothing ranks above the percentile: the largest value alone
        self.assertEqual(tail_mean([3.0, 1.0, 2.0], 90), 3.0)
        self.assertEqual(tail_mean([7.5], 50), 7.5)
        with self.assertRaises(ValueError):
            tail_mean([], 90)
        with self.assertRaises(ValueError):
            tail_mean([1.0], 0)

    def test_median_averages_the_middle_pair(self):
        self.assertEqual(median([4, 1, 3]), 3)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            median([])


class StreamLatencyTest(unittest.TestCase):
    def test_latency_is_epoch_end_minus_due_time(self):
        rec = {
            "phases": [{"phase": "low", "firstId": 0, "n": 4, "rate": 1000.0, "startMs": 100},
                       {"phase": "drain", "firstId": 4, "n": 2, "rate": 0.0, "startMs": 500}],
            "epochs": [{"batch": 0, "endMs": 110}, {"batch": 1, "endMs": 600}],
            "epochIds": [{"batch": 0, "minId": 0, "maxId": 1, "n": 2},
                         {"batch": 1, "minId": 2, "maxId": 5, "n": 4}],
        }
        (low_name, low), (drain_name, drain) = stream_latencies(rec)
        self.assertEqual((low_name, drain_name), ("low", "drain"))
        # due times 100, 101, 102, 103 ms; committed at 110, 110, 600, 600
        self.assertEqual(low, [10.0, 9.0, 498.0, 497.0])
        self.assertEqual(drain, [100.0, 100.0])

    def test_windowed_is_the_median_of_window_percentiles(self):
        values = [1, 2, 3] + [10, 20, 30] + [100, 200, 300]
        self.assertEqual(windowed(values, 50, windows=3), 20)
        self.assertEqual(windowed(values, 100, windows=3), 30)
        # one outlier window does not move the result
        self.assertEqual(windowed([5] * 6 + [999] * 3, 99, windows=3), 5)


if __name__ == "__main__":
    unittest.main()
