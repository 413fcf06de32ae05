"""Self-tests for the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import statistics
import tempfile
import unittest

import stats


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        vals = list(range(1, 47))
        pct, v = stats.tail_percentile(vals)
        self.assertEqual(pct, 78)
        self.assertEqual(sum(x > v for x in vals), 10)

    def test_hundred_samples_give_p90(self):
        pct, v = stats.tail_percentile(range(1, 101))
        self.assertEqual((pct, v), (90, 90))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail_percentile([5, 1, 4, 2, 3] * 10),
                         stats.tail_percentile(sorted([5, 1, 4, 2, 3] * 10)))

    def test_eleven_samples_give_the_minimum(self):
        self.assertEqual(stats.tail_percentile(range(11)), (9, 0))

    def test_too_few_samples_fail(self):
        for n in (0, 1, 10):
            with self.assertRaises(ValueError):
                stats.tail_percentile(range(n))

    def test_malformed_fail(self):
        for bad in ([1.0] * 20 + [math.nan], [1.0] * 20 + ["2"], [1] * 20 + [None]):
            with self.assertRaises(ValueError):
                stats.tail_percentile(bad)


class IntervalUnion(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(stats.interval_union([(0, 1), (2, 5)]), 4)

    def test_overlapping_jobs_count_once(self):
        # two AQE jobs running at once inside a third: summing gives 9
        self.assertEqual(stats.interval_union([(0, 5), (1, 3), (2, 4)]), 5)

    def test_touching_and_unsorted(self):
        self.assertEqual(stats.interval_union([(3, 4), (0, 3), (10, 10)]), 4)

    def test_empty_fails(self):
        with self.assertRaises(ValueError):
            stats.interval_union([])

    def test_malformed_fails(self):
        for bad in ([(2, 1)], [(0, math.inf)], [(0,)], [(0, None)], [("a", "b")]):
            with self.assertRaises(ValueError):
                stats.interval_union(bad)


class QuartileSpread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.quartile_spread(vals), (q3 - q1) / statistics.median(vals))

    def test_constant_is_zero(self):
        self.assertEqual(stats.quartile_spread([2.0] * 10), 0.0)

    def test_fails_closed(self):
        for bad in ([], [1.0], [0.0, 0.0, 0.0], [1.0, math.nan], [1.0, "x"]):
            with self.assertRaises(ValueError):
                stats.quartile_spread(bad)

    def test_median_fails_on_empty(self):
        with self.assertRaises(ValueError):
            stats.median([])


class BoxProbe(unittest.TestCase):
    def test_reads_deltas(self):
        p0 = stats.box_probe()
        sum(i * i for i in range(200000))
        p1 = stats.box_probe(p0)
        self.assertGreaterEqual(p1["nproc"], 1)
        self.assertTrue(0.0 <= p1["steal_frac"] <= 1.0)
        self.assertTrue(0.0 <= p1["iowait_frac"] <= 1.0)

    def test_malformed_proc_stat_fails(self):
        with tempfile.NamedTemporaryFile("w", delete=False) as f:
            f.write("intr 1 2 3\n")
        try:
            with self.assertRaises(ValueError):
                stats.read_cpu_ticks(f.name)
        finally:
            os.unlink(f.name)


if __name__ == "__main__":
    unittest.main()
