"""Self-tests for the benchmark's statistics on synthetic series.

Run: python3 perfbench/test_stats.py
"""
import os
import math
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_on_a_known_series(self):
        xs = list(range(1, 1001))  # 1..1000
        self.assertEqual(stats.percentile(xs, 50), 500)
        self.assertEqual(stats.percentile(xs, 99), 990)
        self.assertEqual(stats.percentile(xs, 100), 1000)
        self.assertEqual(stats.percentile(reversed(xs), 99), 990)

    def test_p99_needs_ten_samples_beyond_it(self):
        self.assertTrue(stats.tail_supported(1000, 99))
        self.assertFalse(stats.tail_supported(999, 99))
        self.assertFalse(stats.tail_supported(100, 99))
        self.assertTrue(stats.tail_supported(20, 50))

    def test_tail_of_a_skewed_series(self):
        # 990 fast samples and 10 slow ones: p99 stays fast, p99.9 is slow
        xs = [10.0] * 990 + [1000.0] * 10
        self.assertEqual(stats.percentile(xs, 99), 10.0)
        self.assertEqual(stats.percentile(xs, 99.9), 1000.0)

    def test_empty_series_fails_loud(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class BacklogSlopeTest(unittest.TestCase):
    every_second = [float(t) for t in range(0, 21)]

    def test_keeping_up_has_zero_slope(self):
        offered = lambda t: 1000.0 * t
        self.assertAlmostEqual(
            stats.backlog_slope(offered, offered, self.every_second, 0, 10), 0.0)

    def test_falling_behind_shows_the_rate_gap(self):
        offered = lambda t: 1000.0 * t
        committed = lambda t: 600.0 * t
        self.assertAlmostEqual(stats.backlog_slope(
            offered, committed, self.every_second, 0, 10), 400.0, places=6)

    def test_only_the_second_half_counts(self):
        # behind for the first half, caught up and keeping pace after
        offered = lambda t: 1000.0 * t
        committed = lambda t: 0.0 if t < 5 else 1000.0 * t
        self.assertAlmostEqual(stats.backlog_slope(
            offered, committed, self.every_second, 0, 10), 0.0)

    def test_step_commits_have_no_sawtooth(self):
        # each commit covers everything due up to one second before it:
        # the backlog right after a commit is constant, so no growth
        offered = lambda t: 1000.0 * t
        committed = lambda t: 1000.0 * max(0, math.floor(t) - 1)
        self.assertAlmostEqual(stats.backlog_slope(
            offered, committed, self.every_second, 0, 20), 0.0)

    def test_slow_commits_fall_back_to_the_whole_step(self):
        offered = lambda t: 1000.0 * t
        committed = lambda t: 500.0 * t
        self.assertAlmostEqual(stats.backlog_slope(
            offered, committed, [1.0, 4.0], 0, 10), 500.0)

    def test_a_commit_after_the_step_closes_a_sparse_one(self):
        # one commit inside the step, the next after it: the load after the
        # step (none here) must not flatten the step's own growth
        offered = lambda t: 1000.0 * min(t, 10)
        committed = lambda t: 500.0 * min(t, 10)
        self.assertAlmostEqual(stats.backlog_slope(
            offered, committed, [4.0, 9.0, 30.0], 5, 10), 500.0 / 21)

    def test_no_slope_without_two_commits(self):
        f = lambda t: t
        self.assertIsNone(stats.backlog_slope(f, f, [3.0], 0, 10))


class SustainedPickTest(unittest.TestCase):
    def step(self, rate, slope_eps, p99):
        return {"rate": rate, "slope_eps": slope_eps, "p99_ms": p99}

    def test_picks_the_highest_rate_that_keeps_up(self):
        steps = [self.step(1000, 0, 900), self.step(4000, 20, 1500),
                 self.step(16000, 5000, 9000)]
        self.assertEqual(stats.sustained_pick(steps, limit_ms=3000)["rate"], 4000)

    def test_latency_limit_disqualifies_a_step(self):
        steps = [self.step(1000, 0, 900), self.step(4000, 0, 3500)]
        self.assertEqual(stats.sustained_pick(steps, limit_ms=3000)["rate"], 1000)

    def test_growing_backlog_disqualifies_a_step(self):
        steps = [self.step(1000, 0, 900), self.step(4000, 400, 900)]
        self.assertEqual(stats.sustained_pick(steps, limit_ms=3000)["rate"], 1000)

    def test_none_when_nothing_qualifies(self):
        self.assertIsNone(stats.sustained_pick([self.step(1000, 900, 100)]))

    def test_unmeasured_backlog_does_not_qualify(self):
        steps = [self.step(1000, 0, 900), self.step(4000, None, 900)]
        self.assertEqual(stats.sustained_pick(steps, limit_ms=3000)["rate"], 1000)


class AggregateTest(unittest.TestCase):
    def test_median_of_even_and_odd_series(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)


if __name__ == "__main__":
    unittest.main()
