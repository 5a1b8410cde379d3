"""Unit tests of the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertIsNone(stats.percentile([], 50))

    def test_inf_sorts_last(self):
        self.assertEqual(stats.percentile([3.0, stats.INF, 1.0], 100), stats.INF)
        self.assertEqual(stats.percentile([3.0, stats.INF, 1.0], 50), 3.0)

    def test_tail_level_needs_ten_beyond(self):
        self.assertEqual(stats.beyond(1000, 99), 10)
        self.assertEqual(stats.tail_level(1000), 99.0)
        self.assertEqual(stats.tail_level(999), 95.0)
        self.assertEqual(stats.tail_level(10000), 99.9)
        self.assertEqual(stats.tail_level(100), 90.0)
        self.assertEqual(stats.tail_level(36), 50.0)
        self.assertIsNone(stats.tail_level(19))


class DueLatencyTest(unittest.TestCase):
    def test_stalled_consumer_counts_the_wait(self):
        # one event due every 10 ms; the consumer stalls from 0 to 500 ms and
        # then takes everything at once. Service time after the stall is ~0,
        # but each event waited from its due time.
        due = [10.0 * i for i in range(100)]
        recv = [max(500.0, d) + 1.0 for d in due]
        lat = stats.due_latencies(due, recv)
        self.assertEqual(lat[0], 501.0)
        self.assertEqual(lat[-1], 1.0)
        self.assertEqual(stats.percentile(lat, 50), 1.0)
        self.assertEqual(stats.percentile(lat, 60), 101.0)
        self.assertGreater(stats.percentile(lat, 99), 490.0)

    def test_missing_receipt_is_over_any_limit(self):
        lat = stats.due_latencies([0.0, 1.0], [5.0, None])
        self.assertEqual(lat, [5.0, stats.INF])
        self.assertEqual(stats.percentile(lat, 99), stats.INF)


class RobustTailTest(unittest.TestCase):
    def test_one_slow_window_does_not_set_the_tail(self):
        # five 1000 ms windows of ten events each; window 2 stalls
        due = [100.0 * i for i in range(50)]
        lat = [900.0 if 2000 <= d < 3000 else 100.0 + d % 1000 / 10 for d in due]
        self.assertEqual(stats.percentile(lat, 95), 900.0)
        self.assertEqual(stats.windowed_percentile(due, lat, 1000, 95), 190.0)
        self.assertIsNone(stats.windowed_percentile([], [], 1000, 95))

    def test_missing_events_in_most_windows_make_it_infinite(self):
        due = [0.0, 1.0, 1000.0, 2000.0]
        lat = [5.0, stats.INF, stats.INF, 5.0]
        self.assertEqual(stats.windowed_percentile(due, lat, 1000, 95), stats.INF)

    def test_top_mean(self):
        self.assertEqual(stats.top_mean([5, 1, 4, 2, 3, 6, 9, 8, 7, 10, 11, 12], 0.25), 11)
        self.assertEqual(stats.top_mean([3, 1], 0.1), 3)
        self.assertIsNone(stats.top_mean([], 0.25))


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ms([(0, 10), (5, 15)], 2, 12), 10)
        self.assertEqual(stats.union_ms([]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "start": 10.0, "end": 40.0},
            {"id": 3, "parent": 1, "start": 30.0, "end": 60.0},  # overlaps 2
            {"id": 4, "parent": 2, "start": 15.0, "end": 20.0},
            {"id": 5, "parent": 1, "start": 90.0, "end": 120.0},  # runs past 1
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 30)


class WriteAmpTest(unittest.TestCase):
    def test_ratio_of_sums(self):
        self.assertEqual(stats.write_amp([300, 900], [100, 200]), 4.0)
        self.assertIsNone(stats.write_amp([10], [0]))


class SpreadTest(unittest.TestCase):
    def test_quartile_spread_over_median(self):
        med, q1, q3, rel = stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(q1, 2.75)
        self.assertAlmostEqual(q3, 8.25)
        self.assertAlmostEqual(rel, 1.0)


if __name__ == "__main__":
    unittest.main()
