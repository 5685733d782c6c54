"""Unit tests of the benchmark's arithmetic.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_p95_when_enough_samples(self):
        # 200 samples: rank 190 has exactly ten beyond it
        self.assertEqual(stats.tail_rank(200), 190)
        self.assertEqual(stats.tail(list(range(1, 201))), (190, 95.0))

    def test_lower_percentile_keeps_ten_beyond(self):
        # 50 samples: p95 would leave 2 beyond; rank 40 leaves ten
        self.assertEqual(stats.tail_rank(50), 40)
        value, pct = stats.tail(list(range(1, 51)))
        self.assertEqual((value, pct), (40, 80.0))

    def test_ten_beyond_for_every_size(self):
        for n in range(21, 400):
            k = stats.tail_rank(n)
            self.assertGreaterEqual(n - k, 10)
            self.assertTrue(k == n - 10 or k == -(-95 * n // 100))

    def test_small_samples_fall_back_to_median(self):
        self.assertEqual(stats.tail([5.0, 1.0, 3.0]), (3.0, 66.66666666666667))
        self.assertEqual(stats.tail([1.0, 2.0])[0], 1.5)
        self.assertEqual(stats.tail([]), (0.0, 0.0))

    def test_order_does_not_matter(self):
        xs = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # due 0 ms, started 5 ms late, ended 12 ms after due
        lat, late = stats.open_loop([(0, 5_000_000, 12_000_000)])
        self.assertEqual(lat, [12.0])
        self.assertEqual(late, [5.0])

    def test_stall_is_charged_to_queued_operations(self):
        # ops due every 10 ms; the first stalls 35 ms, the next three run
        # back to back behind it, each taking 1 ms
        ops = [(0, 0, 35), (10, 35, 36), (20, 36, 37), (30, 37, 38)]
        ops = [tuple(x * 1_000_000 for x in op) for op in ops]
        lat, late = stats.open_loop(ops)
        self.assertEqual(lat, [35.0, 26.0, 17.0, 8.0])
        self.assertEqual(late, [0.0, 25.0, 16.0, 7.0])

    def test_early_start_is_not_negative_lateness(self):
        lat, late = stats.open_loop([(1_000_000, 900_000, 3_000_000)])
        self.assertEqual(late, [0.0])
        self.assertEqual(lat, [2.0])


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end, "jobs": 1}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 90)]
        self.assertEqual(stats.self_times(spans), {1: 40, 2: 20, 3: 40})

    def test_overlapping_children_count_once(self):
        # two concurrent children cover [10, 60] together
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 60)]
        self.assertEqual(stats.self_times(spans)[1], 50)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 80, 130)]
        self.assertEqual(stats.self_times(spans)[1], 80)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 20)]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 40, 3: 10})

    def test_subtree_sums(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 20), span(4, 0, 0, 1)]
        self.assertEqual(stats.subtree_sums(spans, "jobs"), {1: 3, 2: 2, 3: 1, 4: 1})


class Spread(unittest.TestCase):
    def test_quartile_spread_is_share_of_median(self):
        self.assertAlmostEqual(stats.quartile_spread([10.0] * 10), 0.0)
        vals = [9.0, 9.5, 10.0, 10.0, 10.0, 10.0, 10.0, 10.5, 11.0, 12.0]
        q1, q3 = 9.875, 10.625
        self.assertAlmostEqual(stats.quartile_spread(vals), (q3 - q1) / 10.0)


if __name__ == "__main__":
    unittest.main()
