"""Self-tests for the benchmark's arithmetic: python3 perfbench/test_stats.py"""
import unittest

import stats


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_tail_needs_ten_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)  # p90 of 99 is not a tail
        self.assertEqual(stats.highest_tail(99), 80)

    def test_highest_tail(self):
        self.assertEqual(stats.highest_tail(1000), 99)
        self.assertEqual(stats.highest_tail(200), 95)
        self.assertEqual(stats.highest_tail(100), 90)
        self.assertEqual(stats.highest_tail(80), 80)
        self.assertEqual(stats.highest_tail(45), 75)
        self.assertEqual(stats.highest_tail(30), 66)
        self.assertIsNone(stats.highest_tail(15))

    def test_failures_count_as_infinite(self):
        xs = [1.0] * 95 + [float("inf")] * 5
        self.assertEqual(stats.percentile(xs, 90), 1.0)
        self.assertEqual(stats.percentile(xs, 96), float("inf"))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class TracingOverhead(unittest.TestCase):
    @staticmethod
    def overhead(traced, times):
        t = [x for x, on in zip(times, traced) if on]
        u = [x for x, on in zip(times, traced) if not on]
        return sum(t) / len(t) - sum(u) / len(u)

    def test_abba_order(self):
        self.assertEqual(stats.abba(4), [False, True, True, False])
        self.assertEqual(stats.abba(8), [False, True, True, False] * 2)

    def test_linear_warm_up_cancels(self):
        # pass times fall by 10 ms a pass and tracing costs nothing
        times = [100.0 - 10 * i for i in range(8)]
        self.assertEqual(self.overhead(stats.abba(8), times), 0.0)
        # alternating untraced/traced passes would read -10 ms
        self.assertEqual(self.overhead([i % 2 == 1 for i in range(8)], times), -10.0)
        # a real overhead still shows
        cost = [x + (5.0 if on else 0.0) for x, on in zip(times, stats.abba(8))]
        self.assertEqual(self.overhead(stats.abba(8), cost), 5.0)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ms([]), 0)

    def test_children_clipped_and_overlaps_counted_once(self):
        # span 0..100; children 10..30 and 20..40 overlap, 90..120 runs past the end
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(stats.self_time((0, 100), [(200, 300)]), 100)
        self.assertEqual(stats.self_time((0, 100), [(0, 100)]), 0)

    def test_innermost_parent(self):
        spans = [{"id": 1, "start": 0, "end": 100}, {"id": 2, "start": 10, "end": 50},
                 {"id": 3, "start": 60, "end": 90}]
        self.assertEqual(stats.assign_parents(spans, [(20, 30), (70, 80), (55, 58), (150, 160)]),
                         [2, 3, 1, 0])


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # due at 0, sent late at 40 (all connections busy), done at 100
        self.assertEqual(stats.due_latencies([{"due": 0, "send": 40, "end": 100}]), [100])

    def test_backlog(self):
        reqs = [{"due": 0, "end": 5}, {"due": 10, "end": 50}, {"due": 20, "end": 60},
                {"due": 30, "end": 25}]
        self.assertEqual(stats.backlog(reqs, 30), 2)
        self.assertEqual(stats.backlog(reqs, 100), 0)

    def test_backlog_grows_when_outstanding_exceeds_connections(self):
        steady = [{"due": 10 * i, "end": 10 * i + 15} for i in range(50)]
        self.assertFalse(stats.backlog_grows(steady, 4))
        # each request takes 20 ms longer than the last: the queue keeps growing
        growing = [{"due": 10 * i, "end": 10 * i + 20 * i} for i in range(50)]
        self.assertTrue(stats.backlog_grows(growing, 4))
        self.assertFalse(stats.backlog_grows([], 4))


if __name__ == "__main__":
    unittest.main()
