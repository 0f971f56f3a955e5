"""Unit tests for the benchmark's arithmetic. Run: python3 -m unittest
discover -s perfbench -p 'test_*.py'"""

import unittest

import benchstats as bs


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(bs.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(bs.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(bs.percentile([4, 1, 3, 2], 100), 4)
        self.assertAlmostEqual(bs.percentile(list(range(101)), 99), 99.0)

    def test_single_and_empty(self):
        self.assertEqual(bs.percentile([7.5], 99), 7.5)
        self.assertIsNone(bs.percentile([], 50))

    def test_weighted_nearest_rank(self):
        pairs = [(100.0, 3), (300.0, 1)]
        self.assertEqual(bs.weighted_percentile(pairs, 50), 100.0)
        self.assertEqual(bs.weighted_percentile(pairs, 75), 100.0)
        self.assertEqual(bs.weighted_percentile(pairs, 76), 300.0)
        self.assertIsNone(bs.weighted_percentile([(1.0, 0)], 50))


class LatenessTest(unittest.TestCase):
    def test_late_early_and_on_time(self):
        files = [{"due": 0.0, "visible": 1.5}, {"due": 100.0, "visible": 99.0},
                 {"due": 200.0, "visible": 200.0}]
        self.assertEqual(bs.lateness(files), [1.5, 0.0, 0.0])

    def test_first_batch_latency(self):
        batches = [{"start": 0.0, "durations": {"triggerExecution": 50}},
                   {"start": 60.0, "durations": {"triggerExecution": 40}}]
        # visible at 10: the batch at 0 began before it, the one at 60 after
        self.assertEqual(bs.first_batch_latency(10.0, batches), 90.0)
        self.assertEqual(bs.first_batch_latency(0.0, batches), 50.0)
        self.assertIsNone(bs.first_batch_latency(61.0, batches))

    def test_backlog_counts_landed_minus_finished(self):
        files = [{"visible": 0.0, "events": 50}, {"visible": 100.0, "events": 50}]
        batches = [{"start": 10.0, "rows": 50, "durations": {"triggerExecution": 80}}]
        # at 95 one file is in and its batch is done; at 100 the next lands
        self.assertEqual(bs.backlog_at([50.0, 95.0, 100.0], files, batches), [50, 0, 50])

    def test_drain_ms_waits_for_the_rows_of_the_burst(self):
        batches = [{"start": 0.0, "rows": 50, "durations": {"triggerExecution": 90}},
                   {"start": 93.0, "rows": 600, "durations": {"triggerExecution": 300}},
                   {"start": 400.0, "rows": 400, "durations": {"triggerExecution": 200}}]
        # landed at 95: the batch at 0 ended before it; the one stamped at
        # 93 listed the source after it and took the first rows
        self.assertEqual(bs.drain_ms(95.0, 1000, batches), 505.0)
        self.assertEqual(bs.drain_ms(95.0, 600, batches), 298.0)
        self.assertIsNone(bs.drain_ms(95.0, 1001, batches))


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(bs.union_length([(0, 4), (2, 6), (8, 9)], 1, 10), 6.0)
        self.assertEqual(bs.union_length([(0, 4), (2, 6)], 5, 7), 1.0)
        self.assertEqual(bs.union_length([], 0, 10), 0.0)

    def test_self_time_subtracts_covered_part_once(self):
        spans = [
            {"id": "w", "parent": None, "layer": "bench", "start": 0, "end": 100},
            {"id": "b", "parent": "w", "layer": "streaming", "start": 10, "end": 60},
            {"id": "j1", "parent": "b", "layer": "spark", "start": 20, "end": 40},
            # two parallel sink calls overlapping each other
            {"id": "p1", "parent": "j1", "layer": "sinks", "start": 25, "end": 35},
            {"id": "p2", "parent": "j1", "layer": "sinks", "start": 30, "end": 38},
        ]
        st = bs.self_times(spans)
        self.assertEqual(st["w"], 50)
        self.assertEqual(st["b"], 30)
        self.assertEqual(st["j1"], 7)
        self.assertEqual(bs.layer_self_times(spans),
                         {"bench": 50, "streaming": 30, "spark": 7, "sinks": 18})


if __name__ == "__main__":
    unittest.main()
