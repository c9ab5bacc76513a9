"""Tests of the benchmark's own arithmetic:
python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_median_of_few_samples(self):
        xs = [(float(i), 1) for i in range(1, 18)]
        self.assertEqual(stats.percentile(xs, 0.5), 9.0)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_tail_needs_ten_beyond(self):
        xs = [(float(i), 1) for i in range(1, 100)]
        self.assertIsNone(stats.tail_percentile(xs, 0.9))   # rank 90, 9 beyond
        xs.append((100.0, 1))
        self.assertEqual(stats.tail_percentile(xs, 0.9), 90.0)  # 10 beyond
        self.assertIsNone(stats.tail_percentile(xs, 0.99))

    def test_tail_counts_weighted_samples(self):
        self.assertEqual(stats.tail_percentile([(1.0, 90), (5.0, 10)], 0.9), 1.0)
        self.assertIsNone(stats.tail_percentile([(1.0, 90), (5.0, 9)], 0.9))

    def test_weights_count_as_samples(self):
        xs = [(1.0, 60), (2.0, 30), (3.0, 10)]
        self.assertEqual(stats.percentile(xs, 0.5), 1.0)
        self.assertEqual(stats.tail_percentile(xs, 0.9), 2.0)
        # zero weights are no samples
        self.assertEqual(stats.percentile(xs + [(0.0, 0)], 0.5), 1.0)

    def test_unsorted_input(self):
        xs = [(float(v), 1) for v in (5, 3, 9, 1, 7) * 6]
        self.assertEqual(stats.percentile(xs, 0.5), 5.0)


class LagTest(unittest.TestCase):
    def test_lag_is_epoch_end_minus_due(self):
        ends = {"3": 10_000.0, "4": 15_500.0}
        rows = [[3, 8_000, 5], [4, 9_000, 2], [4.0, 15_000, 1]]
        self.assertEqual(stats.lags(ends, rows), [(2.0, 5), (6.5, 2), (0.5, 1)])

    def test_live_samples_come_from_timed_files(self):
        measured = {
            "epoch_ends": {"0": 1_000.0, "1": 6_000.0},
            "ops": [
                {"kind": "file", "timed": False, "items": 3, "ok": True,
                 "rows": [[0, 500, 3]]},
                {"kind": "file", "timed": True, "items": 4, "ok": True,
                 "rows": [[1, 3_000, 4]]},
            ]}
        self.assertEqual(stats.latency_samples(measured), [(3.0, 4)])
        # four items from their due time to the end of the epoch that wrote them
        self.assertEqual(stats.items_per_s(measured), 4 / 3.0)


class LatencyTest(unittest.TestCase):
    def test_closed_loop_latency_is_the_mean(self):
        measured = {"ops": [
            {"timed": True, "items": 1, "latency": [[1.0, 1.0]]},
            {"timed": True, "items": 1, "latency": [[2.0, 1.0]]},
            {"timed": True, "items": 1, "latency": [[6.0, 1.0]]},
            {"timed": False, "items": 0, "latency": [[50.0, 1.0]]}]}
        self.assertEqual(stats.latency_s(measured), 3.0)
        self.assertEqual(stats.latency_s(measured), 1 / stats.items_per_s(measured))

    def test_open_loop_latency_is_the_median_lag(self):
        measured = {"epoch_ends": {"0": 5_000.0},
                    "ops": [{"timed": True, "items": 3, "rows": [[0, 1_000, 2], [0, 4_000, 1]]}]}
        self.assertEqual(stats.latency_s(measured), 4.0)


class BacklogTest(unittest.TestCase):
    def test_only_files_older_than_a_trigger_count(self):
        m = {"gen_end_ms": 10_000, "trigger_ms": 5_000,
             "published": [[1, 4_000, 4_001], [2, 9_000, 9_001], [3, 4_500, 4_501]],
             "epoch_ends": {"1": 5_500.0, "2": 10_700.0, "3": 15_600.0},
             "ops": [{"timed": True, "file": "1", "rows": [[1, 3_900, 5]]},
                     {"timed": True, "file": "2", "rows": [[2, 8_900, 5]]},
                     {"timed": True, "file": "3", "rows": [[3, 4_400, 5]]}]}
        # file 2 is young enough to wait for the next trigger; file 3 is not
        self.assertEqual(stats.backlog_files(m), 1)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, name, start, end, parent=0):
        return {"id": i, "name": name, "start": start, "end": end, "parent": parent}

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, "relay.drain", 0, 1000),
                 self.span(2, "sched.job", 100, 400, 1),
                 self.span(3, "sched.job", 300, 600, 1),   # overlaps job 2
                 self.span(4, "stream.epoch", 550, 700, 1)]
        selfs = stats.self_times(spans)
        # children cover [100, 700]: 600 ms of the drain's 1000
        self.assertAlmostEqual(selfs["relay"], 0.4)
        self.assertAlmostEqual(selfs["sched"], 0.6)
        self.assertAlmostEqual(selfs["stream"], 0.15)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, "query.build", 0, 100),
                 self.span(2, "sched.job", 50, 300, 1)]
        self.assertAlmostEqual(stats.self_times(spans)["query"], 0.05)

    def test_nested_layers(self):
        spans = [self.span(1, "stream.epoch", 0, 100),
                 self.span(2, "stream.addBatch", 10, 90, 1),
                 self.span(3, "sched.job", 20, 50, 2)]
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs["stream"], (20 + 50) / 1000.0)
        self.assertAlmostEqual(selfs["sched"], 0.03)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4)
        self.assertEqual(stats.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
