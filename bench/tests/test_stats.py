"""Tests of the benchmark's report arithmetic on synthetic spans and samples.

    python3 -m unittest discover -s bench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analyze  # noqa: E402
import stats  # noqa: E402


def span(i, parent, layer, start, end, name="x"):
    return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end,
            "name": name}


class SelfTime(unittest.TestCase):
    def test_leaf_is_all_self(self):
        self.assertEqual(stats.self_times([span(1, 0, "query", 10, 30)]), {1: 20})

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(1, 0, "query", 0, 100),
                 span(2, 1, "store", 10, 30),
                 span(3, 1, "spark", 20, 50),   # overlaps the store read by 10
                 span(4, 1, "spark", 70, 80)]
        own = stats.self_times(spans)
        # children cover [10, 50) and [70, 80): 50 of the parent's 100
        self.assertEqual(own[1], 50)
        self.assertEqual(own[2], 20)

    def test_children_are_clipped_to_the_parent(self):
        # a Spark job attached to a call can outlive it
        spans = [span(1, 0, "query", 0, 100), span(2, 1, "spark", 90, 150)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_grandchildren_count_only_against_their_parent(self):
        spans = [span(1, 0, "operators", 0, 100),
                 span(2, 1, "spark", 0, 60),
                 span(3, 2, "spark", 0, 40)]
        own = stats.self_times(spans)
        self.assertEqual((own[1], own[2], own[3]), (40, 20, 40))

    def test_layer_totals(self):
        spans = [span(1, 0, "query", 0, 100), span(2, 1, "spark", 10, 40),
                 span(3, 0, "query", 200, 210)]
        self.assertEqual(stats.layer_self_times(spans), {"query": 80, "spark": 30})

    def test_union_length_merges_touching_and_nested_intervals(self):
        self.assertEqual(stats.union_length([(0, 10), (10, 20), (2, 5), (30, 31)]), 21)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)


class TailRule(unittest.TestCase):
    def test_levels(self):
        self.assertIsNone(stats.tail_level(10, 99))
        self.assertEqual(stats.tail_level(200, 95), 95)
        self.assertEqual(stats.tail_level(1000, 99), 99)
        self.assertEqual(stats.tail_level(100, 95), 90)
        self.assertEqual(stats.tail_level(27, 95), 62)

    def test_every_level_leaves_ten_samples_beyond(self):
        for n in range(11, 400):
            p = stats.tail_level(n, 99)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, n)
            if p < 99:
                # one level higher would leave fewer than ten
                above = sum(1 for x in xs if x > stats.percentile(xs, p + 1))
                self.assertLess(above, 10, n)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertEqual(stats.percentile(xs, 1), 1)


class Visibility(unittest.TestCase):
    def test_burst_frames_take_their_wave_due_time(self):
        stream = {"batches": [
            {"start": 0, "end": 3, "start_ms": 1000, "end_ms": 1500},
            {"start": 3, "end": 6, "start_ms": 1500, "end_ms": 2600}]}
        push = {"base": 0, "wave_ends": [4, 6], "desc": {"kind": "corpus"},
                "summary": {"sent": 6, "t0_ms": [1000, 2000], "late_p99_s": 0.0}}
        v = analyze.push_view(stream, push)
        self.assertEqual(v["samples"], [0.5, 0.5, 0.5, 1.6, 0.6, 0.6])
        self.assertAlmostEqual(v["drain_s"], 1.6)

    def test_live_frames_are_due_at_their_send_slot(self):
        stream = {"batches": [{"start": 10, "end": 13, "start_ms": 0, "end_ms": 1100}]}
        # two paced records and one of the closing flush block
        push = {"base": 10, "wave_ends": [], "desc": {"kind": "live", "count": 2},
                "summary": {"sent": 3, "t0_ms": [1000], "rate": 10, "late_p99_s": 0.0}}
        self.assertEqual(analyze.push_view(stream, push)["samples"], [0.1, 0.0])


if __name__ == "__main__":
    unittest.main()
