"""Tests of graft-bench's statistics: python3 -m unittest discover -s perfbench"""
import unittest

import stats


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples: p90 = 90 has exactly 10 beyond
        self.assertEqual(stats.tail(xs), (90, 90.0, 100))

    def test_more_samples_reach_a_higher_percentile(self):
        xs = list(range(1, 1001))  # p99 = 990 has 10 beyond; p99.5 has 5
        self.assertEqual(stats.tail(xs), (990, 99.0, 1000))

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        xs = [1.0] * 15 + [2.0] * 9  # only 9 samples above any value
        self.assertIsNone(stats.tail(xs))
        self.assertEqual(stats.tail(xs + [3.0]), (1.0, 50.0, 25))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))  # p50 = 9: 9 beyond
        self.assertEqual(stats.tail(list(range(20))), (9, 50.0, 20))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 100), 5)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 1), 1)


def span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "name": layer, "op": 0,
            "start": int(start * 1e9), "end": int(end * 1e9)}


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(0, -1, "bench", 0, 10),
                 span(1, 0, "queries", 1, 5),
                 span(2, 1, "operators", 2, 4),
                 span(3, 0, "exec", 5, 9),
                 span(4, 3, "catalyst", 5, 6)]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["bench"], 2.0)      # 10 - 4 - 4
        self.assertAlmostEqual(got["queries"], 2.0)    # 4 - 2
        self.assertAlmostEqual(got["operators"], 2.0)
        self.assertAlmostEqual(got["exec"], 3.0)       # 4 - 1
        self.assertAlmostEqual(got["catalyst"], 1.0)

    def test_overlaps_go_to_the_earlier_child_and_overhangs_are_clipped(self):
        spans = [span(0, -1, "exec", 0, 10),
                 span(1, 0, "catalyst", 1, 4),
                 span(2, 0, "catalyst", 3, 6),      # overlaps the first
                 span(3, 0, "operators", 9, 12)]    # runs past its parent
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["exec"], 10 - 5 - 1)
        self.assertAlmostEqual(got["catalyst"], 3.0 + 2.0)
        self.assertAlmostEqual(got["operators"], 1.0)  # clipped to 9..10
        self.assertAlmostEqual(sum(got.values()), 10.0)

    def test_self_times_sum_to_root_duration(self):
        spans = [span(0, -1, "bench", 0, 8), span(1, 0, "sources", 1, 7),
                 span(2, 1, "exec", 2, 3), span(3, 1, "exec", 4, 6)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 8.0)


class ErrorRate(unittest.TestCase):
    def test_thrown_op_and_wrong_answer_both_count(self):
        samples = [{"kind": "query", "ok": True}, {"kind": "query", "ok": False},
                   {"kind": "query", "ok": True}, {"kind": "query", "ok": True},
                   {"kind": "batch", "ok": True}]  # batches are samples, not ops
        checks = [{"name": "oracle:q1", "ok": True},
                  {"name": "oracle:q2", "ok": False}]  # deliberately wrong answer
        self.assertEqual(stats.error_counts(samples, checks), (4, 2))

    def test_clean_run(self):
        self.assertEqual(stats.error_counts([{"kind": "read", "ok": True}],
                                            [{"name": "x", "ok": True}]), (1, 0))


if __name__ == "__main__":
    unittest.main()
