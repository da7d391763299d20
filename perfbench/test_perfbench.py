"""Tests for the benchmark's own arithmetic and its input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import gen
import stats


class PercentileTest(unittest.TestCase):
    def test_median_odd_even_empty(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(stats.median([]), 0.0)

    def test_nearest_rank_and_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100
        self.assertEqual(stats.percentile(xs, 90), (90.0, 10))
        self.assertEqual(stats.percentile(xs, 50), (50.0, 50))
        self.assertEqual(stats.percentile(xs, 100), (100.0, 0))
        self.assertEqual(stats.percentile([], 90), (0.0, 0))

    def test_ties_are_not_beyond(self):
        v, beyond = stats.percentile([1.0] * 5 + [2.0] * 5, 50)
        self.assertEqual((v, beyond), (1.0, 5))

    def test_highest_supported_percentile(self):
        self.assertEqual(stats.highest_supported_percentile(100), 90)
        self.assertEqual(stats.highest_supported_percentile(1000), 99)
        self.assertEqual(stats.highest_supported_percentile(20), 50)
        self.assertIsNone(stats.highest_supported_percentile(19))


class IntervalTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # two concurrent jobs: a sum would say 20, the union is 15
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)

    def test_nested_disjoint_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (20, 25)]), 15)
        self.assertEqual(stats.union_length([(0, 5), (5, 8)]), 8)
        self.assertEqual(stats.union_length([]), 0)

    def test_clip_to_span(self):
        self.assertEqual(stats.union_length([(-5, 5), (8, 30)], clip=(0, 10)), 7)
        self.assertEqual(stats.union_length([(20, 30)], clip=(0, 10)), 0)


class TraceOverheadTest(unittest.TestCase):
    def test_traced_only_calls_are_not_overhead(self):
        untraced = [{"wall_s": 4.0}, {"wall_s": 5.0}, {"wall_s": 6.0}]
        # 1.5 s of each traced wall are calls untraced iterations skip
        traced = [{"wall_s": 7.0, "traced_only_s": 1.5},
                  {"wall_s": 6.5, "traced_only_s": 1.5}]
        self.assertAlmostEqual(stats.trace_overhead(traced, untraced), 0.25)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_child_cover_once(self):
        span = {"start": 0, "end": 100}
        kids = [{"start": 10, "end": 40}, {"start": 30, "end": 50},
                {"start": 90, "end": 120}]
        # children cover 10..50 and 90..100 inside the span: 50
        self.assertEqual(stats.self_time(span, kids), 50)
        self.assertEqual(stats.self_time(span, []), 100)


class AttributionTest(unittest.TestCase):
    def test_innermost_span_wins(self):
        spans = [{"id": 0, "start_ms": 0, "end_ms": 100},
                 {"id": 1, "start_ms": 10, "end_ms": 20},
                 {"id": 2, "start_ms": 30, "end_ms": 40}]
        evs = [{"start_ms": 15}, {"start_ms": 25}, {"start_ms": 35}, {"start_ms": 200}]
        self.assertEqual(stats.attribute(evs, spans), {0: 1, 1: 0, 2: 2, 3: None})

    def test_layer_metrics_gap_and_glue(self):
        rec = {
            "iterations": [
                {"i": 0, "traced": False, "error": None, "wall_s": 1.0,
                 "start_ms": 0, "end_ms": 1000},
                {"i": 1, "traced": True, "error": None, "wall_s": 1.5,
                 "start_ms": 2000, "end_ms": 3500},
            ],
            "spans": [{"id": 0, "iter": 1, "name": "selectivesearch.select",
                       "parent": -1, "start_ms": 2000, "end_ms": 3000, "dur_s": 1.0,
                       "rows_in": 100, "rows_out": 25}],
            "jobs": [
                {"start_ms": 2100, "end_ms": 2500, "cpu_s": 0.5, "shuffle_write": 2e6,
                 "spill": 0},
                {"start_ms": 2300, "end_ms": 2600, "cpu_s": 0.25, "shuffle_write": 0,
                 "spill": 1e6},
            ],
            "plans": [{"start_ms": 2050, "end_ms": 2090, "plan_s": 0.04}],
            "facts": {},
        }
        names = ["selectivesearch.select.wall_s", "selectivesearch.select.exec_cpu_s",
                 "selectivesearch.select.shuffle_mb", "selectivesearch.select.driver_gap_s",
                 "selectivesearch.select.plan_s", "selectivesearch.select.rows_out_per_in",
                 "iter.jobs", "iter.spill_mb", "iter.glue_s", "trace.overhead_s",
                 "operators.Pq.ivfPqRerankTopKPrebuilt.wall_s"]
        m = stats.layer_metrics(rec, names)
        self.assertAlmostEqual(m["selectivesearch.select.exec_cpu_s"], 0.75)
        self.assertAlmostEqual(m["selectivesearch.select.shuffle_mb"], 2.0)
        # jobs cover 2100..2600 once: gap = 1.0 - 0.5
        self.assertAlmostEqual(m["selectivesearch.select.driver_gap_s"], 0.5)
        self.assertAlmostEqual(m["selectivesearch.select.plan_s"], 0.04)
        self.assertAlmostEqual(m["selectivesearch.select.rows_out_per_in"], 0.25)
        self.assertEqual(m["iter.jobs"], 2)
        self.assertAlmostEqual(m["iter.spill_mb"], 1.0)
        self.assertAlmostEqual(m["iter.glue_s"], 0.5)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.5)
        self.assertEqual(m["operators.Pq.ivfPqRerankTopKPrebuilt.wall_s"], 0.0)


class GeneratorTest(unittest.TestCase):
    SMALL = {
        "ss_sweep": {"queries": 4, "shards": 3, "buckets": 2, "mean_depth": 5},
        "train_data": {"docs": 60, "vectors": 50, "dim": 8, "clusters": 3},
    }

    def test_same_seed_same_digest_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as tmp:
            for wl, sizes in self.SMALL.items():
                a, b, c = (os.path.join(tmp, f"{wl}-{x}") for x in "abc")
                gen.generate(wl, 7, a, sizes)
                gen.generate(wl, 7, b, sizes)
                gen.generate(wl, 8, c, sizes)
                self.assertEqual(gen.digest_dir(a), gen.digest_dir(b), wl)
                self.assertNotEqual(gen.digest_dir(a), gen.digest_dir(c), wl)


if __name__ == "__main__":
    unittest.main()
