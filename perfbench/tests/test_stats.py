"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


def batch(n, start, trigger_ms, end_offset, rows=1):
    return {"batch": n, "start": start, "input_rows": rows,
            "durations_ms": {"triggerExecution": trigger_ms},
            "end_offset": end_offset}


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(1, 101))
        value, pct = stats.tail(reversed(xs))
        self.assertEqual(pct, 90.0)
        # on 1..100 the estimate is n * p + 0.5, the nearest-rank sample 90
        self.assertAlmostEqual(value, 90.5, places=6)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_percentile_follows_the_sample_count(self):
        value, pct = stats.tail(range(24))
        self.assertAlmostEqual(pct, 100 * 14 / 24)
        self.assertTrue(12 < value < 14)
        value, pct = stats.tail(range(600))
        self.assertAlmostEqual(pct, 100 * 590 / 600)
        self.assertTrue(588 < value < 590)
        self.assertEqual(stats.tail(range(11))[1], 100 / 11)

    def test_quantile_weights_sum_to_one(self):
        self.assertAlmostEqual(stats.quantile([2.5] * 40, 0.75), 2.5)
        self.assertAlmostEqual(stats.quantile([7.0], 0.5), 7.0)
        self.assertAlmostEqual(stats.beta_cdf(2.0, 3.0, 0.5), 11 / 16)
        self.assertAlmostEqual(stats.beta_cdf(590.0, 11.0, 0.98),
                               1 - stats.beta_cdf(11.0, 590.0, 0.02))

    def test_one_sample_crossing_the_tail_moves_it_little(self):
        # twenty keys of two executions each, a gap of 0.37 s above the
        # 15th key: one slow execution of a fast key moves the nearest-rank
        # sample across the whole gap, the estimate by a fraction of it
        keys = [0.2 + 0.03 * k for k in range(15)] + [1.0 + 0.1 * k
                                                      for k in range(5)]
        xs = [x for k in keys for x in (k, k + 0.01)]
        slow = [3.0] + xs[1:]
        nearest = lambda v: sorted(v)[len(v) - 11]
        self.assertAlmostEqual(nearest(slow) - nearest(xs), 0.37, places=6)
        moved = stats.tail(slow)[0] - stats.tail(xs)[0]
        self.assertTrue(0 < moved < 0.1, moved)

    def test_p50_is_the_nearest_rank_median(self):
        self.assertEqual(stats.p50([5, 1, 4, 2, 3, 6]), 3)
        self.assertEqual(stats.p50([3, 1, 2]), 2)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0))
        self.assertTrue(all(math.isnan(v) for v in stats.tail([])))


class Passes(unittest.TestCase):
    def test_pass_walls_split_executions_by_their_number(self):
        ops = [{"op": f"t0.{j}", "start": float(j), "end": j + 0.5}
               for j in range(6)]
        self.assertEqual(stats.pass_walls(reversed(ops), 3), [2.5, 2.5])
        self.assertEqual(stats.median(stats.pass_walls(ops, 2)), 1.5)

    def test_trimmed_mean_drops_one_value_at_each_end(self):
        self.assertEqual(stats.trimmed_mean([9.0, 1.0, 2.0, 4.0]), 3.0)
        self.assertEqual(stats.trimmed_mean([2.0, 4.0]), 3.0)
        self.assertTrue(math.isnan(stats.trimmed_mean([])))

    def test_median_of_an_even_count_is_the_mean_of_the_middle_two(self):
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertTrue(math.isnan(stats.median([])))


class FreshnessJoin(unittest.TestCase):
    def test_each_append_joins_the_first_batch_covering_it(self):
        appends = [{"sched": 0.00, "end_offset": 100},
                   {"sched": 0.05, "end_offset": 200},
                   {"sched": 0.10, "end_offset": 300}]
        progress = {"q": [batch(1, 0.52, 400, 300), batch(0, 0.02, 500, 100)]}
        samples, misses = stats.freshness(appends, progress)
        self.assertEqual(misses, 0)
        for got, want in zip(samples, [0.52, 0.87, 0.82]):
            self.assertAlmostEqual(got, want)

    def test_idle_batches_and_uncovered_appends(self):
        appends = [{"sched": 0.0, "end_offset": 50},
                   {"sched": 0.1, "end_offset": 500}]
        progress = {"a": [batch(0, 0.1, 100, None, rows=0),
                          batch(1, 0.2, 100, 60)],
                    "b": [batch(0, 0.3, 200, 500)]}
        samples, misses = stats.freshness(appends, progress)
        self.assertEqual(misses, 1)  # query a never read offset 500
        for got, want in zip(samples, [0.3, 0.5, 0.4]):
            self.assertAlmostEqual(got, want)

    def test_read_lag_counts_events_appended_but_not_read(self):
        appends = [{"end": 0.1, "end_offset": 100},
                   {"end": 0.2, "end_offset": 250},
                   {"end": 0.9, "end_offset": 400}]
        self.assertEqual(stats.read_lag(appends, batch(0, 0.0, 500, 100)), 150)
        self.assertEqual(stats.read_lag(appends, batch(1, 0.5, 500, 400)), 0)

    def test_drain_ends_when_the_slowest_query_covers_the_backlog(self):
        drain = {"start": 0.9, "target": 100, "end": 3.0}
        fast = [batch(0, 1.0, 500, 100)]
        slow = [batch(0, 1.0, 300, 40), batch(1, 1.3, 1200, 100)]
        self.assertAlmostEqual(stats.drain_s(drain, [fast, slow]), 1.6)
        self.assertAlmostEqual(stats.drain_s(drain, [fast, []]), 2.1)

    def test_backlog_growth(self):
        self.assertEqual(stats.backlog_growth([100, 120, 90, 110]), -10.0)
        self.assertEqual(stats.backlog_growth([100, 100, 300, 300]), 200.0)
        self.assertEqual(stats.backlog_growth([5]), 0.0)


class SpanSelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_and_clipped(self):
        spans = [
            {"id": 1, "parent": 0, "name": "query", "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "name": "build", "start": 1.0, "end": 3.0},
            {"id": 3, "parent": 1, "name": "action", "start": 2.0, "end": 5.0},
            {"id": 4, "parent": 1, "name": "release", "start": 8.0, "end": 12.0},
            {"id": 5, "parent": 3, "name": "stage", "start": 2.5, "end": 4.5},
        ]
        self_time = stats.self_times(spans)
        self.assertAlmostEqual(self_time["query"], 10 - 4 - 2)
        self.assertAlmostEqual(self_time["build"], 2.0)
        self.assertAlmostEqual(self_time["action"], 1.0)
        self.assertAlmostEqual(self_time["release"], 4.0)
        self.assertAlmostEqual(self_time["stage"], 2.0)

    def test_self_time_sums_over_spans_of_one_name(self):
        spans = [{"id": i, "parent": 0, "name": "append", "start": i,
                  "end": i + 0.25} for i in range(1, 5)]
        self.assertAlmostEqual(stats.self_times(spans)["append"], 1.0)


class FailureAccounting(unittest.TestCase):
    def test_every_failure_is_counted_with_its_class(self):
        ops = [{"ok": True},
               {"ok": False, "error_class": "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"},
               {"ok": False, "error_class": "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"},
               {"ok": False, "error_class": None}]
        checks = [{"ok": True}, {"ok": False}]
        errors = [{"error_class": "OVER_CAPACITY"}]
        attempted, failed, classes = stats.failures(ops, checks, errors)
        self.assertEqual((attempted, failed), (7, 5))
        self.assertEqual(classes, {"CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND": 2,
                                   "unknown": 1, "OUTPUT_MISMATCH": 1,
                                   "OVER_CAPACITY": 1})

    def test_a_clean_run_has_no_failures(self):
        self.assertEqual(stats.failures([{"ok": True}] * 3, [{"ok": True}]),
                         (4, 0, {}))


class OracleComparison(unittest.TestCase):
    def setUp(self):
        import oracle
        import pandas as pd
        self.compare, self.pd = oracle.compare, pd

    def test_equal_frames_compare_by_column_name(self):
        a = self.pd.DataFrame({"x": [1, 2], "y": [0.5, float("nan")]})
        b = self.pd.DataFrame({"y": [0.5, float("nan")], "x": [1, 2]})
        self.assertIsNone(self.compare(a, b))

    def test_integer_and_float_families_differ(self):
        a = self.pd.DataFrame({"n": [1, 2]})
        b = self.pd.DataFrame({"n": [1.0, 2.0]})
        self.assertIn("dtype family", self.compare(a, b))

    def test_value_and_row_count_mismatches(self):
        a = self.pd.DataFrame({"s": ["a", "b"]})
        self.assertIn("row 1", self.compare(a, self.pd.DataFrame({"s": ["a", "c"]})))
        self.assertIn("rows 2 vs 1", self.compare(a, a.head(1)))


class Definition(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_run_py_prints(self):
        import run
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         run.E2E)
        self.assertEqual([m["name"] for m in spec["per_layer"]], run.PER_LAYER)
        self.assertTrue(all(m["unit"] == run.unit(m["name"])
                            for m in spec["per_layer"]))
        self.assertTrue({w["name"] for w in spec["workloads"]} <=
                        set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
