"""Tests of the benchmark's own arithmetic (stats.py).

    python3 -m unittest discover -s pipebench -p 'test_*.py'
"""
import json
import math
import unittest

import stats


def span(i, name, start, end, parent=0, kind="op", mode="traced", **c):
    return {"id": i, "name": name, "kind": kind, "parent": parent,
            "pass": 0, "mode": mode, "start": start, "end": end,
            "counters": c}


class Percentile(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond_it(self):
        xs = list(range(1, 201))  # 200 samples: p95 rank 190, 10 beyond
        self.assertEqual(stats.percentile_with_tail(xs),
                         {"pct": 95, "value": 190, "n": 200})

    def test_falls_back_to_the_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 41))  # 40 samples: at most rank 30 qualifies
        r = stats.percentile_with_tail(xs)
        self.assertEqual((r["pct"], r["value"], r["n"]), (75, 30, 40))
        self.assertGreaterEqual(40 - r["value"], 10)

    def test_none_when_not_even_the_median_qualifies(self):
        self.assertIsNone(stats.percentile_with_tail(list(range(15))))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 20
        self.assertEqual(stats.percentile_with_tail(xs),
                         stats.percentile_with_tail(sorted(xs)))


class Intervals(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]),
                         20)

    def test_union_ignores_empty_and_reversed(self):
        self.assertEqual(stats.union_length([(3, 3), (5, 2), (0, 1)]), 1)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]),
                         12)

    def test_self_time_subtracts_the_union_of_children(self):
        parent = span(1, "sim.build", 0, 100)
        kids = [span(2, "a", 10, 40, 1, "sub"),
                span(3, "b", 30, 60, 1, "sub"),
                span(4, "c", 90, 130, 1, "sub")]  # clipped at 100
        self.assertEqual(stats.self_time(parent, kids), 100 - 50 - 10)

    def test_gap_is_wall_minus_job_union_clipped_to_the_span(self):
        s = span(1, "text.bpe", 1000, 2000)
        jobs = [{"start": 900, "end": 1100}, {"start": 1050, "end": 1300},
                {"start": 1500, "end": 1600}]
        self.assertEqual(stats.gap_time(s, jobs), 1000 - 300 - 100)


class OpTable(unittest.TestCase):
    record = {
        "spans": [span(1, "sim.build", 0, 1000),
                  span(2, "sim.build.train", 0, 400, 1, "sub"),
                  span(3, "sim.search", 1000, 1200, result_rows=10),
                  span(4, "sim.search", 1200, 1300, mode="untraced",
                       result_rows=10)],
        "probe": {
            "jobs": [{"id": 0, "span": 2, "start": 100, "end": 300},
                     {"id": 1, "span": 1, "start": 500, "end": 900},
                     {"id": 2, "span": 3, "start": 1050, "end": 1150}],
            "stages": [{"id": 0, "job": 0, "tasks": 4, "cpu_s": 0.5,
                        "run_s": 0.6, "gc_s": 0.1, "shuffle_read_mb": 1.0,
                        "shuffle_write_mb": 2.0, "input_records": 0},
                       {"id": 1, "job": 2, "tasks": 1, "cpu_s": 0.01,
                        "run_s": 0.02, "gc_s": 0.0, "shuffle_read_mb": 0,
                        "shuffle_write_mb": 0, "input_records": 300}],
            "queries": [{"plan_s": 0.05, "at": 450},
                        {"plan_s": 0.02, "at": 1040}]}}

    def test_sub_span_jobs_count_toward_the_op(self):
        table = stats.op_table(stats.op_calls(self.record, ("traced",)))
        b = table["sim.build"]
        self.assertEqual(b["jobs"], 2)
        self.assertEqual(b["tasks"], 4)
        self.assertAlmostEqual(b["shuffle_mb"], 3.0)
        self.assertAlmostEqual(b["plan_s"], 0.05)
        self.assertAlmostEqual(b["busy_s"], 1.0)
        self.assertAlmostEqual(b["self_s"], 0.6)
        self.assertAlmostEqual(b["gap_s"], 1.0 - 0.2 - 0.4)

    def test_ratio_and_untraced_calls_excluded(self):
        table = stats.op_table(stats.op_calls(self.record, ("traced",)))
        s = table["sim.search"]
        self.assertEqual(s["calls"], 1)
        self.assertAlmostEqual(s["rows_per_result"], 30.0)
        self.assertAlmostEqual(s["gap_s"], 0.1)

    def test_engine_totals_sum_one_call_of_each_op(self):
        table = stats.op_table(stats.op_calls(self.record, ("traced",)))
        tot = stats.engine_totals(table)
        self.assertEqual(tot["spark.jobs"], 3)
        self.assertAlmostEqual(tot["ops.busy_s"], 1.2)

    def test_overhead_compares_traced_and_untraced_medians(self):
        o = stats.trace_overhead(self.record)
        self.assertEqual(o["ops"], ["sim.search"])
        self.assertAlmostEqual(o["overhead_s"], 0.2 - 0.1)


class Trailer(unittest.TestCase):
    metrics = {"latency_p50_ms": {"value": 412.5, "unit": "ms"},
               "setup_s": {"value": 11.25, "unit": "s"}}

    def test_round_trip_from_the_last_line(self):
        out = "pipebench: noise\n{\"detail\": 1}\n" + stats.trailer(
            True, 26, 0, self.metrics) + "\n\n"
        obj = stats.parse_trailer(out)
        self.assertEqual(obj["metrics"], self.metrics)
        self.assertEqual((obj["correct"], obj["attempted"], obj["failed"]),
                         (True, 26, 0))

    def test_trailer_is_compact_single_line(self):
        t = stats.trailer(False, 3, 1, self.metrics)
        self.assertNotIn("\n", t)
        self.assertNotIn(", ", t)
        self.assertEqual(json.loads(t)["correct"], False)

    def test_rejects_extra_keys_and_bad_metrics(self):
        with self.assertRaises(ValueError):
            stats.parse_trailer(json.dumps({"correct": True, "attempted": 1,
                                            "failed": 0, "metrics": {},
                                            "x": 1}))
        with self.assertRaises(ValueError):
            stats.parse_trailer(json.dumps(
                {"correct": True, "attempted": 1, "failed": 0,
                 "metrics": {"m": {"value": "1", "unit": "s"}}}))
        with self.assertRaises(ValueError):
            stats.parse_trailer(stats.trailer(True, 0, 0, {}))

    def test_median_skips_nan(self):
        self.assertEqual(stats.median([1.0, math.nan, 3.0]), 2.0)


if __name__ == "__main__":
    unittest.main()
