"""Tests of the paired-runs report on canned result lines. Run from the
repository root:

    python3 -m unittest discover -s tools/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench_pairs  # noqa: E402

SPEC = {"end_to_end": [{"name": "wall_rel", "better": "lower", "bound": 0.25},
                       {"name": "heap_retained_mb", "better": "lower", "bound": 0.25}]}


def stdout(wall, heap, correct=True, failed=0, parts=None):
    """What e2ebench/run.py prints: a diagnostics line, then the result."""
    result = {"correct": correct, "attempted": 120, "failed": failed,
              "metrics": {"wall_rel": {"value": wall, "unit": "ratio"},
                          "heap_retained_mb": {"value": heap, "unit": "MB"}}}
    diag = {"seed": 1, "timed_parts_s": parts or []}
    return json.dumps({"diagnostics": diag}) + "\n" + json.dumps(result) + "\n"


def record(side, seed, wall, heap=100.0, rc=0, **kw):
    out = stdout(wall, heap, **kw)
    return {"side": side, "workload": "alto_flow", "seed": seed, "rc": rc,
            "result": bench_pairs.parse_result(out), "parts": bench_pairs.parse_parts(out)}


def rows_by_metric(records):
    return {r["metric"]: r for r in bench_pairs.summarise(records, SPEC)}


class ParseTest(unittest.TestCase):

    def test_result_is_the_last_json_line_with_metrics(self):
        r = bench_pairs.parse_result(stdout(14.1, 98.6) + "[e2ebench] trailing log\n")
        self.assertEqual(r["metrics"]["wall_rel"]["value"], 14.1)
        self.assertIsNone(bench_pairs.parse_result("no json here\n"))

    def test_stage_walls_are_the_median_over_timed_iterations(self):
        parts = [{"objects": 1.0, "upsert": 0.5}, {"objects": 3.0, "upsert": 0.4},
                 {"objects": 2.0, "upsert": 0.6, "fetch": 0.01}]
        got = bench_pairs.parse_parts(stdout(14.1, 98.6, parts=parts))
        self.assertEqual(got, {"fetch": 0.01, "objects": 2.0, "upsert": 0.5})
        self.assertIsNone(bench_pairs.parse_parts("no json here\n"))

    def test_seed_ranges_and_lists(self):
        self.assertEqual(bench_pairs.parse_seeds("31-34"), [31, 32, 33, 34])
        self.assertEqual(bench_pairs.parse_seeds("5,7-8"), [5, 7, 8])


class SummariseTest(unittest.TestCase):

    def test_nine_wins_in_ten_and_a_gap_beyond_the_iqr_is_a_gain(self):
        parent = [27.0, 28.0, 26.0, 29.0, 27.5, 26.5, 28.5, 27.2, 26.8, 14.0]
        change = [14.0, 15.0, 13.5, 14.5, 14.2, 13.8, 14.8, 14.1, 13.9, 20.0]
        recs = [record("parent", i, p) for i, p in enumerate(parent)]
        recs += [record("change", i, c) for i, c in enumerate(change)]
        row = rows_by_metric(recs)["wall_rel"]
        self.assertEqual((row["wins"], row["losses"], row["pairs"]), (9, 1, 10))
        self.assertEqual(row["verdict"], "gain")
        # equal heap on both sides: ties count for neither side
        heap = rows_by_metric(recs)["heap_retained_mb"]
        self.assertEqual((heap["wins"], heap["losses"]), (0, 0))
        self.assertEqual(heap["verdict"], "within bound")

    def test_eight_wins_in_ten_is_not_a_gain(self):
        recs = []
        for i in range(10):
            recs.append(record("parent", i, 20.0 + i * 0.1))
            recs.append(record("change", i, 15.0 if i < 8 else 30.0))
        self.assertNotEqual(rows_by_metric(recs)["wall_rel"]["verdict"], "gain")

    def test_a_median_worse_beyond_the_bound_is_a_regression(self):
        recs = []
        for i in range(10):
            recs.append(record("parent", i, 20.0, heap=100.0 + i * 0.01))
            recs.append(record("change", i, 20.0, heap=130.0 + i * 0.01))
        self.assertEqual(rows_by_metric(recs)["heap_retained_mb"]["verdict"], "regressed")

    def test_a_spread_wider_than_the_bound_is_unresolved(self):
        parent = [10.0, 20.0, 30.0, 15.0, 25.0]
        change = [11.0, 19.0, 31.0, 16.0, 24.0]
        recs = [record("parent", i, p) for i, p in enumerate(parent)]
        recs += [record("change", i, c) for i, c in enumerate(change)]
        self.assertEqual(rows_by_metric(recs)["wall_rel"]["verdict"], "unresolved")

    def test_a_failed_or_incorrect_run_drops_its_pair_and_is_counted(self):
        recs = [record("parent", 1, 20.0), record("change", 1, 10.0),
                record("parent", 2, 20.0), record("change", 2, 10.0, correct=False, failed=3),
                record("parent", 3, 20.0), {"side": "change", "workload": "alto_flow",
                                            "seed": 3, "rc": 2, "result": None}]
        row = rows_by_metric(recs)["wall_rel"]
        self.assertEqual(row["pairs"], 1)
        self.assertEqual(row["failed_runs"], {"parent": 0, "change": 2})
        table = bench_pairs.format_rows(bench_pairs.summarise(recs, SPEC))
        self.assertIn("alto_flow change 2", table)


class StagesTest(unittest.TestCase):

    def test_each_side_reports_its_median_per_stage_over_correct_runs(self):
        def parts(objects):
            return [{"objects": objects, "upsert": 0.5}]
        recs = [record("parent", 1, 20.0, parts=parts(2.0)), record("change", 1, 10.0, parts=parts(1.0)),
                record("parent", 2, 20.0, parts=parts(4.0)), record("change", 2, 10.0, parts=parts(3.0)),
                record("parent", 3, 20.0, parts=parts(3.0)),
                record("change", 3, 10.0, correct=False, parts=parts(9.0))]
        rows = {r["stage"]: r for r in bench_pairs.summarise_stages(recs)}
        self.assertEqual((rows["objects"]["parent"], rows["objects"]["change"]), (3.0, 2.0))
        self.assertEqual((rows["objects"]["parent_runs"], rows["objects"]["change_runs"]), (3, 2))
        table = bench_pairs.format_stages(bench_pairs.summarise_stages(recs))
        self.assertIn("| alto_flow | objects | 3 | 2 | -33.3% | 3/2 |", table)


if __name__ == "__main__":
    unittest.main()
