"""Tests of the benchmark launcher: metric names, result line, input
re-layout and the self-time report. Run from the repository root:

    python3 -m unittest discover -s e2ebench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import trace_report  # noqa: E402

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


class MetricNamesTest(unittest.TestCase):

    def setUp(self):
        with open(BENCHMARK) as f:
            self.spec = json.load(f)

    def test_names_and_units_match_benchmark_json(self):
        e2e = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layers, run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.spec["workloads"]], run.WORKLOADS)

    def test_result_line_parses_with_the_declared_metrics(self):
        e2e = {k: 1.5 for k in run.END_TO_END}
        for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            line = run.result_line(True, 10, 0, run.metrics_for(trace, e2e, {"exec.jobs": 3}))
            out = json.loads(line)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(out["metrics"]), set(names))
            for name, m in out["metrics"].items():
                self.assertEqual(set(m), {"value", "unit"})
                self.assertIsInstance(m["value"], float)
                self.assertEqual(m["unit"], names[name])
        traced = json.loads(run.result_line(True, 1, 0, run.metrics_for(1, e2e, {"exec.jobs": 3})))
        self.assertEqual(traced["metrics"]["exec.jobs"]["value"], 3.0)


class RelayTest(unittest.TestCase):

    def read(self, d, table):
        import pyarrow.parquet as pq
        path = os.path.join(d, f"{table}.parquet")
        files = sorted(os.listdir(path))
        return [pq.read_table(os.path.join(path, f)) for f in files]

    def test_relay_is_deterministic_and_keeps_the_rows(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            run.relay(4, a)
            run.relay(4, b)
            run.relay(5, c)
            for table in ("documents", "orders"):
                pa_ = self.read(a, table)
                self.assertEqual([x.to_pylist() for x in pa_],
                                 [x.to_pylist() for x in self.read(b, table)])
                src = pq.read_table(os.path.join(run.DATA, f"{table}.parquet"))
                got = pa.concat_tables(pa_)
                self.assertEqual(got.schema, src.schema)
                key = src.column_names[0]
                self.assertEqual(sorted(got.column(key).to_pylist()),
                                 sorted(src.column(key).to_pylist()))
                self.assertNotEqual(pa.concat_tables(self.read(c, table)).column(key).to_pylist(),
                                    got.column(key).to_pylist())


class OracleCheckTest(unittest.TestCase):

    def test_a_query_without_an_oracle_fails(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            os.makedirs(os.path.join(t, "q_one"))
            pq.write_table(pa.table({"n": pa.array([1], pa.int64())}),
                           os.path.join(t, "q_one", "part-0.parquet"))
            with open(os.path.join(t, "oracle_sql.json"), "w") as f:
                json.dump({"q_one": "SELECT CAST(1 AS BIGINT) AS n"}, f)
            self.assertEqual(run.oracle_check(run.DATA, t, ["q_one"]), [])
            fails = run.oracle_check(run.DATA, t, ["q_one", "q_two"])
            self.assertEqual(len(fails), 1)
            self.assertTrue(fails[0].startswith("FAIL q_two"))


class TraceReportTest(unittest.TestCase):

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "parent": 0, "name": "flow.sync", "run": "timed-0", "start_s": 0.0, "end_s": 10.0},
            {"id": 2, "parent": 1, "name": "sinks.objects", "run": "timed-0", "start_s": 1.0, "end_s": 6.0},
            {"id": 3, "parent": 2, "name": "exec.job", "run": "timed-0", "start_s": 2.0, "end_s": 5.0},
            {"id": 4, "parent": 2, "name": "exec.job", "run": "timed-0", "start_s": 4.0, "end_s": 5.5},
        ]
        st = trace_report.self_times(spans)["timed-0"]
        self.assertAlmostEqual(st["flow"], 5.0)
        self.assertAlmostEqual(st["sinks"], 1.5)
        self.assertAlmostEqual(st["exec"], 3.5)
        wall, n, rows = trace_report.table({"spans": spans})
        self.assertEqual((wall, n), (10.0, 1))


if __name__ == "__main__":
    unittest.main()
