"""Unit tests of the benchmark's arithmetic and of the gate's oracle check.

    python3 -m unittest discover -s e2ebench/tests
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import bench_stats  # noqa: E402
import run  # noqa: E402


def span(id, parent, start, end, kind="layer", name="x", tag="op:0", **counts):
    return dict(id=id, parent=parent, tag=tag, name=name, kind=kind,
                start_us=start, end_us=end, **counts)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(1, 0, 0, 100, kind="op"),
                 span(2, 1, 10, 40), span(3, 1, 30, 60),   # overlap 30..40
                 span(4, 2, 15, 20, kind="job")]
        s = bench_stats.self_times(spans)
        self.assertEqual(s[1], 100 - 50)   # children cover 10..60
        self.assertEqual(s[2], 30 - 5)
        self.assertEqual(s[3], 30)
        self.assertEqual(s[4], 5)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 0, 10, kind="op"), span(2, 1, 5, 50)]
        self.assertEqual(bench_stats.self_times(spans)[1], 5)

    def test_unparented_spans_go_to_the_innermost_holder(self):
        spans = [span(1, 0, 0, 100, kind="op"), span(2, 1, 10, 90, name="outer"),
                 span(3, -1, 20, 50, name="inner"),
                 span(4, -1, 25, 27, kind="job"), span(5, -1, 60, 62, kind="job"),
                 span(6, -1, 95, 97, kind="job")]
        bench_stats.resolve_parents(spans)
        self.assertEqual([s["parent"] for s in spans], [0, 1, 2, 3, 2, 1])

    def test_layer_metrics_split_an_op_into_jobs_and_driver_time(self):
        job = dict(stages=1, tasks=4, task_ms=40, input_bytes=100,
                   shuffle_bytes=0, spill_bytes=0, checkpoint=0)
        spans = [span(1, 0, 0, 1000000, kind="op", name="op"),
                 span(2, -1, 200000, 800000, name="ParquetWarehouse.load"),
                 span(3, -1, 300000, 400000, kind="job", name="job:a", **job),
                 span(4, -1, 900000, 950000, kind="job", name="job:b", **job)]
        m = bench_stats.layer_metrics(spans, cores=4)[0]
        self.assertEqual(m["ParquetWarehouse.load_jobs"], 1)
        self.assertAlmostEqual(m["ParquetWarehouse.driver_s"], 0.5)
        self.assertEqual(m["ParquetWarehouse.bytes_read"], 100)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.85)
        self.assertAlmostEqual(m["spark.core_util"], 0.08 / 4)
        self.assertAlmostEqual(m["self.ParquetWarehouse.load_s"], 0.5)
        self.assertAlmostEqual(m["self.op_s"], 1.0 - 0.6 - 0.05)


class OracleCheckTest(unittest.TestCase):
    """The gate's output check: check_oracle.py compares a query's dumped
    result against its DuckDB oracle; run.py turns its report into a
    verdict per query."""

    def run_check(self, rows):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            fixture, dump = os.path.join(d, "fx"), os.path.join(d, "out")
            os.makedirs(fixture)
            os.makedirs(os.path.join(dump, "q"))
            con = duckdb.connect()
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                con.execute(f"COPY (SELECT 1 AS k) TO '{fixture}/{t}.parquet' (FORMAT PARQUET)")
            con.execute(f"COPY (SELECT * FROM (VALUES (0, 'AFRICA'), (1, 'AMERICA')) "
                        f"t(r_regionkey, r_name)) TO '{fixture}/region.parquet' (FORMAT PARQUET)")
            values = ", ".join(f"({k}, '{n}')" for k, n in rows)
            con.execute(f"COPY (SELECT * FROM (VALUES {values}) t(r_regionkey, r_name)) "
                        f"TO '{dump}/q/part-0.parquet' (FORMAT PARQUET)")
            with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
                json.dump({"q": "SELECT r_regionkey, r_name FROM region"}, f)
            out = subprocess.run(
                [sys.executable, os.path.join(run.REPO, "scripts", "check_oracle.py"),
                 fixture, dump, "q"], capture_output=True, text=True).stdout
            return run.parse_oracle(out, ["q"])["q"]

    def test_right_rows_pass(self):
        self.assertEqual(self.run_check([(0, "AFRICA"), (1, "AMERICA")]), (True, 2))

    def test_a_wrong_gate_row_fails(self):
        self.assertFalse(self.run_check([(0, "AFRICA"), (1, "EUROPE")])[0])

    def test_a_missing_gate_row_fails(self):
        self.assertFalse(self.run_check([(0, "AFRICA")])[0])


if __name__ == "__main__":
    unittest.main()
