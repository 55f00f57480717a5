"""Tests of the benchmark itself. From the checkout root:

    python3 -m unittest discover -s perfbench/tests -v

The warehouse-checker test compiles the program and the benchmark on
first use and starts a small local Spark session (about a minute).
"""
import json
import os
import shutil
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402


class SelfTime(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [(0, "run", -1, 0.0, 100.0),
                 (1, "a", 0, 10.0, 30.0),
                 (2, "b", 0, 20.0, 50.0),     # overlaps a
                 (3, "c", 1, 12.0, 15.0),     # grandchild: not run's child
                 (4, "d", 0, 90.0, 120.0)]    # runs past its parent's end
        self.assertEqual(metrics.self_times(spans),
                         {0: 50.0, 1: 17.0, 2: 30.0, 3: 3.0, 4: 30.0})

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([]), 0)


class QueryOracle(unittest.TestCase):
    """The query results go through the program's `scripts/check.py`."""
    SQL = "SELECT doc_id, n_chars FROM documents WHERE n_chars > 200 ORDER BY doc_id"

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.data = os.path.join(self.dir, "data")
        self.results = os.path.join(self.dir, "results")
        os.makedirs(self.data)
        os.makedirs(os.path.join(self.results, "qx"))
        tables.generate(7, self.data, 60)
        with open(os.path.join(self.results, "oracle_sql.json"), "w") as f:
            json.dump({"qx": self.SQL, "qy": self.SQL}, f)
        with open(os.path.join(self.results, "names.json"), "w") as f:
            json.dump(["qx", "qy"], f)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write_result(self, sql):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.data}/documents.parquet'")
        con.execute(f"COPY ({sql}) TO '{self.results}/qx/part-0.parquet' (FORMAT PARQUET)")

    def check(self):
        # qy is registered but not narrowed to, so it needs no result
        return run.oracle_check(ROOT, self.data, self.results, ["qx"])

    def test_matching_result_passes(self):
        self.write_result(self.SQL)
        self.assertEqual(self.check(), [])

    def test_tampered_value_is_rejected(self):
        self.write_result("SELECT doc_id, CASE WHEN row_number() OVER (ORDER BY doc_id) = 2 "
                          "THEN n_chars + 1 ELSE n_chars END AS n_chars "
                          "FROM documents WHERE n_chars > 200 ORDER BY doc_id")
        [problem] = self.check()
        self.assertIn("rows differ", problem)

    def test_missing_row_wrong_type_and_missing_result_are_rejected(self):
        self.write_result(self.SQL.replace("ORDER BY", "AND doc_id > 0 ORDER BY"))
        self.assertIn("row count", self.check()[0])
        self.write_result(self.SQL.replace("n_chars FROM", "CAST(n_chars AS INTEGER) AS n_chars FROM"))
        self.assertIn("TYPES differ", self.check()[0])
        shutil.rmtree(os.path.join(self.results, "qx"))
        self.assertIn("no result", self.check()[0])


class WarehouseChecker(unittest.TestCase):
    def test_tampered_table_is_rejected(self):
        classpath = run.build(ROOT)
        work_root = os.path.join(ROOT, ".bench_build", "work")
        os.makedirs(work_root, exist_ok=True)
        work = tempfile.mkdtemp(prefix="selftest-", dir=work_root)
        try:
            # exits non-zero (SystemExit here) unless the clean warehouse
            # passes and the tampered one is rejected
            run.run_jvm(classpath, "perfbench.SelfTest", [work], work, time.monotonic() + 300)
        finally:
            shutil.rmtree(work, ignore_errors=True)


class Contract(unittest.TestCase):
    def test_benchmark_json_names_what_run_py_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         list(metrics.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
