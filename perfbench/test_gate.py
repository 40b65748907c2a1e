#!/usr/bin/env python3
"""The benchmark's own tests: its correctness gates must catch a wrong answer.

    python3 perfbench/test_gate.py            # from the repository root

The DuckDB comparator is tested on small hand-made tables. The search
gates are tested end to end: each workload runs with `--inject 1`, which
hands the gate a copy of every sampled answer with the top score off by
one ulp (or the total off by one), and the run must report failures.
"""
import json
import os
import shutil
import tempfile
import unittest

import duckdb

import ops_oracle
import run


class OpsOracleTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(dir=os.path.join(run.ROOT, ".bench_work"))
        con = duckdb.connect()
        for t, sql in [("documents", "SELECT range AS doc_id, 'w' || range AS text, range * 0.5 AS x FROM range(5)"),
                       ("embeddings", "SELECT 1 AS vec_id"), ("events", "SELECT 1 AS event_id")]:
            os.makedirs(f"{self.tmp}/tables/{t}.parquet")
            con.execute(f"COPY ({sql}) TO '{self.tmp}/tables/{t}.parquet/p.parquet' (FORMAT parquet)")
        self.sql = "SELECT doc_id, text, x FROM documents"
        os.makedirs(f"{self.tmp}/out/q")
        with open(f"{self.tmp}/out/oracle_sql.json", "w") as fh:
            json.dump({"q": self.sql}, fh)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def answer(self, sql):
        duckdb.connect().execute(
            f"COPY ({sql.replace('documents', repr(self.tmp + '/tables/documents.parquet/p.parquet'))}) "
            f"TO '{self.tmp}/out/q/p.parquet' (FORMAT parquet)")
        return ops_oracle.check(f"{self.tmp}/tables", f"{self.tmp}/out")

    def test_equal_answer_passes(self):
        self.assertEqual(self.answer(self.sql + " ORDER BY doc_id DESC"), (1, []))

    def test_wrong_value_fails(self):
        _, bad = self.answer("SELECT doc_id, CASE WHEN doc_id = 3 THEN 'x' ELSE text END AS text, x FROM documents")
        self.assertEqual(len(bad), 1)

    def test_float_off_by_an_ulp_fails(self):
        _, bad = self.answer("SELECT doc_id, text, CASE WHEN doc_id = 1 THEN nextafter(x, 9.0) ELSE x END AS x "
                             "FROM documents")
        self.assertEqual(len(bad), 1)

    def test_missing_row_fails(self):
        _, bad = self.answer(self.sql + " WHERE doc_id < 4")
        self.assertEqual(len(bad), 1)


class SearchGateTest(unittest.TestCase):
    """Slow: one short run of each workload with a wrong answer injected."""

    def inject(self, workload):
        cp = run.build()
        work = tempfile.mkdtemp(dir=os.path.join(run.ROOT, ".bench_work"))
        try:
            return run.run_jvm(cp, work, ["--workload", workload, "--seed", "5", "--seconds", "2",
                                          "--trace", "0", "--inject", "1"])
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_search_hot_gate_catches_injected_answer(self):
        res = self.inject("search_hot")
        self.assertGreater(res["failed"], 0)
        self.assertTrue(all(e.startswith("gate ") for e in res["errors"]), res["errors"])

    def test_ingest_fresh_gate_catches_injected_answer(self):
        res = self.inject("ingest_fresh")
        self.assertGreater(res["failed"], 0)
        self.assertTrue(all(e.startswith("gate ") for e in res["errors"]), res["errors"])


if __name__ == "__main__":
    os.makedirs(os.path.join(run.ROOT, ".bench_work"), exist_ok=True)
    unittest.main()
