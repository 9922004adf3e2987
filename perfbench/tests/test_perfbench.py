"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench/tests"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import metrics  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        with self.assertRaises(metrics.ShortSample):
            metrics.percentile(list(range(19)), 0.5)
        self.assertEqual(metrics.percentile(list(range(1, 21)), 0.5), (10, 20))
        with self.assertRaises(metrics.ShortSample):
            metrics.percentile(list(range(99)), 0.9)
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), (90, 100))

    def test_short_percentile_is_printed_without_a_value(self):
        self.assertEqual(metrics.percentile_line("x_p90_ms", [1.0] * 50, 0.9),
                         ("x_p90_ms", None, "ms", 50))


class MetricNames(unittest.TestCase):
    def test_pattern(self):
        for good in ("setup_s", "lake.storage.exists_ms.p50", "s02_ivf_topk.jobs"):
            metrics.check_names({good: metrics.metric(1, "ms")})
        for bad in ("bad name", "x/y", ".lead", "a" * 65):
            with self.assertRaises(ValueError):
                metrics.check_names({bad: metrics.metric(1, "ms")})

    def test_benchmark_json_names_every_reported_metric(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        e2e = {m["name"] for m in spec["end_to_end"]}
        layer = {m["name"] for m in spec["per_layer"]}
        res = {"scalars": {"session_s": 1, "bulk_docs": 4,
                           "serve_ops": 3, "serve_s": 1, "peak_rss_mb": 9},
               "samples": {"setup_lake_s": [1], "bulk_s": [2], "live_mb": [5],
                           "status_ms": [1],
                           "list_ms": [1], "ingest_ms": [1]}}
        out, _ = metrics.end_to_end("lake_serve", res)
        self.assertEqual(set(out), e2e)
        res = {"scalars": {"session_s": 1, "warmup_s": 2, "peak_rss_mb": 9},
               "samples": {"live_mb": [5], "pass_s": [6.0, 5.0],
                           "query_ms.a": [1000.0, 1500.0],
                           "query_ms.b": [4500.0, 3000.0]},
               "ledger_queries": ["a", "b"]}
        out, _ = metrics.end_to_end("ledger", res)
        self.assertEqual(set(out), e2e)
        # each query at its best time: 1.0 s + 3.0 s
        self.assertEqual(out["batch_s"]["value"], 4.0)
        self.assertEqual(out["ops_per_s"]["value"], 0.5)
        res = {"scalars": {"cpus": 4, "serve_start_us": 0,
                           "serve_end_us": 1, "lake.manifest_files": 1,
                           "lake.data_files": 1, "lake.bytes_per_user_byte": 1},
               "samples": {"exists_before_ms": [2], "exists_after_ms": [3]}}
        span = {"id": 1, "parent": 0, "trace": 1, "name": "lake.storage.exists",
                "start_us": 0, "end_us": 5}
        for wl in ("lake_serve", "ledger"):
            out, counts, _ = metrics.per_layer(wl, res, [span], spec_queries(spec))
            self.assertEqual(set(out), layer)
            self.assertLessEqual(set(counts), layer)


def spec_queries(spec):
    return sorted({m["name"].rsplit(".", 1)[0] for m in spec["per_layer"]
                   if m["name"].endswith(".build_ms")
                   and m["name"] != "ledger.build_ms"})


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "start_us": 10, "end_us": 40},
            {"id": 3, "parent": 1, "start_us": 30, "end_us": 60},
            {"id": 4, "parent": 1, "start_us": 90, "end_us": 120},
        ]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 50 - 10)


class LedgerFixtures(unittest.TestCase):
    def test_half_of_sf01_by_id(self):
        docs = pq.read_table(BENCH / "data" / "documents.parquet")
        vecs = pq.read_table(BENCH / "data" / "embeddings.parquet")
        self.assertEqual(docs.column("doc_id").to_pylist(), list(range(2500)))
        self.assertEqual(vecs.column("vec_id").to_pylist(), list(range(1000)))


class OracleCheck(unittest.TestCase):
    """run.py's oracle check runs the repository's tools/check_oracle.py on
    a tiny fixture: one table, one query, its Spark rows as parquet."""

    def check(self, rows):
        with tempfile.TemporaryDirectory() as d:
            d = Path(d)
            (d / "fx").mkdir()
            (d / "out" / "q1").mkdir(parents=True)
            pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}),
                           d / "fx" / "t.parquet")
            (d / "out" / "oracle_sql.json").write_text(
                json.dumps({"q1": "SELECT k, v FROM t ORDER BY k"}))
            pq.write_table(rows, d / "out" / "q1" / "part-0.parquet")
            return run.oracle_check(d / "fx", d / "out")

    def test_matching_rows_pass(self):
        self.assertEqual(self.check(pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})),
                         {"q1": None})

    def test_one_altered_row_fails(self):
        why = self.check(pa.table({"k": [1, 2, 3], "v": [0.5, 1.5000001, 2.5]}))["q1"]
        self.assertIn("VALUES", why)

    def test_missing_row_fails(self):
        self.assertIn("ROWS", self.check(pa.table({"k": [1, 2], "v": [0.5, 1.5]}))["q1"])


if __name__ == "__main__":
    unittest.main()
