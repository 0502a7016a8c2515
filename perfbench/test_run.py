"""Tests of the benchmark's own logic: the tail-percentile rule, failure
counting (a wrong output must count as failed), and the metric names
against BENCHMARK.json. No JVM and no Spark.

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest
import zlib

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


class TailPercentile(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.percentile(list(range(99)), 0.9))
        self.assertEqual(run.percentile(list(range(100)), 0.9), 89)
        self.assertEqual(run.percentile(list(range(200)), 0.9), 179)

    def test_median_and_empty(self):
        self.assertEqual(run.percentile([5, 1, 3], 0.5), 3)
        self.assertIsNone(run.percentile([], 0.5))

    def test_summary_omits_p90_below_one_hundred_ops(self):
        ops = [{"kind": "read", "ms": float(i), "plain_bytes": 0, "result": None}
               for i in range(60)]
        s = run.summary({"ops": ops, "finish": {}}, failed=0)
        self.assertIsNone(s["read_p90_ms"])
        self.assertEqual(s["read_ops"], 60)


def op(name, kind, result, error=None):
    return {"name": name, "kind": kind, "result": result, "error": error,
            "ms": 1.0, "plain_bytes": 0, "traced": False}


class FailedCounting(unittest.TestCase):
    def setUp(self):
        scratch = os.path.join(run.ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=scratch)
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def test_errors_count_as_failed(self):
        ops = [op("a", "read", 1), op("b", "read", None, error="boom")]
        self.assertEqual(run.count_failed(ops, lambda o: False), 1)

    def test_corpus_checksum_mismatch_counts(self):
        lines = [b"alpha", "béta".encode(), b"gamma"]
        os.makedirs(os.path.join(self.dir, "plain"))
        with open(os.path.join(self.dir, "plain", "part-00000.txt"), "wb") as f:
            f.write(b"\n".join(lines) + b"\n")
        exp = [3, 5 + 4 + 5, sum(zlib.crc32(l) for l in lines)]

        def read(name, sums, stored):
            return op(name, "read", {"sums": sums, "write_ms": 2.0, "stored_bytes": stored})
        ops = [read("read_bro", exp, 12), read("read_brf", [exp[0], exp[1], exp[2] + 1], 12),
               read("read_bro", exp, 0), read("read_brf", exp, 12),
               op("read_brf", "read", {"sums": exp})]
        record = {"ops": ops, "finish": {"plain_dir": os.path.join(self.dir, "plain"),
                                         "plain_bytes": 20}}
        failed = run.count_failed(ops, run.check_bro_corpus(record))
        self.assertEqual(failed, 2)
        s = run.summary(record, failed)
        self.assertEqual(s["failed_ratio"], 2 / 5)
        self.assertEqual((s["write_ops"], s["bro_write_to_read"], s["encoder_slow"]),
                         (4, 2.0, False))

    def _tables(self, duckdb):
        con = duckdb.connect()
        con.execute("COPY (SELECT range AS r_regionkey, 'r' || range AS r_name "
                    f"FROM range(5)) TO '{self.dir}/region.parquet' (FORMAT parquet)")
        con.execute("COPY (SELECT range AS o_orderkey, range % 7 AS o_custkey, "
                    "CASE WHEN range % 3 = 0 THEN 'F' ELSE 'O' END AS o_orderstatus, "
                    "'1-URGENT' AS o_orderpriority, range * 1.5 AS o_totalprice "
                    f"FROM range(40)) TO '{self.dir}/orders.parquet' (FORMAT parquet)")
        return con

    def test_wrong_registry_dump_counts(self):
        # the dumps are the ones the JVM makes on the timed tables (sf0.1)
        # after the clock stops; they reach the check through "finish"
        import duckdb
        con = self._tables(duckdb)
        check = os.path.join(self.dir, "check")
        region = f"read_parquet('{self.dir}/region.parquet')"
        for name, sql in (("good", f"SELECT r_regionkey FROM {region}"),
                          ("bad", f"SELECT r_regionkey + 1 AS r_regionkey FROM {region}")):
            os.makedirs(os.path.join(check, name))
            con.execute(f"COPY ({sql}) TO '{check}/{name}/part-0.parquet' (FORMAT parquet)")
        dumps = {"check_dir": check, "tables_dir": self.dir,
                 "oracle": {"good": "SELECT r_regionkey FROM region",
                            "bad": "SELECT r_regionkey FROM region"}}
        record = {"finish": dumps, "oracle_cache": os.path.join(self.dir, "cache")}
        ops = [op("good", "read", None), op("bad", "read", None), op("bad", "read", None)]
        # twice: the second pass reads DuckDB's answers from the cache
        for _ in range(2):
            self.assertEqual(run.count_failed(ops, run.check_registry(record)), 2)

    def test_lakehouse_aggregate_differing_from_model_counts(self):
        import duckdb
        self._tables(duckdb).close()
        # initial rows: keys 0..39 with key % 4 <> 0, i.e. 30 rows
        init = [30, sum(k for k in range(40) if k % 4), sum(k % 7 for k in range(40) if k % 4)]
        after = [init[0] + 10, init[1] + sum(range(0, 40, 4)),
                 init[2] + sum(k % 7 for k in range(0, 40, 4))]
        warm = {"initial_where": "o_orderkey % 4 <> 0", "initial_version": 2, "ops": [
            {"name": "read_current", "result": {"version": 2, "agg": init}}]}
        ops = [op("insert", "write", {"params": {"lo": 0, "hi": 39}, "version": 3}),
               op("read_current", "read", {"version": 3, "agg": after}),
               op("read_version", "read", {"version": 2, "agg": init}),
               op("read_version", "read", {"version": 2, "agg": after}),
               op("read_range", "read", {"version": 3, "lo": 0, "hi": 3,
                                         "agg": [3, 0 + 1 + 2, 0 + 1 + 2]})]
        record = {"warmup": warm, "ops": ops, "tables_dir": self.dir}
        # keys 0..3 after the insert: 0, 1, 2, 3 -> the range read is wrong
        self.assertEqual(run.count_failed(ops, run.check_lakehouse(record)), 2)


class StoredBytes(unittest.TestCase):
    def test_bro_corpus_is_median_per_pass(self):
        ops = [dict(op(n, "read", {"sums": [], "write_ms": 1.0, "stored_bytes": b}), **{"pass": p})
               for p, n, b in ((0, "read_bro", 30), (0, "read_brf", 50), (1, "read_bro", 40),
                               (1, "read_brf", 60), (2, "read_bro", 20), (2, "read_brf", 40))]
        record = {"workload": "bro_corpus", "ops": ops, "finish": {"plain_bytes": 100}}
        self.assertEqual(run.stored_bytes_ratio(record), 0.4)

    def test_lakehouse_and_sql(self):
        self.assertEqual(run.stored_bytes_ratio(
            {"workload": "lakehouse_commits", "finish": {"stored_bytes_ratio": 2.5}}), 2.5)
        self.assertEqual(run.stored_bytes_ratio({"workload": "sql_analytics"}), 1.0)


class MetricNames(unittest.TestCase):
    RECORD = {
        "workload": "lakehouse_commits",
        "setup": {"session_s": 5.0, "reps_s": [3.0, 1.0, 1.2], "warmup_s": 4.0},
        "ops": [op("a", "read", None), op("b", "write", None), op("a", "read", None)],
        "finish": {"stored_bytes_ratio": 1.7},
        "live_heap_peak_mb": 300.0,
    }

    def test_end_to_end_matches_benchmark_json(self):
        metrics = run.end_to_end(self.RECORD)
        run.check_names(metrics, SPEC["end_to_end"])
        self.assertEqual(metrics["setup_s"][0], 5.0 + 1.2 + 4.0)
        self.assertEqual(metrics["wall_s"][0], 2.0 / 1e3)
        self.assertEqual(metrics["stored_bytes_ratio"][0], 1.7)

    def test_per_layer_names_are_checked_both_ways(self):
        names = [m["name"] for m in SPEC["per_layer"] if m["name"] != "trace.overhead_pct"]
        ops = [dict(op("a", "read", None), traced=t) for t in (True, False)]
        record = {"layers": {n: 1.0 for n in names}, "ops": ops}
        run.check_names(run.per_layer(record, SPEC["per_layer"]), SPEC["per_layer"])
        for layers in ({n: 1.0 for n in names[1:]},
                       dict({n: 1.0 for n in names}, extra=1.0)):
            with self.assertRaises(SystemExit):
                record = {"layers": layers, "ops": ops}
                run.check_names(run.per_layer(record, SPEC["per_layer"]), SPEC["per_layer"])

    def test_benchmark_json_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(run.WORKLOADS))
        self.assertEqual(set(run.CHECKS), set(run.WORKLOADS))
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in SPEC["end_to_end"])}])


if __name__ == "__main__":
    unittest.main()
