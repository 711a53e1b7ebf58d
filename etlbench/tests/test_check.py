"""Self-test of the benchmark's output checks.

    python3 -m unittest discover -s etlbench/tests

A correct run's output, written here from the reference expectation the way
the pipeline writes it, must pass; each mutation of it must be rejected.
"""
import json
import os
import shutil
import sys
import unittest
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402

LINES = 3000


def spark_like_output(cache, out):
    """The tables a correct run writes for the input cached in `cache`."""
    proc = pq.read_table(f"{cache}/expected_processed.parquet").drop(["_line"])
    n = proc.num_rows
    now = pa.array([1_700_000_000_000_000] * n, pa.timestamp("us", "UTC"))
    for name in ("processing_timestamp", "_ingestion_timestamp",
                 "_processing_timestamp"):
        proc = proc.append_column(name, now)
    proc = proc.append_column(
        "_batch_id", pa.array([str(uuid.uuid4()) for _ in range(n)]))
    proc = proc.append_column(
        "_pipeline_version", pa.array([reference.PIPELINE_VERSION] * n))
    proc = proc.select(reference.PROCESSED_COLUMNS)

    exp = pq.read_table(f"{cache}/expected_errors.parquet").to_pylist()
    raw = [e["raw_line"] if e["error_type"] == "parsing_error" else
           json.dumps({c: e[c] for c in reference.INPUT_COLUMNS},
                      separators=(",", ":")) for e in exp]
    err = pa.table({
        "raw_data": raw,
        "error_message": [e["error_message"] for e in exp],
        "error_type": [e["error_type"] for e in exp],
        "timestamp": pa.array([1_700_000_000_000_000] * len(exp),
                              pa.timestamp("us", "UTC")),
    })
    for name, table in (("processed", proc), ("errors", err)):
        os.makedirs(f"{out}/{name}")
        pq.write_table(table, f"{out}/{name}/part-00000.parquet")
    return proc, err


class EtlCheckTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.root = os.path.join(BENCH, ".work", f"selftest-{os.getpid()}")
        shutil.rmtree(cls.root, ignore_errors=True)
        cls.cache = os.path.join(cls.root, "input")
        cls.meta = gen.etl_input(cls.cache, 7, n=LINES)
        cls.expected = check.expected_etl(cls.cache)
        cls.con = check.connect()

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.root, ignore_errors=True)

    def output(self, name):
        out = os.path.join(self.root, name)
        return (out, *spark_like_output(self.cache, out))

    def problems(self, out):
        return check.check_etl(self.con, out, self.expected, LINES)[0]

    def rewrite(self, out, name, table):
        pq.write_table(table, f"{out}/{name}/part-00000.parquet")

    def test_input_mixes_every_error_kind(self):
        errors = pq.read_table(f"{self.cache}/expected_errors.parquet")
        messages = errors.column("error_message").to_pylist()
        for needle in ("Expected 17 columns", "invalid literal for int()",
                       "could not convert string to float",
                       "outside valid range"):
            self.assertTrue(any(needle in m for m in messages), needle)

    def test_input_quotes_every_string_field(self):
        with open(f"{self.cache}/input.csv") as f:
            lines = f.read().splitlines()[1:]
        for line in lines:
            # 10 quoted string fields, 9 where an arity error cut the last.
            self.assertGreaterEqual(line.count('"'), 18, line)
        self.assertTrue(any(';part-time"' in line for line in lines))
        self.assertTrue(any('""' in line for line in lines))

    def test_correct_run_passes(self):
        out, _, _ = self.output("correct")
        self.assertEqual(self.problems(out), [])

    def test_flipped_customer_segment_fails(self):
        out, proc, _ = self.output("flipped")
        seg = proc.column("customer_segment").to_pylist()
        seg[0] = "premium" if seg[0] != "premium" else "low_value"
        i = proc.column_names.index("customer_segment")
        self.rewrite(out, "processed", proc.set_column(i, "customer_segment",
                                                       pa.array(seg)))
        self.assertTrue(self.problems(out))

    def test_dropped_error_row_fails(self):
        out, _, err = self.output("dropped")
        self.rewrite(out, "errors", err.slice(1))
        self.assertTrue(self.problems(out))

    def test_duplicated_processed_row_fails(self):
        out, proc, _ = self.output("duplicated")
        self.rewrite(out, "processed", pa.concat_tables([proc, proc.slice(0, 1)]))
        self.assertTrue(self.problems(out))

    def test_table_appended_twice_fails(self):
        out, _, _ = self.output("appended")
        for name in ("processed", "errors"):
            shutil.copy(f"{out}/{name}/part-00000.parquet",
                        f"{out}/{name}/part-00001.parquet")
        self.assertTrue(self.problems(out))

    def test_wrong_record_in_validation_error_fails(self):
        out, _, err = self.output("raw")
        raw = err.column("raw_data").to_pylist()
        i = err.column("error_type").to_pylist().index("data_validation")
        raw[i] = raw[i].replace('"age":', '"age":1')
        self.rewrite(out, "errors", err.set_column(0, "raw_data", pa.array(raw)))
        self.assertTrue(self.problems(out))

    def test_missing_batch_id_fails(self):
        out, proc, _ = self.output("batch_id")
        i = proc.column_names.index("_batch_id")
        ids = pc.if_else(pa.array([j == 0 for j in range(proc.num_rows)]),
                         pa.scalar(None, pa.string()), proc.column(i))
        self.rewrite(out, "processed", proc.set_column(i, "_batch_id", ids))
        self.assertTrue(self.problems(out))


class CatalogCheckTest(unittest.TestCase):

    def test_oracle_mismatch_fails(self):
        root = os.path.join(BENCH, ".work", f"selftest-cat-{os.getpid()}")
        shutil.rmtree(root, ignore_errors=True)
        try:
            gen.catalog_input(root, 3)
            oracle = os.path.join(root, "oracle")
            os.makedirs(f"{oracle}/q_ids")
            with open(f"{oracle}/oracle_sql.json", "w") as f:
                json.dump({"q_ids": "SELECT c_custkey AS id, c_acctbal AS b "
                                    "FROM customer ORDER BY id"}, f)
            cust = pq.read_table(f"{root}/customer.parquet")
            result = pa.table({"id": cust.column("c_custkey"),
                               "b": cust.column("c_acctbal")})
            part = f"{oracle}/q_ids/part-00000.parquet"
            pq.write_table(result, part)
            self.assertEqual(check.check_catalog(oracle, root), {"q_ids": None})
            b = result.column("b").to_pylist()
            b[5] += 0.01
            pq.write_table(result.set_column(1, "b", pa.array(b)), part)
            self.assertIsNotNone(check.check_catalog(oracle, root)["q_ids"])
        finally:
            shutil.rmtree(root, ignore_errors=True)


class DefinitionTest(unittest.TestCase):

    def test_benchmark_json_matches_run(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({w["name"] for w in spec["workloads"]},
                         set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
