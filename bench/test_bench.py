"""The benchmark's own tests: span arithmetic, seeded inputs, and a negative
control for the oracle check. Run with `python3 bench/test_bench.py`."""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import inputs  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class SpanArithmetic(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_ms([(20, 30), (0, 10), (10, 12)]), 22)
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_ms([]), 0)
        self.assertEqual(metrics.union_ms([(5, 5), (7, 6)]), 0)

    def test_self_time_clips_children_to_the_span(self):
        # children cover [0,4) and [6,10) of the span [2,12): 2 + 4 = 6 ms
        self.assertEqual(metrics.self_ms(2, 12, [(0, 4), (6, 10)]), 4)
        self.assertEqual(metrics.self_ms(0, 10, []), 10)
        self.assertEqual(metrics.self_ms(0, 10, [(-5, 20)]), 0)
        self.assertEqual(metrics.self_ms(0, 10, [(20, 30)]), 10)

    def test_driver_gap_is_op_time_not_covered_by_jobs(self):
        def span(i, kind, start, end, parent=-1):
            return {"id": i, "parent": parent, "kind": kind, "name": "q",
                    "pass": 1, "start": start, "end": end}
        record = {
            "spans": [span(0, "op", 0, 100), span(1, "build", 0, 30, 0),
                      span(2, "write", 30, 100, 0),
                      span(3, "op", 200, 250), span(4, "build", 200, 210, 3)],
            # two overlapping jobs in the first op, one in the second, one
            # between ops (counted nowhere)
            "jobs": [{"id": 0, "start": 10, "end": 40},
                     {"id": 1, "start": 35, "end": 60},
                     {"id": 2, "start": 220, "end": 240},
                     {"id": 3, "start": 150, "end": 160}],
            "stages": [], "queries": [], "accum_errors": [120, 205],
        }
        row = metrics.per_pass(record, 1)
        self.assertEqual(row["driver.jobs"], 3)
        self.assertEqual(row["driver.gap_ms"], (100 - 50) + (50 - 20))
        self.assertEqual(row["sparkentry.build_ms"], 40)
        self.assertEqual(row["sparkentry.build_jobs"], 1)
        self.assertEqual(row["driver.accum_errors"], 1)


class SeededInputs(unittest.TestCase):
    def test_copy_keeps_schema_and_rows_and_varies_order(self):
        with tempfile.TemporaryDirectory() as tmp:
            inputs.permuted_copy(run.DATA, os.path.join(tmp, "a"), 1)
            inputs.permuted_copy(run.DATA, os.path.join(tmp, "b"), 2)
            name = "region.parquet"
            base = pq.read_table(os.path.join(run.DATA, name))
            a = pq.read_table(os.path.join(tmp, "a", name))
            b = pq.read_table(os.path.join(tmp, "b", name))
            self.assertTrue(pq.ParquetFile(os.path.join(tmp, "a", name)).schema
                            .equals(pq.ParquetFile(os.path.join(run.DATA, name)).schema))
            self.assertEqual(base.schema, a.schema)
            key = [("r_regionkey", "ascending")]
            self.assertTrue(a.sort_by(key).equals(base.sort_by(key)))
            orders = {tuple(t.column("r_regionkey").to_pylist()) for t in (base, a, b)}
            self.assertGreater(len(orders), 1)


class OracleNegativeControl(unittest.TestCase):
    SQL = "SELECT n_nationkey, n_name, CAST(n_nationkey AS DOUBLE) / 7 AS ratio FROM nation"

    def run_check(self, perturb):
        with tempfile.TemporaryDirectory() as tmp:
            check_dir = os.path.join(tmp, "check")
            os.makedirs(os.path.join(check_dir, "q"))
            with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
                f.write('{"q": "%s"}' % self.SQL)
            con = duckdb.connect()
            con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                        f"'{os.path.join(run.DATA, 'nation.parquet')}'")
            df = con.execute(self.SQL).df().sample(frac=1, random_state=3)
            perturb(df)
            df.to_parquet(os.path.join(check_dir, "q", "part-0.parquet"), index=False)
            orc = oracle.Oracle(run.DATA, "test", os.path.join(tmp, "cache"))
            record = {"errors": [], "attempted": 4}
            return run.check(record, ["q"], check_dir, orc)

    def test_row_order_and_float_noise_pass(self):
        def noise(df):
            df["ratio"] = df["ratio"] * (1 + 1e-12)
        failures, _ = self.run_check(noise)
        self.assertEqual(failures, [])

    def test_perturbed_output_fails(self):
        def bump(df):
            df.iloc[0, df.columns.get_loc("ratio")] += 1e-6
        failures, _ = self.run_check(bump)
        self.assertEqual(len(failures), 1)
        line = run.result_line({"attempted": 4}, failures, {})
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"] / line["attempted"], 0.25)

    def test_changed_string_and_lost_row_fail(self):
        def rename(df):
            df.iloc[0, df.columns.get_loc("n_name")] += "x"
        self.assertEqual(len(self.run_check(rename)[0]), 1)

        def drop(df):
            df.drop(df.index[0], inplace=True)
        self.assertIn("rows", self.run_check(drop)[0][0][1])


class CsvSinkCheck(unittest.TestCase):
    SQL = "SELECT n_name || ' ' AS name, n_nationkey FROM nation"

    def check(self, edit):
        with tempfile.TemporaryDirectory() as tmp:
            orc = oracle.Oracle(run.DATA, "test", os.path.join(tmp, "cache"))
            want = orc.answer(self.SQL).copy()
            edit(want)
            want.to_csv(os.path.join(tmp, "part-0.csv"), index=False)
            return orc.check_csv(self.SQL, tmp)

    def test_lost_surrounding_whitespace_is_the_known_defect(self):
        def strip(df):
            df["name"] = df["name"].str.strip()
        diff, known = self.check(strip)
        self.assertIsNone(diff)
        self.assertIn("whitespace", known)

    def test_exact_file_passes_and_changed_field_fails(self):
        self.assertEqual(self.check(lambda df: None), (None, None))

        def rename(df):
            df.loc[0, "name"] = "x"
        diff, known = self.check(rename)
        self.assertIsNotNone(diff)
        self.assertIsNone(known)


if __name__ == "__main__":
    unittest.main()
