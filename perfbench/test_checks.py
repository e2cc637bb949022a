"""Tests of the benchmark's generator and checker (no Spark needed).

    python3 perfbench/test_checks.py

A lake is built from the checker's own DuckDB recompute, so it is correct by
construction; each test then plants one fault and expects the checker to
reject it.
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SIZES = {"days": 3, "rows_per_day": {"sales": 200, "customer_events": 200, "inventory": 200},
         "ticks": 2, "tick_rows": 150, "late_pct": 20.0}
STAMPS = ["2026-03-01T00:00:00.000000+00:00", "2026-03-01T00:30:00.000000+00:00",
          "2026-03-01T01:00:00.000000+00:00"]


def write_lake(con, root, upto):
    """Silver over landings 0..upto, and one gold snapshot per landing."""
    os.makedirs(f"{root}/silver")
    for d in gen.DOMAINS:
        cols = ", ".join(list(check.BRONZE_TYPES[d]) + ["validation_errors", "is_valid"])
        con.execute(f"""COPY (SELECT {cols}, 'now' AS processed_at, year(timestamp) AS year,
                          month(timestamp) AS month, day(timestamp) AS day
                        FROM exp_{d} WHERE landing <= {upto})
                        TO '{root}/silver/{d}' (FORMAT PARQUET, PARTITION_BY (year, month, day))""")
    for table in check.GOLD:
        os.makedirs(f"{root}/gold/{table}")
        for k in range(upto + 1):
            check.gold_expected(con, table, k)
            con.execute(f"COPY (SELECT *, '{STAMPS[k]}' AS generated_at FROM gold_want) "
                        f"TO '{root}/gold/{table}/snap-{k}.parquet' (FORMAT PARQUET)")


def rewrite(con, path, sql):
    """Replace a parquet file by `sql` over its own rows (view `t`)."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE t AS SELECT * FROM read_parquet('{path}')")
    con.execute(f"COPY ({sql}) TO '{path}.new' (FORMAT PARQUET)")
    os.replace(path + ".new", path)


class CheckerTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")
        self.manifest = gen.generate(7, os.path.join(self.dir, "in"), SIZES)
        self.con = check.connect(self.dir)
        check.load_expected(self.con, os.path.join(self.dir, "in"), self.manifest)
        self.root = os.path.join(self.dir, "lake")
        write_lake(self.con, self.root, 2)

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir)

    def faults(self):
        return (check.check_silver(self.con, self.root, self.manifest, 2) +
                check.check_gold(self.con, self.root, [0, 1, 2]))

    def silver_file(self, domain):
        for d, _, files in sorted(os.walk(f"{self.root}/silver/{domain}")):
            for f in sorted(files):
                return os.path.join(d, f)

    def test_correct_lake_passes(self):
        self.assertEqual(self.faults(), [])

    def test_manifest_counts_every_defect(self):
        m = check.manifest_counts(self.manifest, 2)
        for d in gen.DOMAINS:
            self.assertGreater(m[d]["rows"], m[d]["distinct"], d)  # duplicates planted
            self.assertLess(m[d]["valid"], m[d]["distinct"], d)
        self.assertGreater(m["sales"]["rules"]["total_fixed"], 0)
        self.assertGreater(m["inventory"]["rules"]["NON_POSITIVE_QUANTITY"], 0)
        self.assertGreater(m["customer_events"]["rules"]["INVALID_EVENT_TYPE"], 0)

    def test_dropped_silver_row_fails(self):
        f = self.silver_file("sales")
        rewrite(self.con, f, "SELECT * FROM t LIMIT (SELECT count(*) - 1 FROM t)")
        self.assertTrue(any("silver/sales" in x for x in self.faults()))

    def test_duplicated_silver_row_fails(self):
        f = self.silver_file("customer_events")
        rewrite(self.con, f, "SELECT * FROM t UNION ALL (SELECT * FROM t LIMIT 1)")
        self.assertTrue(any("silver/customer_events" in x for x in self.faults()))

    def test_wrong_validity_flag_fails(self):
        f = self.silver_file("inventory")
        rewrite(self.con, f, "SELECT * REPLACE (true AS is_valid, '' AS validation_errors) FROM t")
        self.assertTrue(any("silver/inventory" in x for x in self.faults()))

    def test_gold_off_by_one_cent_fails(self):
        f = f"{self.root}/gold/daily_sales_summary/snap-1.parquet"
        rewrite(self.con, f, "SELECT * REPLACE (CASE WHEN date = (SELECT min(date) FROM t) "
                             "THEN total_revenue + 0.01 ELSE total_revenue END AS total_revenue) "
                             "FROM t")
        faults = self.faults()
        self.assertTrue(any("daily_sales_summary" in x for x in faults), faults)

    def test_stale_gold_snapshot_fails(self):
        # the newest snapshot republishes the previous one: late rows were missed
        src = f"{self.root}/gold/inventory_net_position/snap-1.parquet"
        dst = f"{self.root}/gold/inventory_net_position/snap-2.parquet"
        rewrite(self.con, dst, f"SELECT * REPLACE ('{STAMPS[2]}' AS generated_at) "
                               f"FROM read_parquet('{src}')")
        self.assertTrue(any("inventory_net_position" in x for x in self.faults()))

    def test_gold_type_change_fails(self):
        f = f"{self.root}/gold/device_usage_summary/snap-0.parquet"
        rewrite(self.con, f, "SELECT * REPLACE (CAST(event_count AS DOUBLE) AS event_count) FROM t")
        self.assertTrue(any("device_usage_summary" in x for x in self.faults()))


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma = gen.generate(3, a, SIZES)
            mb = gen.generate(3, b, SIZES)
            self.assertEqual(ma, mb)
            for f in ma["files"]:
                with open(os.path.join(a, f), "rb") as fa, open(os.path.join(b, f), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read())

    def test_manifest_rows_match_files(self):
        with tempfile.TemporaryDirectory() as a:
            m = gen.generate(5, a, SIZES)
            for f, e in m["files"].items():
                with open(os.path.join(a, f)) as fh:
                    self.assertEqual(sum(1 for _ in fh) - 1, e["rows"], f)


class SuiteCompareTest(unittest.TestCase):

    def test_equal_tables_pass_in_any_row_order(self):
        a = pa.table({"k": pa.array([1, 2], pa.int64()), "v": [0.5, 1.5]})
        b = pa.table({"v": [1.5, 0.5], "k": pa.array([2, 1], pa.int32())})
        self.assertEqual(check.compare_tables(a, b), [])

    def test_changed_cell_fails(self):
        a = pa.table({"k": [1, 2], "v": [0.5, 1.5]})
        b = pa.table({"k": [1, 2], "v": [0.5, 1.5000000001]})
        self.assertNotEqual(check.compare_tables(a, b), [])

    def test_decimal_against_int_fails(self):
        a = pa.table({"s": pa.array([3], pa.int64())})
        b = pa.table({"s": pa.array([3], pa.decimal128(38, 0))})
        self.assertNotEqual(check.compare_tables(a, b), [])


class BenchmarkFileTest(unittest.TestCase):

    def test_declared_metrics_are_the_ones_printed(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + \
            [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertEqual([w["name"] for w in b["workloads"]], ["ticks", "operator_suite"])
        self.assertTrue(all(re.fullmatch(r"[^\n]{1,200}", w["why"]) for w in b["workloads"]))


if __name__ == "__main__":
    unittest.main()
