"""The mart oracle on a small seed: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import tempfile
import unittest
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen  # noqa: E402
import oracle  # noqa: E402

SF = 0.001


class OracleTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.runs = {}
        for seed in (1, 2):
            root = os.path.join(cls.tmp.name, str(seed))
            m = gen.landing(root, SF, seed)
            cls.runs[seed] = (root, m, oracle.retail_marts(
                os.path.join(root, "landing"), os.path.join(root, "dims"), m["good_files"]))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_marts_do_not_depend_on_the_seed(self):
        (_, _, (c1, s1, _)), (_, _, (c2, s2, _)) = self.runs[1], self.runs[2]
        self.assertEqual(oracle.rows_hash(c1), oracle.rows_hash(c2))
        self.assertEqual(oracle.rows_hash(s1), oracle.rows_hash(s2))
        self.assertTrue(c1 and s1)

    def test_audit_keeps_every_fact_row(self):
        _, m, (_, _, audit) = self.runs[1]
        self.assertEqual(audit, (m["fact_rows"], m["fact_rows"]))

    def test_every_rank_one_earns_the_incentive(self):
        _, _, (_, sales, _) = self.runs[1]
        groups = {}
        for store, person, _, month, total, incentive in sales:
            groups.setdefault((store, month), []).append((total, incentive))
        for rows in groups.values():
            top = max(t for t, _ in rows)
            for total, inc in rows:
                self.assertEqual(inc, oracle.incentive(total, 1) if total == top else Decimal("0.00"))

    def test_incentive_ties_and_rounding(self):
        self.assertEqual(oracle.incentive(Decimal("1234.50"), 1), Decimal("12.35"))
        self.assertEqual(oracle.incentive(Decimal("100.00"), 1), Decimal("1.00"))
        self.assertEqual(oracle.incentive(Decimal("100.00"), 2), Decimal("0.00"))

    def test_check_marts_accepts_the_oracle_and_rejects_a_change(self):
        root, m, (customer, sales, _) = self.runs[1]
        out = os.path.join(root, "out")
        con = duckdb.connect()

        def write(rows, cols, types, path):
            os.makedirs(path)
            con.execute(f"CREATE OR REPLACE TABLE t ({', '.join(f'{c} {t}' for c, t in zip(cols, types))})")
            con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(cols))})", rows)
            con.execute(f"COPY t TO '{path}/part-0.parquet' (FORMAT parquet)")

        ctypes = ["INTEGER", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "DECIMAL(18,2)"]
        stypes = ["INTEGER", "INTEGER", "VARCHAR", "VARCHAR", "DECIMAL(18,2)", "DECIMAL(18,2)"]
        write(customer, oracle.CUSTOMER_COLS, ctypes, f"{out}/customers_data_mart")
        write(sales, oracle.SALES_COLS, stypes, f"{out}/sales_team_data_mart")
        part = f"{out}/sales_team_data_mart_partitioned"
        os.makedirs(part)
        con.execute(f"COPY (SELECT * FROM t) TO '{part}' "
                    "(FORMAT parquet, PARTITION_BY (sales_month, store_id))")
        problems, detail = oracle.check_marts(
            out, os.path.join(root, "landing"), os.path.join(root, "dims"), m["good_files"])
        self.assertEqual(problems, [])
        self.assertEqual(detail["sales_rows"], len(sales))

        wrong = [r[:5] + (Decimal("0.00"),) for r in sales]  # nobody earns the incentive
        con.execute("DELETE FROM t")
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * 6)})", wrong)
        con.execute(f"COPY t TO '{out}/sales_team_data_mart/part-0.parquet' (FORMAT parquet)")
        problems, _ = oracle.check_marts(
            out, os.path.join(root, "landing"), os.path.join(root, "dims"), m["good_files"])
        self.assertEqual(len(problems), 1)
        self.assertIn("sales mart", problems[0])


if __name__ == "__main__":
    unittest.main()
