"""Correctness oracles, all in DuckDB and all outside the timed region.

- `retail_marts`: the pipeline's two marts recomputed from the same
  landing and dimensions, with the paper's semantics (inner joins,
  'YYYY-MM' month keys, exact decimal totals, and a rank without a
  tie-break, so every rank-1 sales person earns the 1% incentive).
- `check_marts`: the pipeline's Parquet output against that oracle,
  including the hive-partitioned copy of the sales mart.
- `check_queries`: each declared query's result against its oracle
  SQL, compared the way the repository's own gate compares them
  (columns sorted by name, equal dtypes, equal values row by row).
  It mirrors `tools/compare.py` rather than importing it, so a change
  to the repository's tooling cannot change what the benchmark checks.
"""
import glob
import hashlib
import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb

MANDATORY = {"customer_id": "INTEGER", "store_id": "INTEGER", "product_name": "VARCHAR",
             "sales_date": "DATE", "sales_person_id": "INTEGER",
             "price": "DECIMAL(10,2)", "quantity": "INTEGER",
             "total_cost": "DECIMAL(10,2)"}

CUSTOMER_COLS = ["customer_id", "full_name", "address", "phone_number",
                 "sales_date_month", "total_sales"]
SALES_COLS = ["store_id", "sales_person_id", "full_name", "sales_month",
              "total_sales", "incentive"]


def incentive(total, rank):
    """The pipeline's incentive: 1% of a rank-1 total as a double,
    rounded half-up to cents from the double's shortest decimal form
    (how Spark's `round` on a double behaves), else zero."""
    if rank != 1:
        return Decimal("0.00")
    return Decimal(repr(float(total) * 0.01)).quantize(Decimal("0.01"), ROUND_HALF_UP)


def retail_marts(landing_dir, dims_dir, good_files):
    con = duckdb.connect()
    paths = [os.path.join(landing_dir, f) for f in sorted(good_files)]
    casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in MANDATORY.items())
    con.execute(f"CREATE TABLE fact AS SELECT {casts} FROM read_csv({paths!r}, "
                "header = true, all_varchar = true, union_by_name = true)")
    for t in ("customer", "store", "sales_team"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(dims_dir, t + '.parquet')}')")
    con.execute("""
        CREATE TABLE enriched AS
        SELECT f.*, c.first_name, c.last_name, c.address, c.phone_number,
               st.first_name AS sp_first, st.last_name AS sp_last
        FROM fact f
        JOIN customer c ON f.customer_id = c.customer_id
        JOIN store s ON s.id = f.store_id
        JOIN sales_team st ON st.id = f.sales_person_id""")
    customer = con.execute("""
        SELECT customer_id, first_name || ' ' || last_name, address, phone_number,
               strftime(sales_date, '%Y-%m'), CAST(SUM(total_cost) AS DECIMAL(18,2))
        FROM enriched GROUP BY ALL ORDER BY ALL""").fetchall()
    sales = con.execute("""
        SELECT store_id, sales_person_id, full_name, sales_month, total,
               rank() OVER (PARTITION BY store_id, sales_month ORDER BY total DESC)
        FROM (SELECT store_id, sales_person_id, sp_first || ' ' || sp_last AS full_name,
                     strftime(sales_date, '%Y-%m') AS sales_month,
                     CAST(SUM(total_cost) AS DECIMAL(18,2)) AS total
              FROM enriched GROUP BY ALL)""").fetchall()
    audit = con.execute("SELECT (SELECT count(*) FROM fact), "
                        "(SELECT count(*) FROM enriched)").fetchone()
    con.close()
    sales = sorted(r[:5] + (incentive(r[4], r[5]),) for r in sales)
    return customer, sales, audit


def rows_hash(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(str(v) for v in r)).encode())
    return h.hexdigest()[:16]


def _read(con, path, cols, hive=False):
    src = f"read_parquet('{path}/**/*.parquet', hive_partitioning = {str(hive).lower()})"
    sel = ", ".join(f"CAST({c} AS INTEGER)" if hive and c == "store_id" else c for c in cols)
    return sorted(con.execute(f"SELECT {sel} FROM {src}").fetchall())


def check_marts(out_dir, landing_dir, dims_dir, good_files):
    """Returns (problems, detail)."""
    customer, sales, audit = retail_marts(landing_dir, dims_dir, good_files)
    con = duckdb.connect()
    got_c = _read(con, f"{out_dir}/customers_data_mart", CUSTOMER_COLS)
    got_s = _read(con, f"{out_dir}/sales_team_data_mart", SALES_COLS)
    got_p = _read(con, f"{out_dir}/sales_team_data_mart_partitioned", SALES_COLS, hive=True)
    con.close()
    problems = []
    if got_c != customer:
        problems.append(f"customer mart differs from the oracle ({len(got_c)} vs {len(customer)} rows)")
    if got_s != sales:
        problems.append(f"sales mart differs from the oracle ({len(got_s)} vs {len(sales)} rows)")
    if got_p != sales:
        problems.append("partitioned sales mart differs from the oracle")
    detail = {"customer_mart_hash": rows_hash(customer), "sales_mart_hash": rows_hash(sales),
              "customer_rows": len(customer), "sales_rows": len(sales),
              "oracle_rows_in": audit[0], "oracle_rows_out": audit[1]}
    return problems, detail


STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def check_queries(star_dir, results_dir, oracle_sql):
    """Returns a list of problems, one per query that does not match."""
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    problems = []
    for name in sorted(oracle_sql):
        files = glob.glob(f"{results_dir}/{name}/*.parquet")
        if not files:
            problems.append(f"{name}: no result")
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").fetchdf()
        want = con.execute(oracle_sql[name]).fetchdf()
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            problems.append(f"{name}: columns {list(got.columns)} vs {list(want.columns)}")
        elif len(got) != len(want):
            problems.append(f"{name}: {len(got)} rows vs {len(want)}")
        elif [str(t) for t in got.dtypes] != [str(t) for t in want.dtypes]:
            problems.append(f"{name}: dtypes differ")
        elif not all(_eq(a, b) for c in got.columns
                     for a, b in zip(got[c].tolist(), want[c].tolist())):
            problems.append(f"{name}: values differ")
    con.close()
    return problems


def _eq(x, y):
    if isinstance(x, float) and isinstance(y, float):
        return x == y or (x != x and y != y)
    return x == y
