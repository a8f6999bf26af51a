"""Seeded input generator for the benchmark.

Everything comes from DuckDB's built-in TPC-H generator (`dbgen`) at a
fixed scale factor, so nothing outside the checkout is read. The seed
decides only what the issue lets it decide, which keeps the amount of
work identical across seeds:

- the row order of every file (a seeded hash of the row's key);
- which landing file carries the two extra columns;
- the rows of the crafted file that lacks `store_id`.

Two kinds of input are produced:

- `landing(...)`: the retail fact (lineitem x orders x supplier
  projected onto the pipeline's 9-column CSV contract) split into one
  file per month (80 files: TPC-H order dates span 1992-01 to
  1998-08), plus the three dimension tables the pipeline joins
  (customer, store, sales_team) as Parquet;
- `star(...)`: the seven star-schema tables the declared queries read,
  in the same column layout as the repo's shared test data (orders and
  lineitem limited to 1995-1997), plus a seeded click-stream `events`
  table.

Both write into a fresh directory and return a manifest; the same
(scale, seed) always gives the same bytes.
"""
import json
import os
import random
import shutil

import duckdb
import pyarrow.parquet as pq

FACT_COLUMNS = ["customer_id", "store_id", "product_name", "sales_date",
                "sales_person_id", "price", "quantity", "total_cost"]
CRAFTED_FILE = "sales_crafted_no_store.csv"


def _connect(sf):
    con = duckdb.connect()
    # one thread: parallel writers and hash-ordered scans would make
    # the output bytes depend on scheduling
    con.execute("SET threads = 1")
    con.execute(f"CALL dbgen(sf = {sf})")
    return con


def _fact_sql(seed):
    return f"""
        SELECT o.o_custkey::INTEGER AS customer_id,
               s.s_nationkey::INTEGER AS store_id,
               'product_' || l.l_partkey AS product_name,
               o.o_orderdate AS sales_date,
               l.l_suppkey::INTEGER AS sales_person_id,
               CAST(l.l_extendedprice / l.l_quantity AS DECIMAL(10,2)) AS price,
               l.l_quantity::INTEGER AS quantity,
               CAST(l.l_extendedprice AS DECIMAL(10,2)) AS total_cost,
               hash(l.l_orderkey, l.l_linenumber, {seed}) AS rk
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey"""


def _copy_csv(con, select_sql, path):
    con.execute(f"COPY ({select_sql}) TO '{path}' (HEADER, DELIMITER ',')")


def _write_parquet(con, select_sql, path):
    # pyarrow with an explicit single row group: byte-stable, and the
    # same encoding (timestamp[us], not UTC-adjusted) as the shared
    # test data the declared queries were written against
    pq.write_table(con.execute(select_sql).fetch_arrow_table(), path,
                   row_group_size=1 << 30)


def _fresh(out_dir):
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)


def landing(out_dir, sf, seed):
    """Write the CSV landing, one file per month, under `out_dir/landing`
    and the dimensions under `out_dir/dims`."""
    rng = random.Random(seed)
    _fresh(out_dir)
    land = os.path.join(out_dir, "landing")
    dims = os.path.join(out_dir, "dims")
    os.makedirs(land)
    os.makedirs(dims)
    con = _connect(sf)
    con.execute(f"CREATE TABLE fact AS {_fact_sql(seed)}")
    key = "strftime(sales_date, '%Y_%m')"
    groups = [r[0] for r in con.execute(
        f"SELECT DISTINCT {key} FROM fact ORDER BY 1").fetchall()]
    extra_group = rng.choice(groups)
    cols = ", ".join(FACT_COLUMNS)
    files = []
    for g in groups:
        name = f"sales_{g}.csv"
        extra = ""
        if g == extra_group:
            extra = (", 'PROMO' || (rk % 97) AS promo_code,"
                     " CASE rk % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'store'"
                     " ELSE 'phone' END AS channel")
        _copy_csv(con, f"SELECT {cols}{extra} FROM fact WHERE {key} = '{g}'"
                  " ORDER BY rk", os.path.join(land, name))
        files.append(name)
    # the crafted file: real fact rows, but without the mandatory
    # store_id column, so the contract check must quarantine it
    n_bad = rng.randint(20, 60)
    offset = rng.randint(0, 1000)
    bad_cols = ", ".join(c for c in FACT_COLUMNS if c != "store_id")
    _copy_csv(con, f"SELECT {bad_cols} FROM (SELECT * FROM fact ORDER BY rk"
              f" LIMIT {n_bad} OFFSET {offset})", os.path.join(land, CRAFTED_FILE))

    _write_parquet(con, """
        SELECT c_custkey::INTEGER AS customer_id,
               split_part(c_name, '#', 1) AS first_name,
               '#' || split_part(c_name, '#', 2) AS last_name,
               c_address AS address,
               lpad((c_custkey * 7919 % 1000000)::VARCHAR, 6, '0') AS pincode,
               c_phone AS phone_number,
               DATE '2015-01-01' + (c_custkey % 2000)::INTEGER AS customer_joining_date
        FROM customer ORDER BY 1""", os.path.join(dims, "customer.parquet"))
    _write_parquet(con, """
        SELECT n_nationkey::INTEGER AS id, n_name AS address,
               lpad((n_nationkey * 104729 % 1000000)::VARCHAR, 6, '0') AS store_pincode,
               'Manager of ' || n_name AS store_manager_name,
               DATE '2010-01-01' + (n_nationkey * 37)::INTEGER AS store_opening_date,
               n_comment AS reviews
        FROM nation ORDER BY 1""", os.path.join(dims, "store.parquet"))
    _write_parquet(con, """
        SELECT s_suppkey::INTEGER AS id,
               split_part(s_name, '#', 1) AS first_name,
               '#' || split_part(s_name, '#', 2) AS last_name,
               1::INTEGER AS manager_id,
               CASE WHEN s_suppkey = 1 THEN 'Y' ELSE 'N' END AS is_manager,
               s_address AS address,
               lpad((s_suppkey * 7907 % 1000000)::VARCHAR, 6, '0') AS pincode,
               DATE '2012-01-01' + (s_suppkey % 1500)::INTEGER AS joining_date
        FROM supplier ORDER BY 1""", os.path.join(dims, "sales_team.parquet"))

    fact_rows = con.execute("SELECT count(*) FROM fact").fetchone()[0]
    con.close()
    manifest = {"sf": sf, "seed": seed, "good_files": files,
                "extra_file": f"sales_{extra_group}.csv",
                "crafted_file": CRAFTED_FILE, "crafted_rows": n_bad,
                "fact_rows": fact_rows}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


# The star tables keep three years of orders. The partitioned mart the
# queries read has one directory per (month, store), and 36 months keep
# that write (and the run) within the benchmark's time budget while
# still covering every date the queries filter on (1996, 1997-01-01).
STAR_WINDOW = "o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'"

STAR_TABLES = {
    "region": ("SELECT r_regionkey::INTEGER AS r_regionkey, r_name FROM region",
               "r_regionkey"),
    "nation": ("SELECT n_nationkey::INTEGER AS n_nationkey, n_name,"
               " n_regionkey::INTEGER AS n_regionkey FROM nation", "n_nationkey"),
    "customer": ("SELECT c_custkey, c_name, c_nationkey::INTEGER AS c_nationkey,"
                 " c_acctbal::DOUBLE AS c_acctbal, c_mktsegment FROM customer",
                 "c_custkey"),
    "supplier": ("SELECT s_suppkey, s_name, s_nationkey::INTEGER AS s_nationkey,"
                 " s_acctbal::DOUBLE AS s_acctbal FROM supplier", "s_suppkey"),
    "part": ("SELECT p_partkey, p_name, p_brand, p_type, p_size::INTEGER AS p_size,"
             " p_retailprice::DOUBLE AS p_retailprice FROM part", "p_partkey"),
    "orders": ("SELECT o_orderkey, o_custkey, o_orderstatus,"
               " o_totalprice::DOUBLE AS o_totalprice,"
               " o_orderdate::TIMESTAMP AS o_orderdate, o_orderpriority FROM orders"
               f" WHERE {STAR_WINDOW}", "o_orderkey"),
    "lineitem": ("SELECT l_orderkey, l_partkey, l_suppkey,"
                 " l_linenumber::INTEGER AS l_linenumber,"
                 " l_quantity::DOUBLE AS l_quantity,"
                 " l_extendedprice::DOUBLE AS l_extendedprice,"
                 " l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax,"
                 " l_returnflag, l_linestatus,"
                 " l_shipdate::TIMESTAMP AS l_shipdate FROM lineitem"
                 f" WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE {STAR_WINDOW})",
                 "l_orderkey, l_linenumber"),
}


# A click-stream table in the shared test data's `events` layout; the
# star workload's compaction query (qp4) partitions it by event_type.
EVENTS_SQL = """
    SELECT i AS event_id,
           TIMESTAMP '2024-01-01' + to_seconds(i * 37 + h % 30) AS ts,
           (h % 997)::BIGINT AS user_id,
           ['view', 'click', 'cart', 'purchase', 'search'][(h % 5)::INTEGER + 1] AS event_type,
           round((h % 100000) / 100.0, 2)::DOUBLE AS value,
           '{{"src":"s' || (h % 7) || '"}}' AS props
    FROM (SELECT i, hash(i, {seed}) AS h FROM range(1, {n} + 1) t(i))
    ORDER BY h"""


def star(out_dir, sf, seed):
    """Write the star-schema tables, plus `events`, as `<table>.parquet`
    under `out_dir`."""
    _fresh(out_dir)
    con = _connect(sf)
    rows = {}
    for name, (sql, key) in STAR_TABLES.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write_parquet(con, f"SELECT * FROM ({sql}) ORDER BY hash({key}, {seed})",
                       path)
        rows[name] = pq.ParquetFile(path).metadata.num_rows
    events = os.path.join(out_dir, "events.parquet")
    _write_parquet(con, EVENTS_SQL.format(seed=seed, n=int(1_000_000 * sf)), events)
    rows["events"] = pq.ParquetFile(events).metadata.num_rows
    con.close()
    manifest = {"sf": sf, "seed": seed, "rows": rows}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
