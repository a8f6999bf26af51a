#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run each oracle SQL
in DuckDB over the sf parquet tables, load the Verify parquet output,
sort columns by name, and hash-compare values row by row.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>
"""
import argparse, sys, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(sf_dir, out_dir):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if not oracle:
        print(f"FAIL: {out_dir}/oracle_sql.json holds no oracle entries")
        return 1
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            n_fail += 1
            continue
        sdf = con.execute(
            f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").fetchdf()
        # driver semantics: sort columns by name, then hash values
        odf = odf[sorted(odf.columns)]
        sdf = sdf[sorted(sdf.columns)]
        if list(odf.columns) != list(sdf.columns):
            print(f"FAIL {name}: columns {list(sdf.columns)} vs oracle {list(odf.columns)}")
            n_fail += 1
            continue
        if len(odf) != len(sdf):
            print(f"FAIL {name}: rows {len(sdf)} vs oracle {len(odf)}")
            n_fail += 1
            continue
        # driver's hash is dtype-sensitive (e.g. DuckDB HUGEINT ->
        # float64 vs Spark BIGINT -> int64 mismatches even when every
        # value compares equal) -- mirror that strictness here so the
        # local gate can never certify what the driver would fail.
        sdt = [str(t) for t in sdf.dtypes]
        odt = [str(t) for t in odf.dtypes]
        if sdt != odt:
            bad = [(c, s, o) for c, s, o in zip(odf.columns, sdt, odt)
                   if s != o]
            print(f"FAIL {name}: dtype mismatch {bad} (spark vs oracle)")
            n_fail += 1
            continue
        ok = True
        def eq(x, y):
            if x is y:
                return True
            if isinstance(x, float) and isinstance(y, float):
                return x == y or (x != x and y != y)  # NaN == NaN
            return x == y
        for c in odf.columns:
            a, b = sdf[c].tolist(), odf[c].tolist()
            if not all(eq(x, y) for x, y in zip(a, b)):
                bad = next(i for i in range(len(a)) if not eq(a[i], b[i]))
                print(f"FAIL {name}: col {c} differs at row {bad}: "
                      f"spark={a[bad]!r} oracle={b[bad]!r}")
                ok = False
                break
        if ok:
            print(f"PASS {name} ({len(sdf)} rows)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    ap = argparse.ArgumentParser(
        description="Hash-compare Verify output against the DuckDB oracle.")
    ap.add_argument("sf_dir", help="source tables (e.g. /root/testdata/sf0.01)")
    ap.add_argument("out_dir", help="Verify output dir holding oracle_sql.json")
    args = ap.parse_args()
    sys.exit(main(args.sf_dir, args.out_dir))
