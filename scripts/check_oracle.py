"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet dir,
compare row count, sorted column names, and the exact multiset of values
(floats compared bitwise — queries are expected to round explicitly).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    return repr(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort()
    return out


def main():
    import __spark_entry__ as entrymod
    from pdftabextract_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark(app_name="oracle-check", cores=cores, shuffle_partitions=8)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in sorted(qs.items()):
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append(name)
            print(f"{name}: SPARK ERROR {type(ex).__name__}: {str(ex)[:300]}")
            continue
        if name not in oracles:
            print(f"{name}: rows-only (no oracle) -> {len(s_rows)} rows, cols={s_cols}")
            continue
        try:
            res = con.sql(oracles[name])
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"{name}: DUCKDB ERROR {type(ex).__name__}: {str(ex)[:300]}")
            continue
        ok_cols = sorted(s_cols) == sorted(d_cols)
        ok_count = len(s_rows) == len(d_rows)
        ns, nd = norm_rows(s_cols, s_rows), norm_rows(d_cols, d_rows)
        ok_vals = ns == nd
        status = "OK" if (ok_cols and ok_count and ok_vals) else "MISMATCH"
        if status != "OK":
            failures.append(name)
        print(f"{name}: {status} rows={len(s_rows)}/{len(d_rows)} cols_ok={ok_cols} vals_ok={ok_vals}")
        if not ok_cols:
            print(f"   spark cols: {sorted(s_cols)}\n   duck  cols: {sorted(d_cols)}")
        if ok_cols and ok_count and not ok_vals:
            diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
            for a, b in diff:
                print(f"   spark: {a}\n   duck : {b}")
        elif not ok_count:
            print(f"   row counts differ: spark={len(s_rows)} duck={len(d_rows)}")

    spark.stop()
    print("\n%d failures" % len(failures), failures if failures else "")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
