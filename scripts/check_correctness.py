"""Local replica of the driver's correctness gate: run every
queries()[name] on Spark and oracle_sql()[name] on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
(with query names given, only those queries are checked)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from renard_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df):
    df = df[sorted(df.columns)]
    rows = [
        tuple(None if v != v else v for v in row) if any(isinstance(v, float) for v in row) else tuple(row)
        for row in df.itertuples(index=False, name=None)
    ]
    # NULL-safe sort: None sorts before any value (NULL-padded columns
    # from SPARQL UNION / OPTIONAL are legitimate result values)
    return sorted(rows, key=lambda r: tuple((v is not None, v) for v in r))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("correctness_check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    only = set(sys.argv[2:])
    if only:
        unknown = only - set(qs)
        if unknown:
            print("unknown queries:", sorted(unknown))
            sys.exit(2)
        qs = {k: v for k, v in qs.items() if k in only}
    failures = []
    for name, fn in qs.items():
        got_df = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name:28s} rows={len(got_df)} (rows-only check)")
            continue
        want_df = con.execute(oracles[name]).fetchdf()
        ok_cols = sorted(got_df.columns) == sorted(want_df.columns)
        ok_rows = len(got_df) == len(want_df)
        ok_vals = False
        if ok_cols and ok_rows:
            g, w = norm(got_df), norm(want_df)
            ok_vals = all(
                (a == b)
                or all(
                    (x == y)
                    or (isinstance(x, float) and isinstance(y, float) and abs(x - y) < 1e-9)
                    for x, y in zip(a, b)
                )
                for a, b in zip(g, w)
            )
        status = "OK" if (ok_cols and ok_rows and ok_vals) else "FAIL"
        print(
            f"{name:28s} {status}  rows={len(got_df)}/{len(want_df)}"
            f" cols_ok={ok_cols} vals_ok={ok_vals}"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print("   spark cols:", sorted(got_df.columns))
                print("   duck  cols:", sorted(want_df.columns))
            elif ok_rows:
                g, w = norm(got_df), norm(want_df)
                diff = [(a, b) for a, b in zip(g, w) if a != b][:5]
                for a, b in diff:
                    print("   spark:", a, " duck:", b)
            else:
                print("   row-count mismatch")
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
