"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf dir, then compares:
row count, column names (sorted), and order-insensitive values.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from kafka_exercise_spark.catalog import TABLES, table_path  # noqa: E402
from kafka_exercise_spark.session import get_spark  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            import numpy as np

            df[c] = df[c].map(
                lambda v: tuple(v)
                if isinstance(v, (list, tuple, np.ndarray))
                else v
            )
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, spark_df, duck_df) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    s, d = normalize(spark_df), normalize(duck_df)
    if len(s) == len(d):
        try:
            # exact: the driver hashes values, so near-equal is not equal
            pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=True)
        except AssertionError as e:
            problems.append(f"values: {str(e).splitlines()[-1][:300]}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify_local")
    con = duck_connection(sf_dir)
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"OK   {name}: {len(sdf)} rows")
    # smoke
    rows = entrymod.entry(spark).count()
    print(f"SMOKE entry(): {rows} rows")
    if rows <= 0:
        failed.append("entry")
    print(("ALL GREEN" if not failed else f"FAILED: {failed}"))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
