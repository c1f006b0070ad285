"""Simulate the driver's CORRECTNESS gate faithfully: a VANILLA
SparkSession (no engine confs — the driver does not call tune_session
before running queries) driving `__spark_entry__.queries()` /
`oracle_sql()` against DuckDB at a given sf, comparing with the same
`compare` as tools/oracle_check.py (column names, row count and
order-insensitive canonicalized values).

Differs from tools/oracle_check.py in two ways that matter for
de-risking the actual gate: (1) plain `SparkSession.builder` instead of
`session.get_spark()` — catches any accidental dependence on our session
tuning (ANSI interactions, timezone, Arrow, shuffle partitions); (2) it
slices by REGISTRY position, mirroring the driver's first-50 sample
(`--front` / `--back`).

Usage:
    python tools/driver_gate_sim.py [sf_dir] [--front|--back|name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as mod  # noqa: E402
from tools.oracle_check import TABLES, compare  # noqa: E402


def main() -> None:
    from pyspark.sql import SparkSession

    args = [a for a in sys.argv[1:]]
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    qs, osql = mod.queries(), mod.oracle_sql()
    names = list(qs)
    if "--front" in args:
        names = names[:50]
    elif "--back" in args:
        names = names[50:]
    elif args:
        names = [n for n in args if n in qs]

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_rows_only = 0
    fails: list[str] = []
    for n in names:
        try:
            sdf = qs[n](spark, sf_dir)
            if n not in osql:
                n_rows_only += 1
                print(f"  rows-only {n}: {len(sdf.collect())} rows")
                continue
            cur = con.execute(osql[n])
            ocols = [d[0] for d in cur.description]
            err = compare(n, sdf, cur.fetchall(), ocols)
            if err is None:
                n_pass += 1
            else:
                fails.append(n)
                print(f"  FAIL {n}: {err}")
        except Exception as e:  # pragma: no cover - diagnostic path
            fails.append(n)
            print(f"  ERROR {n}: {type(e).__name__} {str(e)[:140]}")
    print(f"{n_pass} pass, {len(fails)} fail, {n_rows_only} rows-only (vanilla session)")
    if fails:
        print("failed:", fails)
        sys.exit(1)


if __name__ == "__main__":
    main()
