"""Local mimic of the driver's correctness gate: run every declared query on
Spark AND its DuckDB oracle at a given sf, compare row-count + column names +
order-insensitive values. Queries without an oracle get the driver's weaker
rows-only check (collected, counted, reported as rows-only).

Usage:
    python tools/oracle_check.py [sf_dir] [--session engine|vanilla]
                                 [--front|--back] [query ...]

--session engine (default) runs on `session.get_spark()`. --session vanilla
runs the way the driver does: a plain `SparkSession.builder` with no engine
confs (no tune_session: default shuffle partitions, broadcast threshold,
ANSI/timezone/Arrow settings), driving `__spark_entry__.queries()` and
`oracle_sql()`. It catches any answer that depends on our session tuning.
--front / --back slice the registry by position: the first 50 queries (the
driver's sample) or the rest. Exits 1 when any query fails.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from team_126_spark.queries import REGISTRY  # noqa: E402
from team_126_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)
DRIVER_SAMPLE = 50  # the driver checks the registry's first 50 queries


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def row_key(row, cols):
    return tuple(canon(row[c]) for c in cols)


def compare(name, spark_df, oracle_rows, oracle_cols):
    s_cols = sorted(spark_df.columns)
    o_cols = sorted(oracle_cols)
    if s_cols != o_cols:
        return f"SCHEMA: spark={s_cols} oracle={o_cols}"
    s_rows = spark_df.collect()
    if len(s_rows) != len(oracle_rows):
        return f"ROWCOUNT: spark={len(s_rows)} oracle={len(oracle_rows)}"
    s_set = sorted(row_key(r.asDict(), s_cols) for r in s_rows)
    o_set = sorted(tuple(canon(v) for v in (dict(zip(oracle_cols, r))[c] for c in o_cols)) for r in oracle_rows)
    if s_set != o_set:
        diffs = [(a, b) for a, b in zip(s_set, o_set) if a != b][:3]
        return f"VALUES: first diffs {diffs}"
    return None


def _session(kind):
    """(spark, {name: query fn}, {name: oracle sql}) for the session kind."""
    if kind == "engine":
        fns = {name: q.fn for name, q in REGISTRY.items()}
        osql = {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
        return get_spark("oracle_check"), fns, osql
    from pyspark.sql import SparkSession

    # imported after team_126_spark, so the contract drives this checkout's modules
    import __spark_entry__ as mod

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, mod.queries(), mod.oracle_sql()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*", metavar="query")
    ap.add_argument("--session", choices=("engine", "vanilla"), default="engine")
    part = ap.add_mutually_exclusive_group()
    part.add_argument("--front", action="store_true", help=f"the first {DRIVER_SAMPLE} queries")
    part.add_argument("--back", action="store_true", help=f"queries after the first {DRIVER_SAMPLE}")
    args = ap.parse_args(argv)

    spark, fns, osql = _session(args.session)
    names = list(fns)
    if args.front:
        names = names[:DRIVER_SAMPLE]
    elif args.back:
        names = names[DRIVER_SAMPLE:]
    if args.names:
        names = [n for n in names if n in set(args.names)]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    n_pass = n_skip = 0
    fails: list[str] = []
    for name in names:
        t0 = time.time()
        try:
            df = fns[name](spark, args.sf_dir)
            if name not in osql:
                n = len(df.collect())
                print(f"  SKIP(rows-only) {name}: {n} rows  [{time.time()-t0:.1f}s]")
                n_skip += 1
                continue
            cur = con.execute(osql[name])
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
            err = compare(name, df, o_rows, o_cols)
            if err:
                print(f"  FAIL {name}: {err}  [{time.time()-t0:.1f}s]")
                fails.append(name)
            else:
                print(f"  ok   {name} ({len(o_rows)} rows)  [{time.time()-t0:.1f}s]")
                n_pass += 1
        except Exception as e:
            print(f"  ERROR {name}: {type(e).__name__}: {str(e)[:300]}")
            fails.append(name)
    print(f"\n{n_pass} pass, {len(fails)} fail, {n_skip} rows-only ({args.session} session)")
    if fails:
        print("failed:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
