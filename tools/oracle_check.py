"""Local mimic of the driver's correctness gate: run every declared query on
Spark AND its DuckDB oracle at a given sf, compare row-count + column names +
order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

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


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = n_skip = 0
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = q.fn(spark, sf_dir)
            if q.oracle is None:
                n = df.count()
                print(f"  SKIP(rows-only) {name}: {n} rows  [{time.time()-t0:.1f}s]")
                n_skip += 1
                continue
            cur = con.execute(q.oracle)
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
            err = compare(name, df, o_rows, o_cols)
            if err:
                print(f"  FAIL {name}: {err}  [{time.time()-t0:.1f}s]")
                n_fail += 1
            else:
                print(f"  ok   {name} ({len(o_rows)} rows)  [{time.time()-t0:.1f}s]")
                n_pass += 1
        except Exception as e:
            print(f"  ERROR {name}: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
