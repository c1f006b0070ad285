"""Isolated per-query timing: bench.py methodology (noop sink, one sf0.001
warm pass, three timed runs, median) for a handful of queries without paying
for the full 137-row bench.

Usage: SPARK_GRAFT_SF_DIR=... python tools/qtime.py <query> [query ...]
Also accepts EXTRA_BENCH twin names from bench.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTRA_BENCH, measure  # noqa: E402
from team_126_spark.queries import REGISTRY  # noqa: E402
from team_126_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    spark = get_spark("qtime")
    fns = {}
    for n in names:
        fns[n] = REGISTRY[n].fn if n in REGISTRY else EXTRA_BENCH[n]
    warm_dir = "/root/testdata/sf0.001"
    for n, fn in fns.items():
        if os.path.isdir(warm_dir):
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        med, _, runs = measure(spark, fn, sf_dir)
        print(f"QTIME {n:30s} median={med:7.3f}s runs={[round(r, 3) for r in runs]}")


if __name__ == "__main__":
    main()
