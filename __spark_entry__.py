"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship hybrid geo+semantic search on sf0.001.
queries()     — the declared-query corpus (team_126_spark/queries.py).
oracle_sql()  — DuckDB oracle twins for every SQL-expressible query.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# this checkout's own modules, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from team_126_spark.queries import REGISTRY  # noqa: E402
from team_126_spark.session import tune_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: two-stage hybrid geo+semantic retrieval (SURVEY §3.1)
    — radius filter → cosine rescore → weighted fusion → top-k."""
    tune_session(spark)
    return REGISTRY["hybrid_fusion"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for each SQL-expressible query; omitted keys get
    the driver's weaker rows-only check (LSH/xxhash-based scale paths)."""
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
