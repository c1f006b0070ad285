"""Shared fixtures: one small local SparkSession for the whole test run.

The reference ships no automated tests (SURVEY.md §5); this suite is the
engine's own correctness harness layer (a): per-operator unit tests on tiny
literal DataFrames. Layer (b) — the declared-query corpus vs the DuckDB
oracle — is tools/oracle_check.py and the driver's CORRECTNESS gate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

SF_SMOKE = "/root/testdata/sf0.001"


def pytest_report_header(config):
    """Surface which dependency-gated twins are live (VERDICT r4 #9): a
    container upgrade flips the suite's Pillow skip to a pass — this line makes
    that visible in the run header without re-reading the skip list."""
    import importlib.util

    gates = {"pillow": "PIL"}
    states = []
    for name, module in gates.items():
        try:
            live = importlib.util.find_spec(module) is not None
        except ModuleNotFoundError:
            live = False
        states.append(f"{name}={'LIVE' if live else 'gated'}")
    return f"environment-gated twins: {', '.join(states)} (tools/gate_report.py)"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.master("local[4]")
        .appName("team_126_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def docs_df(spark):
    """Tiny corpus with known duplicate structure."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different text about spark engines and shuffles"),
        (5, ""),  # empty
        (6, "  The   QUICK brown fox  jumps over the lazy dog  "),  # ws/case dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])
