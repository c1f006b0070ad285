"""SparkSession builder with scale-aware defaults.

Local mode is a correctness substrate only; every conf here is chosen to
also make sense on a 1000-executor cluster:
  - AQE on (runtime partition coalescing + skew-join splitting),
  - Arrow on (vectorized pandas-UDF boundary),
  - UTC session timezone (oracle comparability; DuckDB timestamps are
    UTC-naive),
  - shuffle partitions sized to cores locally; on a real cluster AQE
    re-coalesces from an intentionally high initial number.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return 8


def runtime_confs() -> dict[str, str]:
    """Engine confs that are mutable at runtime: `configure` puts them on a
    builder, `tune_session` on an externally created session."""
    return {
        "spark.sql.shuffle.partitions": str(cpu_count()),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # ObjectHashAggregate (collect_list/minhash kernels) falls back to
        # SORT-based aggregation after only 128 in-memory keys by default —
        # at any real per-partition group count that turns linear aggs
        # superlinear (measured 9x on simhash at 400k docs). 64k keys ×
        # ~1KB list state ≈ 64MB/task worst case: safe at executor sizes.
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "65536",
    }


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine defaults to any builder (also used on driver-provided sessions' conf)."""
    return (
        builder.config(map=runtime_confs())
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # pyspark records the Python call site of every Column/DataFrame
        # call for error messages: ~13 py4j round trips per F.col. Off,
        # errors lose that call site; a kiosk request gains ~13% rate.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # managed tables (bucketed layouts) land in /tmp, never the repo
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "team_126_spark_warehouse"),
        )
    )


def get_spark(app_name: str = "team_126_spark") -> SparkSession:
    """Build (or reuse) the engine session on local[N]."""
    builder = SparkSession.builder.master(f"local[{cpu_count()}]").appName(app_name)
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Best-effort runtime tuning for an externally created session (e.g. the
    driver's). Only sets confs that are mutable at runtime."""
    for key, value in runtime_confs().items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # immutable conf on this session — keep going
    return spark
