"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf dir.

Also derives the reference-shaped columns the TPC-H schema lacks
(lat/lon for geo operators), as pure functions of the primary key so the
DuckDB oracle can reproduce them exactly (FIXTURES.md discipline).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Fixed "now" anchors (SURVEY.md §7.4: no wall clock anywhere).
# events.ts spans 2024-01-01 .. 2024-01-30; orders 1995 .. 2001.
NOW_EVENTS = "2024-01-15 00:00:00"
NOW_ORDERS = "1998-08-01 00:00:00"

# San Diego box (FIXTURES.md §1): deterministic lat/lon from an integer key.
LAT_BASE, LAT_SPAN, LAT_MULT = 32.5, 0.8, 104729
LON_BASE, LON_SPAN, LON_MULT = -117.6, 0.9, 7919


_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make `team_126_spark` importable on executor Python workers.

    Module-level pandas UDFs (functions/sketch.py, functions/embed.py,
    operators/multimodal.py) are cloudpickled BY REFERENCE, so workers must
    import this package — which fails when the driver's cwd is not the repo
    root (the driver contract imports __spark_entry__ from an arbitrary
    cwd). Shipping a zip via addPyFile is the standard mechanism and is
    exactly what a real cluster deployment would do (--py-files).
    Idempotent per SparkContext.
    """
    import shutil
    import tempfile

    sc = spark.sparkContext
    app = sc.applicationId or "app"
    if app in _SHIPPED:
        return
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(tempfile.gettempdir(), f"team_126_spark_pkg_{os.getpid()}")
    zip_path = shutil.make_archive(base, "zip", root_dir=pkg_root, base_dir="team_126_spark")
    sc.addPyFile(zip_path)
    _SHIPPED.add(app)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# absolute path -> (listing key, schema). One entry per path: a rewrite
# replaces its entry, so the memo never outgrows the set of tables read.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _listing(path: str) -> tuple:
    """(name, size, mtime_ns) of every file at or under `path`, sorted."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(root, f) for root, _dirs, names in os.walk(path) for f in names
    ]
    stats = [(f, os.stat(f)) for f in sorted(files)]
    return tuple((f, st.st_size, st.st_mtime_ns) for f, st in stats)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` without the schema-inference job on a
    repeat read: Spark 4.1 runs one job per read to merge footers (~65 ms
    per read on a 4-core box, a fifth of a kiosk request). A local path's
    inferred schema is kept, keyed by the listing plus the nanos conf that
    changes the inferred type, and handed back through `read.schema`; a
    rewritten table lists differently, so its schema is inferred again.
    Non-local paths (a URI scheme) keep plain inference."""
    if "://" in path or path.startswith("file:") or not os.path.exists(path):
        return spark.read.parquet(path)
    apath = os.path.abspath(path)
    key = (spark.conf.get(_NANOS_AS_LONG, "false"), _listing(apath))
    hit = _SCHEMAS.get(apath)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[apath] = (key, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One base table, uncached: every call lists and scans the files.

    Only the table's SCHEMA is remembered between calls (`_read_parquet`):
    never rows, file listings or plans, so a second read of an unchanged
    file runs no job until its consumer's action, and a file rewritten in
    place returns its new schema."""
    ship_package(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # The driver's events.parquet stores ts as INT64 TIMESTAMP(NANOS).
        # pyspark 4.1 reads it natively as TIMESTAMP_NTZ truncated to micros
        # (same truncation as DuckDB's epoch_us); older readers reject it, so
        # keep the nanos-as-long fallback which floors to micros by hand.
        # Downstream code must accept ts as either NTZ or LTZ — use
        # epoch_us() for a numeric time axis.
        try:
            df = _read_parquet(spark, path)
        except Exception:
            spark.conf.set(_NANOS_AS_LONG, "true")
            df = _read_parquet(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return _read_parquet(spark, path)


def epoch_us(df: DataFrame, ts_col: str) -> F.Column:
    """Epoch microseconds of `ts_col` for BOTH timestamp flavors.

    pyspark 4.1 reads the driver's TIMESTAMP(NANOS) events parquet natively
    as TIMESTAMP_NTZ (older readers threw and we fell back to nanos-as-long
    → LTZ), so operators that need a numeric time axis must accept either.
    `unix_micros` is LTZ-only; for NTZ we take a tz-independent diff from
    the naive epoch — both agree with DuckDB's epoch_us on these tables.
    """
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', `{ts_col}`)"
        )
    return F.unix_micros(F.col(ts_col))


def derived_lat(key: F.Column) -> F.Column:
    """lat = 32.5 + (key*104729 % 10000)/10000 * 0.8 — pure fn of key."""
    return F.lit(LAT_BASE) + ((key * LAT_MULT) % 10000) / 10000.0 * LAT_SPAN


def derived_lon(key: F.Column) -> F.Column:
    return F.lit(LON_BASE) + ((key * LON_MULT) % 10000) / 10000.0 * LON_SPAN


def derived_lat_sql(key: str) -> str:
    return f"(32.5 + (({key} * 104729) % 10000) / 10000.0 * 0.8)"


def derived_lon_sql(key: str) -> str:
    return f"(-117.6 + (({key} * 7919) % 10000) / 10000.0 * 0.9)"


def with_geo(df: DataFrame, key: str, lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Attach deterministic San-Diego-box coordinates keyed by `key`."""
    return df.withColumn(lat, derived_lat(F.col(key))).withColumn(lon, derived_lon(F.col(key)))


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition to the session's default parallelism before
    compute-heavy map-side work (shingling, hashing, cross joins).

    The driver's test tables are single-file/single-row-group parquet, so a
    scan yields ONE partition and everything downstream of it runs on one
    core until the first shuffle. On a real cluster the scan is already
    split; this cheap explicit shuffle is the local-mode equivalent and is
    harmless at scale (Catalyst drops it into the existing exchange when one
    is needed anyway).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(k) for k in keys]) if keys else df.repartition(n)
