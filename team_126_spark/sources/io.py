"""Sources & sinks (SURVEY.md §2.1, S1–S5).

Reference parity:
  - S1 CSV with utf-8-sig BOM + header  (backend/import_datasets.py:24-27)
  - S2 header cleanup (strip ws + BOM)  (backend/import_datasets.py:32)
  - S3 whole-file JSON: list-of-records (backend/tools/dataset_search.py:76-77)
       and metadata/summary/data envelope (backend/convert_housing_to_json.py:72-81)
  - S4 batched DB sink                  (backend/import_datasets.py:65-76)
  - S5 denormalized JSON sink           (backend/datasets/convert_csv_to_json.py:62-63)

Design stance: schemas are always EXPLICIT (`inferSchema` never used) —
the reference's fixed-schema discipline (§1.4), and at 100 TB an inference
pass over the input is an extra full scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

BOM = "﻿"


def clean_headers(df: DataFrame) -> DataFrame:
    """S2: strip whitespace and BOM from every column name."""
    return df.toDF(*[c.replace(BOM, "").strip() for c in df.columns])


def read_csv_bom(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """S1: header CSV; utf-8-sig BOM survives as a prefix on the first
    header, removed by clean_headers. With an explicit schema the header
    row is still consumed but names come from the schema.

    `multiline=True` parses quoted embedded newlines as record content —
    required for the reference's health-services CSV (the Services column
    holds newline-separated lists, import_datasets.py:24-27; without it the
    scan splits each such record into garbage rows). The cost is that the
    file becomes NON-SPLITTABLE (one task reads it whole), so at scale keep
    the default and pre-normalize quoted-newline CSVs — or land them as
    parquet — before the distributed scan."""
    reader = spark.read.option("header", "true").option("encoding", "UTF-8")
    if multiline:
        reader = reader.option("multiLine", "true")
    df = reader.schema(schema).csv(path) if schema is not None else reader.csv(path)
    return clean_headers(df)


def read_json_records(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """S3a: whole-file JSON array of records (multiLine)."""
    reader = spark.read.option("multiLine", "true")
    return reader.schema(schema).json(path) if schema is not None else reader.json(path)


def read_json_envelope(
    spark: SparkSession, path: str, data_field: str = "data"
) -> DataFrame:
    """S3b: {metadata, summary, data: [...]} envelope → one row per record
    (the housing JSON shape, HOUSING_JSON_README.md:14-60)."""
    env = spark.read.option("multiLine", "true").json(path)
    return env.select(F.explode(F.col(data_field)).alias("_r")).select("_r.*")


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S5: JSON lines sink. The reference writes one pretty-printed file;
    distributed output is line-delimited per partition — same records,
    scale-safe format."""
    df.write.mode(mode).json(path)


def summarize_envelope(
    df: DataFrame,
    unit_col: str = "units",
    vacancy_col: str = "vacancy_status",
    jurisdiction_col: str = "jurisdiction",
    zoning_col: str = "zoning_simplified",
) -> dict:
    """The housing envelope's summary block (S5 twin of
    convert_housing_to_json.py:55-70): total_records, total_units, distinct
    jurisdictions/zoning types, vacant-vs-other counts, unit min/max/avg.

    ONE distributed aggregation job → one driver row (bounded: a dozen
    scalars + two distinct-value lists that are category-sized by schema).
    """
    row = df.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.coalesce(F.sum(unit_col), F.lit(0)).cast("bigint").alias("total_units"),
        F.sort_array(F.collect_set(jurisdiction_col)).alias("jurisdictions"),
        F.sort_array(F.collect_set(zoning_col)).alias("zoning_types"),
        F.sum(F.when(F.col(vacancy_col).eqNullSafe("Vacant"), 1).otherwise(0))
        .cast("bigint")
        .alias("vacant"),
        # null-safe complement: a NULL status is 'other', so the two buckets
        # always partition total_records (col != 'Vacant' drops NULLs)
        F.sum(F.when(~F.col(vacancy_col).eqNullSafe("Vacant"), 1).otherwise(0))
        .cast("bigint")
        .alias("other"),
        F.min(unit_col).alias("min_units"),
        F.max(unit_col).alias("max_units"),
        F.avg(unit_col).alias("avg_units"),
    ).first()
    return {
        "total_records": row["total_records"],
        "total_units": row["total_units"],
        "jurisdictions": list(row["jurisdictions"]),
        "zoning_types": list(row["zoning_types"]),
        "vacancy_counts": {"vacant": row["vacant"], "other": row["other"]},
        "unit_statistics": {
            "min_units": row["min_units"],
            "max_units": row["max_units"],
            "avg_units": float(row["avg_units"]) if row["avg_units"] is not None else None,
        },
    }


def write_json_envelope(
    df: DataFrame,
    path: str,
    dataset_name: str,
    source_file: str = "",
    description: str = "",
    created_at: str = "1970-01-01T00:00:00",
    max_records: int = 100_000,
    **summary_cols,
) -> dict:
    """S5 envelope writer: one {metadata, summary, data} JSON document
    (convert_housing_to_json.py:72-86; readable back via read_json_envelope).

    The summary aggregates run distributed (summarize_envelope); only then
    are the data records brought to the driver, because an envelope is BY
    DESIGN a single self-describing document for dataset-sized exports
    (the reference's files are ~4k records). The `max_records` guard makes
    that bound explicit — beyond it, write write_json (JSON-lines, fully
    distributed) plus a summarize_envelope sidecar instead of one document.
    `created_at` is caller-supplied, never the wall clock (§7.4 determinism).

    Returns the envelope dict (also written to `path`).
    """
    import json

    summary = summarize_envelope(df, **summary_cols)
    if summary["total_records"] > max_records:
        raise ValueError(
            f"envelope holds {summary['total_records']} records > max_records="
            f"{max_records}; use write_json + summarize_envelope for large exports"
        )
    # to_json with ignoreNullFields=false keeps null-valued keys in every
    # record (df.toJSON() silently drops them, so record shapes would vary
    # row to row and consumers indexing a nulled key would KeyError)
    json_col = F.to_json(
        F.struct(*[F.col(c) for c in df.columns]), {"ignoreNullFields": "false"}
    )
    records = [json.loads(r[0]) for r in df.select(json_col).collect()]
    envelope = {
        "metadata": {
            "dataset_name": dataset_name,
            "source_file": source_file,
            "description": description,
            "created_at": created_at,
        },
        "summary": summary,
        "data": records,
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(envelope, f, indent=2, ensure_ascii=False)
    return envelope


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """Primary sink. `partition_by` gives partition pruning on the listed
    columns (the engine's substitute for the reference's B-tree indexes,
    §2.1 S7); `sort_by` sorts within partitions so parquet min/max row-group
    stats prune point lookups (Z-order analog for one key)."""
    out = df.sortWithinPartitions(*sort_by) if sort_by else df
    w = out.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: merge the schemas of every parquet footer
    under `path`, null-filling columns absent from older files — the
    engine's analog of the reference's add-a-column migration
    (backend/migrate_add_location.py: ALTER TABLE ... ADD COLUMN, old rows
    NULL). mergeSchema costs a footer read per file (not a data scan) so it
    is opt-in here rather than session-default; writers that keep one
    authoritative schema should use plain `spark.read.parquet`."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options,
) -> DataFrame:
    """S4 twin: JDBC source. Without partitioning options the whole table
    arrives through ONE connection on one task — never acceptable at scale,
    so pass a numeric `partition_column` + bounds and Spark issues
    `num_partitions` range-predicate queries in parallel. Filters and
    column pruning push down into the remote SQL (Catalyst JDBC pushdown);
    `.explain` shows PushedFilters on the scan."""
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table).options(**options)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires lower_bound and upper_bound "
                "(Spark would otherwise fail parsing the literal 'None')"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", batchsize: int = 10_000, **options
) -> None:
    """S4: JDBC sink. Spark batches inserts natively (`batchsize` per round
    trip) — replaces the reference's commit-every-100 loop
    (backend/import_datasets.py:65-76). Roundtrip-tested against the
    embedded Derby that ships with Spark (tests/test_sources_multimodal.py)."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .options(**options)
        .mode(mode)
        .save()
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (S7 index substitute, scale path): two tables
    bucketed by the same key into the same bucket count join WITHOUT a
    shuffle — the planner aligns bucket files instead of exchanging rows.
    This is the co-located-join layout for repeated FK joins at 100 TB
    (pre-pay one shuffle at write time, reuse it on every read)."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
