"""Sources/sinks (S1–S5) and multimodal plumbing tests."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from team_126_spark import sources as IO
from team_126_spark.operators import multimodal as MM


def test_read_csv_bom_strips_header_bom(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_bytes("﻿id, name \n1,alice\n2,bob\n".encode("utf-8"))
    df = IO.read_csv_bom(spark, str(p))
    assert df.columns == ["id", "name"]
    assert df.count() == 2


def test_read_csv_bom_with_explicit_schema(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_bytes("﻿id,name\n1,alice\n".encode("utf-8"))
    schema = StructType([StructField("id", IntegerType()), StructField("name", StringType())])
    df = IO.read_csv_bom(spark, str(p), schema)
    r = df.first()
    assert r["id"] == 1 and r["name"] == "alice"
    assert dict(df.dtypes)["id"] == "int"  # explicit schema, no inference


def test_read_json_records_and_envelope(spark, tmp_path):
    records = [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]
    flat = tmp_path / "flat.json"
    flat.write_text(json.dumps(records))
    assert IO.read_json_records(spark, str(flat)).count() == 2

    env = tmp_path / "env.json"
    env.write_text(
        json.dumps({"metadata": {"generated": "x"}, "summary": {"n": 2}, "data": records})
    )
    df = IO.read_json_envelope(spark, str(env))
    assert sorted(r["id"] for r in df.collect()) == [1, 2]
    assert set(df.columns) == {"id", "v"}


def test_write_json_envelope_roundtrip_exact_summary(spark, tmp_path):
    """S5 envelope writer (convert_housing_to_json.py:55-86 twin): summary
    values exact, data records roundtrip through read_json_envelope."""
    rows = [
        (1, "Carlsbad", "Vacant", 10, "Residential"),
        (2, "Carlsbad", "Occupied", 0, "Mixed"),
        (3, "San Diego", "Vacant", 35, "Residential"),
        (4, "San Diego", "Unknown", 3, None),
    ]
    df = spark.createDataFrame(
        rows, "id int, jurisdiction string, vacancy_status string, units int, zoning_simplified string"
    )
    path = str(tmp_path / "env.json")
    env = IO.write_json_envelope(
        df, path, dataset_name="housing", source_file="x.csv", created_at="2021-01-01T00:00:00"
    )
    s = env["summary"]
    assert s["total_records"] == 4 and s["total_units"] == 48
    assert s["jurisdictions"] == ["Carlsbad", "San Diego"]
    assert s["zoning_types"] == ["Mixed", "Residential"]  # null dropped by collect_set
    assert s["vacancy_counts"] == {"vacant": 2, "other": 2}
    assert s["unit_statistics"] == {"min_units": 0, "max_units": 35, "avg_units": 12.0}
    assert env["metadata"]["dataset_name"] == "housing"
    # identical document on disk
    assert json.load(open(path)) == env
    # readable back through the S3b envelope reader
    back = IO.read_json_envelope(spark, path)
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3, 4]
    assert set(back.columns) == {"id", "jurisdiction", "vacancy_status", "units", "zoning_simplified"}


def test_write_json_envelope_guards_oversized_export(spark, tmp_path):
    df = spark.range(5).select(
        F.col("id"),
        F.lit("j").alias("jurisdiction"),
        F.lit("Vacant").alias("vacancy_status"),
        F.lit(1).alias("units"),
        F.lit("z").alias("zoning_simplified"),
    )
    with pytest.raises(ValueError, match="max_records"):
        IO.write_json_envelope(df, str(tmp_path / "e.json"), "d", max_records=3)


def test_json_roundtrip_and_partitioned_parquet(spark, tmp_path):
    df = spark.createDataFrame([(1, "x", "a"), (2, "y", "b"), (3, "z", "a")], ["id", "v", "part"])
    jdir = str(tmp_path / "j")
    IO.write_json(df, jdir)
    back = spark.read.json(jdir)
    assert back.count() == 3

    pdir = str(tmp_path / "p")
    IO.write_parquet(df, pdir, partition_by=["part"], sort_by=["id"])
    back = spark.read.parquet(pdir)
    assert back.count() == 3
    # partition pruning: the partition filter appears in the scan's
    # PartitionFilters, not as a post-scan Filter
    pruned = spark.read.parquet(pdir).filter(F.col("part") == "a")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part" in plan
    assert pruned.count() == 2


def test_read_parquet_evolved_merges_schemas(spark, tmp_path):
    """On-disk schema evolution: v2 files add a column; the merged read
    exposes it with nulls for v1 rows (migrate_add_location.py analog)."""
    pdir = str(tmp_path / "evolve")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    v1.write.parquet(pdir)
    v2 = spark.createDataFrame([(3, "c", 9.5)], ["id", "v", "score"])
    v2.write.mode("append").parquet(pdir)

    merged = IO.read_parquet_evolved(spark, pdir)
    assert sorted(merged.columns) == ["id", "score", "v"]
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: 9.5}
    # plain read resolves ONE footer's schema — may miss the new column —
    # which is exactly why the evolved reader exists
    plain_cols = set(spark.read.parquet(pdir).columns)
    assert plain_cols.issubset({"id", "v", "score"})


# ----------------------------------------------------------------- multimodal

@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        Row(
            media_id=1,
            kind="image",
            content=bytes(b"\x89PNG fake image bytes"),
            meta=Row(width=4000, height=2000, sample_rate=None, n_frames=None, mime="image/png"),
        ),
        Row(
            media_id=2,
            kind="video",
            content=bytes(b"fake video"),
            meta=Row(width=1920, height=1080, sample_rate=None, n_frames=25, mime="video/mp4"),
        ),
        Row(media_id=3, kind="audio", content=None, meta=None),
    ]
    return spark.createDataFrame(rows, MM.MEDIA_SCHEMA)


def test_extract_features_shape_and_determinism(media_df):
    got = {r["media_id"]: r for r in MM.extract_features(media_df).collect()}
    assert len(got) == 3
    f1 = got[1]["feature"]
    assert len(f1) == MM.FEATURE_DIM
    assert abs(sum(x * x for x in f1) - 1.0) < 1e-5
    assert got[1]["n_bytes"] == 21
    assert got[3]["feature"] is None and got[3]["n_bytes"] == 0
    # determinism across runs
    again = {r["media_id"]: r["feature"] for r in MM.extract_features(media_df).collect()}
    assert again[1] == f1


def test_extract_features_real_backend_gated_on_pillow(media_df):
    """Without Pillow installed, the real backend fails fast on the driver
    with an actionable error (not one ImportError per executor task); an
    unknown backend is rejected outright."""
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present — the real backend is live, see the importorskip test")
    except ImportError:
        pass
    with pytest.raises(ModuleNotFoundError, match="Pillow"):
        MM.extract_features(media_df, decode_backend="real")
    with pytest.raises(ValueError, match="decode_backend"):
        MM.extract_features(media_df, decode_backend="ffmpeg")


def test_extract_features_real_backend_decodes_png(spark):
    """With Pillow importable, decode_backend='real' routes image blobs
    through an actual PNG decode (deterministic 32-dim L2-normalized
    feature; distinct images → distinct features) while non-image kinds
    keep the fake featurizer. Skips where Pillow is absent."""
    Image = pytest.importorskip("PIL.Image")
    import io

    def png(shade: int) -> bytes:
        buf = io.BytesIO()
        img = Image.new("L", (32, 32))
        img.putdata([((x * 7 + y * 13 + shade) % 256) for y in range(32) for x in range(32)])
        img.save(buf, format="PNG")
        return buf.getvalue()

    rows = [
        Row(media_id=1, kind="image", content=png(0), meta=None),
        Row(media_id=2, kind="image", content=png(101), meta=None),
        Row(media_id=3, kind="audio", content=b"not an image", meta=None),
    ]
    df = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in MM.extract_features(df, decode_backend="real").collect()}
    f1, f2 = got[1]["feature"], got[2]["feature"]
    assert len(f1) == MM.FEATURE_DIM
    assert abs(sum(x * x for x in f1) - 1.0) < 1e-5
    assert f1 != f2  # different pixels → different features
    # deterministic across runs
    again = {r["media_id"]: r["feature"] for r in MM.extract_features(df, decode_backend="real").collect()}
    assert again[1] == f1
    # the audio blob kept the fake featurizer (no decode attempt)
    from team_126_spark.operators.multimodal import _fake_features

    assert got[3]["feature"] == pytest.approx(_fake_features(b"not an image"))


def test_sample_frames(media_df):
    got = MM.sample_frames(media_df, every_n=10).collect()
    assert [(r["media_id"], r["frame_idx"]) for r in got] == [(2, 0), (2, 10), (2, 20)]


def test_resize_meta(media_df):
    got = {r["media_id"]: r for r in MM.resize_meta(media_df, 1000).collect()}
    assert got[1]["resized"]["width"] == 1000 and got[1]["resized"]["height"] == 500
    assert got[2]["resized"]["width"] == 1000 and got[2]["resized"]["height"] == 562
    assert got[3]["resize_scale"] == 1.0 and got[3]["resized"]["width"] is None


def test_external_lookup_stub_deterministic(spark):
    from team_126_spark.sources.external import lookup

    df = spark.createDataFrame(
        [(1, "food bank downtown"), (2, None), (3, "Food Bank Downtown ")],
        "id int, q string",
    ).repartition(2)
    out = {r["id"]: r["geo"] for r in df.select("id", lookup(F.col("q")).alias("geo")).collect()}
    # normalization: same query modulo case/trim -> same coordinates
    assert out[1] == out[3]
    assert out[1]["display_name"] == "stub:food bank downtown"
    assert 32.5 <= out[1]["lat"] <= 33.3 and -117.6 <= out[1]["lon"] <= -116.7
    # null query -> all-null struct (reference returns None on failure)
    assert out[2]["lat"] is None and out[2]["display_name"] is None


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S4 roundtrip against the Derby that ships with Spark's JVM: write a
    DataFrame through the batched JDBC sink, read it back partitioned (4
    range queries on the key), verify content and pushdown-ready plan."""
    url = f"jdbc:derby:{tmp_path}/s4db;create=true"
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("row"), F.col("id").cast("string")).alias("name"),
    )
    IO.write_jdbc(df, url, "t_s4", mode="overwrite", batchsize=32)
    back = IO.read_jdbc(
        spark, url, "t_s4", partition_column="k", lower_bound=0, upper_bound=100,
        num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4  # parallel range reads, not 1 connection
    got = {r["k"]: (r["v"], r["name"]) for r in back.collect()}
    assert len(got) == 100 and got[7] == (14, "row7")
    # predicate pushdown reaches the remote scan
    plan = back.filter(F.col("k") > 90)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "k" in plan


def test_summarize_envelope_null_status_counts_as_other(spark):
    df = spark.createDataFrame(
        [(2, "Vacant", "SD", "R1"), (3, None, "SD", "R1"), (5, "Occupied", "LA", "C2")],
        ["units", "vacancy_status", "jurisdiction", "zoning_simplified"],
    )
    s = IO.summarize_envelope(df)
    assert s["vacancy_counts"] == {"vacant": 1, "other": 2}
    assert s["vacancy_counts"]["vacant"] + s["vacancy_counts"]["other"] == s["total_records"]


def test_synthdocs_datasource_deterministic_and_partitioned(spark):
    """Python DataSource generator: reproducible rows, honored partition
    count, planted exact duplicates, and composes with the dedup operators."""
    from team_126_spark.sources.synth import register

    register(spark)
    opts = dict(rows="200", partitions="7", seed="42")
    a = spark.read.format("synthdocs").options(**opts).load()
    assert a.rdd.getNumPartitions() == 7
    assert a.count() == 200
    b = spark.read.format("synthdocs").options(**opts).load()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # planted duplicates: every doc_id ending in 9 repeats its block's first doc
    rows = {r["doc_id"]: r["text"] for r in a.collect()}
    assert rows[9] == rows[0]
    assert rows[19] == rows[10]
    assert rows[199] == rows[190]
    # n_chars is consistent with text
    assert all(len(t) == n for t, n in
               [(r["text"], r["n_chars"]) for r in a.limit(20).collect()])
    # composes with exact dedup: the planted copies collapse
    from team_126_spark.operators.dedup import exact_dedup

    kept = exact_dedup(a, "text", "doc_id").count()
    assert kept < 200
    # different seed -> different corpus
    c = spark.read.format("synthdocs").options(rows="200", partitions="7", seed="43").load()
    assert c.exceptAll(a).count() > 0


def test_synthvecs_datasource_geometry_and_determinism(spark):
    """synthvecs: reproducible unit vectors, fixture-compatible schema,
    and real cluster geometry (same-label cosine > cross-label cosine)."""
    import numpy as np

    from team_126_spark.sources.synth import register_vecs

    register_vecs(spark)
    opts = dict(rows="300", partitions="5", seed="3", dim="16", labels="4")
    a = spark.read.format("synthvecs").options(**opts).load()
    assert a.schema.simpleString() == "struct<vec_id:bigint,embedding:array<float>,label:int>"
    assert a.count() == 300 and a.rdd.getNumPartitions() == 5
    b = spark.read.format("synthvecs").options(**opts).load()
    assert a.exceptAll(b).count() == 0
    rows = a.collect()
    vecs = {r["vec_id"]: (np.array(r["embedding"]), r["label"]) for r in rows}
    for v, _ in vecs.values():
        assert abs(np.linalg.norm(v) - 1.0) < 1e-3
    same, cross, ns, nc = 0.0, 0.0, 0, 0
    ids = sorted(vecs)[:80]
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            cos = float(vecs[i][0] @ vecs[j][0])
            if vecs[i][1] == vecs[j][1]:
                same += cos; ns += 1
            else:
                cross += cos; nc += 1
    assert same / ns > cross / nc + 0.3  # planted anchors dominate noise
