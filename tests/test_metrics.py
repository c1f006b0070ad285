"""The materialization seam (`metrics.materialize`) and its observe()
counters, plus the streaming observedMetrics path."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from team_126_spark.metrics import materialize
from team_126_spark.tables import table

SF = "/root/testdata/sf0.001"
ROOT = Path(__file__).resolve().parents[1]


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


def test_materialize_counts_no_extra_jobs(spark):
    """Counters ride the checkpoint's own job: the observation's values
    match a direct recount, and the eager checkpoint runs exactly one job
    (status API) — no per-metric jobs. Counters on a lazy checkpoint are
    refused before any job starts."""
    docs = table(spark, SF, "documents")
    t = F.col("text")
    counts = {
        "rows": F.count(F.lit(1)),
        "null_text": F.count_if(t.isNull()),
        "total_chars": F.sum(F.coalesce(F.length(t), F.lit(0))),
    }
    before = _jobs(spark)
    with pytest.raises(ValueError, match="eager"):
        materialize(docs, lazy=True, counts=counts)
    assert _jobs(spark) == before
    out, got = materialize(docs, counts=counts)
    assert _jobs(spark) - before == 1
    assert got["rows"] == docs.count() == 500
    want_nulls = docs.filter(F.col("text").isNull()).count()
    want_chars = docs.agg(
        F.sum(F.coalesce(F.length("text"), F.lit(0)))
    ).first()[0]
    assert got["null_text"] == want_nulls
    assert got["total_chars"] == want_chars
    assert out.count() == 500


def test_materialize_counts_compose_with_curation(spark):
    from team_126_spark.operators.textops import curate_corpus

    docs = table(spark, SF, "documents")
    curated = curate_corpus(docs, "text", "doc_id")
    # NB: DISTINCT aggregates are rejected in observed metrics
    # (INVALID_OBSERVED_METRICS); the sketch version is the observable one
    out, got = materialize(
        curated, counts={"rows": F.count(F.lit(1)),
                         "splits": F.approx_count_distinct(F.col("split"))}
    )
    assert got["rows"] == out.count() == curated.count() > 0
    assert 1 <= got["splits"] <= 3


def test_materialize_is_the_only_checkpoint_seam():
    """Every checkpoint and every Observation in the program, its tools and
    bench.py goes through metrics.materialize."""
    seam = ROOT / "team_126_spark" / "metrics.py"
    files = [ROOT / "bench.py", *ROOT.glob("team_126_spark/**/*.py"), *ROOT.glob("tools/**/*.py")]
    found = [
        f"{f.relative_to(ROOT)}:{i}"
        for f in files
        if f != seam
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if re.search(r"localCheckpoint\(|Observation\(", line)
    ]
    assert found == []


def test_read_index_layout_is_the_only_index_reader():
    """No code in the program, its tools or bench.py reads an ingest-index
    layout (sigs, bands, vecs, grams, lsh) by path or glob, or writes a
    b<id>/ batch dir: reads go through streaming.pipeline.read_index_layout
    and batch writes through its batch writer, which take the layout name
    as a value, and only the streaming module calls that writer."""
    layout = r"/(sigs|bands|vecs|grams|lsh)"
    files = [ROOT / "bench.py", *ROOT.glob("team_126_spark/**/*.py"), *ROOT.glob("tools/**/*.py")]
    found = []
    for f in files:
        for node in ast.walk(ast.parse(f.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and node.args
            ):
                continue
            path = ast.unparse(node.args[0])
            is_read = isinstance(node.func.value, ast.Attribute) and node.func.value.attr == "read"
            if re.search(layout + r"/(\*|b\{|b\d)", path) or (is_read and re.search(layout + r"\b", path)):
                found.append(f"{f.relative_to(ROOT)}:{node.lineno}: {path}")
    assert found == []

    # the batch writer has no caller outside the streaming module: index
    # rows reach a b<id>/ dir only through its per-batch steps
    pipeline = ROOT / "team_126_spark" / "streaming" / "pipeline.py"
    writers = [
        f"{f.relative_to(ROOT)}:{node.lineno}"
        for f in files
        if f != pipeline
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call)
        and (getattr(node.func, "id", None) or getattr(node.func, "attr", None)) == "_write_index_batch"
    ]
    assert writers == []


def test_observe_metrics_in_streaming_progress(spark, tmp_path):
    """The same observe() instrumentation surfaces per-micro-batch through
    StreamingQueryProgress.observedMetrics — pipeline health counters for
    the streaming ingest path with no side actions."""
    from team_126_spark import streaming as STR

    docs = table(spark, SF, "events")
    d = str(tmp_path / "stream_src")
    docs.limit(100).coalesce(1).write.parquet(d)
    src = STR.stream_events(spark, SF, d)
    instrumented = src.observe(
        "ingest_health",
        F.count(F.lit(1)).alias("rows"),
        F.count_if(F.col("value").isNull()).alias("null_values"),
    )
    q = (
        instrumented.writeStream.format("memory")
        .queryName("t_obs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p["observedMetrics"]]
    assert progresses, "no observedMetrics in any micro-batch progress"
    got = sum(
        p["observedMetrics"]["ingest_health"]["rows"] for p in progresses
    )
    assert got == 100


def test_job_metrics_tool():
    """tools/job_metrics keeps the SQL-metric byte parser perfbench uses."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools.job_metrics import _parse_bytes

    assert _parse_bytes("216.0 B") == 216
    assert _parse_bytes("1.5 KiB") == 1536
    assert _parse_bytes("total (min, med, max (stageId: taskId))\n2.0 MiB") == 2 * 2**20


def test_bench_measure_reads_layers(spark):
    """bench.measure times a row and reads its per-run Spark layers from
    the status store: every row runs at least one job, a tiny input never
    spills, and the MinHash-LSH row shuffles."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from bench import measure
    from team_126_spark.queries import REGISTRY

    keys = {
        "jobs", "build_jobs", "stages", "tasks", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb", "codegen_compiles", "codegen_ms", "build_s",
    }
    got = {}
    for name in ("agg_global", "minhash_lsh_pairs"):
        fn = REGISTRY[name].fn
        rec = measure(spark, lambda: fn(spark, "/root/testdata/sf0.001"))
        assert len(rec["runs"]) == 3 and rec["median"] > 0
        layers = got[name] = rec["layers"]
        assert set(layers) == keys, name
        assert layers["jobs"] >= 1 and layers["spill_mb"] == 0, (name, layers)
        assert layers["stages"] >= 1, (name, layers)
        assert layers["build_jobs"] <= layers["jobs"], (name, layers)
    assert got["minhash_lsh_pairs"]["shuffle_write_mb"] > 0, got


def _group_jobs(spark, group: str, fn) -> int:
    """Jobs `fn()` submits, counted under a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group) or [])


def test_table_repeat_read_runs_no_job(spark, tmp_path):
    """`tables.table` remembers a schema, not data: the first read of a
    table infers its schema (one footer job in Spark 4.1), a second read
    of the unchanged file runs no job, and both read the same rows."""
    spark.range(5).withColumn("x", F.col("id") * 2).write.parquet(str(tmp_path / "t.parquet"))
    first = _group_jobs(spark, "table-first", lambda: table(spark, str(tmp_path), "t"))
    again = []
    second = _group_jobs(
        spark, "table-again", lambda: again.append(table(spark, str(tmp_path), "t"))
    )
    assert first >= 1 and second == 0
    df = again[0]
    assert df.schema == spark.read.parquet(str(tmp_path / "t.parquet")).schema
    assert sorted(r["x"] for r in df.collect()) == [0, 2, 4, 6, 8]


def test_table_rewritten_in_place_returns_new_schema(spark, tmp_path):
    """A single parquet file rewritten at the same path with another
    schema lists differently, so `tables.table` infers the new schema
    instead of reusing the old one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"id": [1, 2, 3]}), path)
    assert table(spark, str(tmp_path), "t").schema.simpleString() == "struct<id:bigint>"
    pq.write_table(pa.table({"name": ["a", "b"], "score": [0.5, 1.5]}), path)
    df = table(spark, str(tmp_path), "t")
    assert df.schema.simpleString() == "struct<name:string,score:double>"
    assert sorted(tuple(r) for r in df.collect()) == [("a", 0.5), ("b", 1.5)]
