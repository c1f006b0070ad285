"""Pipeline-metrics (observe API) tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from team_126_spark.metrics import observe_counts
from team_126_spark.tables import table

SF = "/root/testdata/sf0.001"


def test_observe_counts_no_extra_jobs(spark):
    """Metrics ride the SAME job as the action: the observation's values
    match a direct recomputation, and the instrumented action runs exactly
    one job (tracked via the status API) — the zero-extra-scan property
    that makes per-stage health counters affordable at 100 TB."""
    docs = table(spark, SF, "documents")
    t = F.col("text")
    out, obs = observe_counts(docs, "ingest", {
        "rows": F.count(F.lit(1)),
        "null_text": F.count_if(t.isNull()),
        "total_chars": F.sum(F.coalesce(F.length(t), F.lit(0))),
    })
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    n = out.count()
    got = obs.get
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 2  # the count's own job(s); no per-metric jobs
    assert got["rows"] == n == 500
    want_nulls = docs.filter(F.col("text").isNull()).count()
    want_chars = docs.agg(
        F.sum(F.coalesce(F.length("text"), F.lit(0)))
    ).first()[0]
    assert got["null_text"] == want_nulls
    assert got["total_chars"] == want_chars


def test_observe_composes_with_curation(spark):
    from team_126_spark.operators.textops import curate_corpus

    docs = table(spark, SF, "documents")
    curated = curate_corpus(docs, "text", "doc_id")
    # NB: DISTINCT aggregates are rejected in observed metrics
    # (INVALID_OBSERVED_METRICS); the sketch version is the observable one
    out, obs = observe_counts(
        curated, "curated", {"rows": F.count(F.lit(1)),
                             "splits": F.approx_count_distinct(F.col("split"))}
    )
    n = out.count()
    got = obs.get
    assert got["rows"] == n > 0
    assert 1 <= got["splits"] <= 3


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


def test_job_metrics_tool(spark):
    """tools/job_metrics reads executed-plan SQL metrics: parser units plus
    one live query whose metrics must be self-consistent."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools.job_metrics import _parse_bytes, _parse_count, query_metrics

    assert _parse_bytes("216.0 B") == 216
    assert _parse_bytes("1.5 KiB") == 1536
    assert _parse_bytes("total (min, med, max (stageId: taskId))\n2.0 MiB") == 2 * 2**20
    assert _parse_count("15,000") == 15000
    assert _parse_count("no digits here") == 0

    from team_126_spark.queries import REGISTRY

    m = query_metrics(spark, REGISTRY["agg_global"].fn, "/root/testdata/sf0.001")
    assert m["sec"] > 0 and m["max_rows"] > 0
    assert m["shuffle_mb"] >= 0 and m["spill_mb"] == 0  # tiny agg never spills
