"""Pipeline health metrics via Spark's `observe` API — aggregate counters
collected DURING a job's existing pass, not by extra count() actions.

At 100 TB the difference matters: instrumenting a curation run with
separate `df.filter(...).count()` calls re-scans the corpus once per
metric, while `observe` piggybacks named aggregates onto the action the
pipeline already runs (write/collect) at zero additional scans. Batch
side uses `Observation` (blocking get); streaming queries surface the same
metrics per micro-batch through `StreamingQueryProgress.observedMetrics`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def observe_counts(
    df: DataFrame, name: str, metrics: dict[str, Column]
) -> tuple[DataFrame, Observation]:
    """Attach named aggregate metrics to `df`'s next action.

    Returns (instrumented_df, observation); run ONE action on the returned
    DataFrame, then read `observation.get` — a dict of metric name →
    value, computed inside the same job. `metrics` values must be
    aggregate expressions (count/sum/min/...) over df's columns.

        out, obs = observe_counts(curated, "curate", {
            "rows": F.count(F.lit(1)),
            "null_text": F.count_if(F.col("text").isNull()),
        })
        out.write.parquet(path)
        stats = obs.get   # no second scan
    """
    obs = Observation(name)
    return df.observe(obs, *[c.alias(n) for n, c in metrics.items()]), obs

