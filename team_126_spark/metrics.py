"""The one way the program materializes an intermediate DataFrame, and the
counters that ride the job doing it.

Iterative and multi-consumer pipelines (PageRank, connected components,
pointer doubling, label propagation, LSH dedup, DSIR, the gradient-descent
distillers) cut lineage where several plans or loop rounds read the same
rows. Every such cut goes through `materialize`, so three decisions are made
in one place: where the rows live (and what a lost executor costs), whether
the job runs now or inside the next action, and how loop scalars such as
convergence counts come back without a second pass.

Those scalars use Spark's `observe` API: named aggregates computed inside
the checkpoint job that runs anyway, never a separate `count()` that
re-scans the rows once per metric. Streaming queries surface the same kind
of aggregates per micro-batch through
`StreamingQueryProgress.observedMetrics`.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation


def materialize(
    df: DataFrame,
    lazy: bool = False,
    counts: dict[str, Column] | None = None,
    select: Sequence[Column | str] | None = None,
):
    """Cut `df`'s lineage: later plans read its stored rows instead of
    replaying the plan that produced them. Returns the checkpointed
    DataFrame, or `(DataFrame, dict)` when `counts` is given.

    Storage and fault tolerance. The rows go to `localCheckpoint`: each
    partition stays in the block manager of the executor that computed it,
    with no replica and no copy on reliable storage, and the lineage that
    could recompute it is dropped. Losing that executor therefore fails
    every later job that reads the partition, where a persisted table would
    be recomputed and a reliable `checkpoint()` would be re-read. The
    program accepts that because of what goes through here: bounded or
    slim intermediates (signature tables, edge lists, per-round labels or
    ranks, guarded candidate sets, a few ids-plus-scalars columns per doc)
    read by the same query within seconds to minutes, so a lost executor
    costs one rerun of that query and nothing else. It is the wrong trade
    for long-lived jobs on preemptible executors (spot nodes, dynamic
    allocation that decommissions without block migration) or for wide
    corpus-sized intermediates: those need a reliable checkpoint directory
    or a replicated storage level. This is the one place to change it; it
    is deliberately not a parameter.

    Eagerness. By default the checkpoint job runs now. `lazy=True` defers
    it: the first action on the result fills the stored rows inside its own
    job, and later plans read them. Use it when the caller's next step runs
    that action anyway.

    Counters. `counts` maps names to aggregate Columns over `df`'s columns
    (count/sum/count_if ...; DISTINCT aggregates are not allowed by Spark).
    A fresh `Observation` is attached directly under the checkpoint (only
    `select`'s projection sits between), so the aggregates run in the
    checkpoint job's result stage, where Spark applies each task's
    accumulator update once even when the task is retried; a counter below
    a shuffle could count a re-run map task twice. The values
    are read after the eager job has returned, with no extra job. Counters
    on a lazy checkpoint are refused before any job starts: the job that
    fills them would be the caller's next action, and reading them first
    would block that very thread.

    `select` projects before the checkpoint and after the counters, for
    counters that read columns the stored rows do not need. A projection
    is narrow, so the counters stay in the same stage.
    """
    if counts and lazy:
        raise ValueError(
            "materialize: counts need an eager checkpoint; on a lazy one "
            "they would only be filled by the caller's next action"
        )
    if counts:
        obs = Observation()
        df = df.observe(obs, *[c.alias(n) for n, c in counts.items()])
    if select is not None:
        df = df.select(*select)
    out = df.localCheckpoint(eager=not lazy)
    return (out, obs.get) if counts else out
