"""Structured Streaming slice (SURVEY.md §2.10).

The reference's WebSocket chat loop (reference: backend/main.py:512-610) is a
per-record incremental pipeline: receive → regex location parse → embed →
append → per-conversation state. Re-expressed Spark-first:

  - source: file stream over the append-only events/messages table
    (`stream_events`) — stands in for a Kafka topic; swapping the source
    format string is the only cluster change,
  - per-message transform: `message_pipeline` = regexp coordinate extraction
    (F4, main.py:490-509) + Arrow-batched embedder (V1) as a withColumn
    chain — map-only, no shuffle, scales with input rate,
  - event-time analytics: `windowed_counts` (tumbling window + watermark —
    the late-data policy the reference lacks, SURVEY §2.10) and
    `session_windows` (F.session_window ↔ conversation started_at/ended_at,
    models.py:28-29),
  - per-key state: `user_running_state` via applyInPandasWithState —
    bounded per-user accumulator replacing the reference's unbounded Python
    history lists (main.py:571-597).

Every transformation here is also valid on a batch DataFrame (Spark's
unified model); tests run each with trigger=availableNow into a memory sink
and diff against the batch run of the same expression — the streaming twin
of the DuckDB oracle discipline.
"""

from __future__ import annotations

from functools import partial
from typing import Iterable, Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.embed import Embedder, embed
from ..metrics import materialize
from ..tables import table

# Regex the reference uses to pull coordinates out of message text
# (backend/main.py:495-497), anchored the same way.
COORD_PATTERN = r"Latitude\s+([-+]?\d+\.?\d*),\s*Longitude\s+([-+]?\d+\.?\d*)"


def stream_events(
    spark: SparkSession, sf_dir: str, stream_dir: str, schema_from: str = "events"
) -> DataFrame:
    """File-stream source with the events table's schema (append-only log
    analog). `stream_dir` is the watched directory — tests stage parquet
    files there incrementally; on a cluster this is `format("kafka")` +
    the same downstream plan.

    maxFilesPerTrigger=1 keeps micro-batches bounded.

    TIMESTAMP_NTZ columns (what pyspark 4.1 reads the nanos events table
    as) are cast to TIMESTAMP: watermarks/event-time windows REQUIRE the
    LTZ type, and under the engine's fixed UTC session timezone the cast is
    epoch-identity.
    """
    schema = table(spark, sf_dir, schema_from).schema
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    for name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


def message_pipeline(
    df: DataFrame, text_col: str, embedder: Embedder | None = None
) -> DataFrame:
    """Per-message transform chain: coordinate regex parse + embedding.

    Pure map (withColumn) — no shuffle, no state; Catalyst fuses it into
    the source projection in both batch and streaming plans.
    """
    return (
        df.withColumn("lat", F.regexp_extract(F.col(text_col), COORD_PATTERN, 1).try_cast("double"))
        .withColumn("lon", F.regexp_extract(F.col(text_col), COORD_PATTERN, 2).try_cast("double"))
        .withColumn("embedding", embed(F.col(text_col), embedder))
    )


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """Tumbling event-time window agg with a late-data watermark.

    Watermark bounds state: the store drops windows older than max(event
    time) - watermark, so state size is O(active windows), independent of
    stream length — the §2.10 design decision the reference never makes.
    """
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(F.count("*").cast("bigint").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("window_start"), key_col, "n", "total")
    )


def session_windows(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """Session windows (conversation sessionization): events of one user
    closer than `gap` merge into one session row."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("s"), key_col)
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            key_col,
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact-dedup: first arrival per key wins, duplicates within
    the watermark horizon are dropped — the ingest-time twin of
    operators/dedup.py:exact_dedup for a continuously arriving corpus.

    dropDuplicatesWithinWatermark bounds the state store to keys seen in
    the last `watermark` of event time (a plain dropDuplicates on a stream
    retains EVERY key forever — unusable on an unbounded corpus). A dup
    arriving later than the horizon is re-emitted: at 100 TB the horizon is
    the dedup SLA, and the batch exact_dedup over the sink is the
    reconciliation path.
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def stream_curate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ts_col: str = "ts",
    min_quality: float = 0.3,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming ingest curation: stateless quality gate + fingerprint per
    micro-batch, then watermarked first-arrival dedup — the ingest-time
    shape of operators/textops.py:curate_corpus. The stateless signals
    compose identically on a stream; the dedup is the part whose semantics
    change (first arrival wins within the watermark horizon, with batch
    exact_dedup over the sink as the reconciliation path)."""
    from ..functions.text import fingerprint
    from ..operators.textops import quality_expr

    sig = df.select(
        F.col(id_col),
        F.col(ts_col),
        quality_expr(F.col(text_col)).alias("quality"),
        fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    kept = sig.filter(F.col("quality") >= min_quality)
    return stream_dedup(kept, ["fingerprint"], ts_col=ts_col, watermark=watermark)


def stream_neardup_probe(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> None:
    """Streaming ingest-time near-dup detection — the streaming twin of the
    L50 incremental LSH probe (operators/dedup.minhash_lsh_probe): each
    micro-batch signs ONLY its own documents, probes the PERSISTED
    signature/band index at `index_dir`, writes its match pairs to
    `out_dir/batch=<id>`, and appends its own signatures and band rows to
    the index — so the next batch also near-dups against THIS one. The
    production corpus-ingest shape: per-batch cost ∝ batch size, the
    corpus is never re-signed, and the growing index is the same layout a
    batch backfill would build (minhash_signatures → banded_signatures).

    Layout: `index_dir/sigs/b<id>/` (doc, signature) and
    `index_dir/bands/b<id>/` (doc, band, bkey) parquet, one subdir per
    batch, read back through `read_index_layout`. Batch-retry semantics:
    EVERY write a batch performs is an overwrite of a batch-keyed location
    — the pairs output (out_dir/batch=<id>) AND the index subdirs — so a
    checkpoint replay after a crash between writes rewrites exactly the
    same state instead of appending duplicate sig rows. A replayed batch
    probes an index that already contains its own rows under b<batch_id>/
    (written by the crashed attempt); the probe leaves that dir out of its
    read, so the replay sees exactly the index state the original attempt
    saw and emits the IDENTICAL pair set — not a superset with extra
    intra-batch pairs. Re-ingested doc ids pair normally against their
    older index entries; exact self-matches are dropped inside
    minhash_lsh_probe. Seed the index by writing the existing corpus's
    signatures/bands to `index_dir/{sigs,bands}/seed/` before starting the
    stream (tests do exactly that).

    Each micro-batch runs `neardup_step`; the `minhash_index_probe` row
    runs it for batch 0 and its probe, `neardup_batch_probe`, for batch 1.
    """
    _drain(docs_stream, checkpoint_dir, partial(
        neardup_step, index_dir=index_dir, out_dir=out_dir, text_col=text_col, id_col=id_col,
        k=k, bands=bands, threshold=threshold, hash_fn=hash_fn,
    ))


def neardup_batch_probe(
    bdf: DataFrame, batch_id: int, index_dir: str, *, text_col: str, id_col: str, k: int,
    bands: int, threshold: float, hash_fn: str, sigs: DataFrame | None = None,
) -> DataFrame:
    """(new_id, corpus_id, est_jaccard) pairs of one micro-batch against the
    sigs/bands index without its own b<batch_id>/ dir; `sigs`: the batch's
    signatures if the caller holds them (minhash_lsh_probe's `new_sigs`)."""
    from ..operators.dedup import minhash_lsh_probe

    spark = bdf.sparkSession
    return minhash_lsh_probe(
        bdf, read_index_layout(spark, index_dir, "sigs", batch_id),
        text_col, id_col, k, bands, threshold, hash_fn,
        corpus_banded=read_index_layout(spark, index_dir, "bands", batch_id),
        new_sigs=sigs,
    )


def neardup_step(
    bdf: DataFrame, batch_id: int, index_dir: str, out_dir: str, *, text_col: str, id_col: str,
    k: int, bands: int, threshold: float, hash_fn: str,
) -> None:
    """One micro-batch of `stream_neardup_probe`: sign the batch, write its
    `neardup_batch_probe` pairs to `out_dir/batch=<batch_id>`, then append
    the batch's sigs and bands."""
    from ..operators.dedup import banded_signatures, checkpointed_signatures

    # the pairs write below fills it; the index writes re-read it
    sigs = checkpointed_signatures(bdf, text_col, id_col, k, hash_fn)
    neardup_batch_probe(
        bdf, batch_id, index_dir, text_col=text_col, id_col=id_col, k=k,
        bands=bands, threshold=threshold, hash_fn=hash_fn, sigs=sigs,
    ).write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
    _write_index_batch(sigs, index_dir, "sigs", batch_id)
    _write_index_batch(banded_signatures(sigs, bands), index_dir, "bands", batch_id)


def _drain(stream: DataFrame, checkpoint_dir: str, step) -> None:
    """Run `step(batch_df, batch_id)` on every micro-batch of `stream` that
    is available now, tracking progress in `checkpoint_dir`, and wait for
    it to finish (test/backfill harness; on a cluster drop the trigger for
    continuous micro-batches)."""
    (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


STATE_SCHEMA = StructType(
    [
        StructField("n_messages", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_messages", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", TimestampType()),
        StructField("last_event_type", StringType()),
    ]
)


def _update_user_state(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Bounded per-user accumulator: count + sum + latest event. O(1) state
    per key — the reference's unbounded history list, made safe."""
    (user_id,) = key
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    last_ts, last_type = None, None
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_ts = pdf["ts"].iloc[-1]
        last_type = pdf["event_type"].iloc[-1]
    state.update((n, total))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_messages": n,
                "total_value": round(total, 2),
                "last_ts": last_ts,
                "last_event_type": last_type,
            }
        ]
    )


def user_running_state(df: DataFrame) -> DataFrame:
    """applyInPandasWithState over user_id: emits one updated summary row
    per user per micro-batch (conversation-state analog, main.py:571-597)."""
    return (
        df.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=RUNNING_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drain a stream with trigger=availableNow into a memory sink; returns
    the result as a batch DataFrame (test/verification harness)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def run_idempotent_file_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    dedup_keys: Iterable[str] | None = None,
) -> None:
    """Exactly-once file sink via foreachBatch: each micro-batch lands in
    its own `batch=<id>` directory with mode=overwrite, so a RETRIED batch
    (failure after write, before the checkpoint commit) overwrites its own
    partial output instead of appending duplicates — idempotent writes +
    the streaming checkpoint's exactly-once batch tracking give end-to-end
    exactly-once file output without a transactional table format. With
    `dedup_keys`, each batch is also first-arrival deduped WITHIN the batch
    (cross-batch dedup belongs upstream in `stream_dedup`, where watermarks
    bound the state).

    The reference's append loop commits every row individually
    (backend/main.py:560-567) and re-sends on reconnect — this is the
    replayable, batch-atomic version of that sink. Drains with
    trigger=availableNow (test/backfill harness; on a cluster drop the
    trigger for continuous micro-batches).
    """
    keys = list(dedup_keys) if dedup_keys else None

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        out = bdf.dropDuplicates(keys) if keys else bdf
        out.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    _drain(stream_df, checkpoint_dir, write_batch)


def stream_enrich(
    stream: DataFrame,
    dim: DataFrame,
    keys: Iterable[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to every
    streaming event — the lookup shape of every ingest pipeline (event →
    user profile, doc → source metadata). The static side is re-evaluated
    per MICRO-BATCH (Spark's stream-static join contract), so a dimension
    refreshed on disk between batches is picked up without restarting the
    query — slowly-changing enrichment for free; the broadcast hint keeps
    each micro-batch a map-side hash join, no stream-side shuffle.

    Stateless (no watermark needed): each event joins the dimension AS OF
    its own micro-batch, nothing is buffered. `how` is 'inner' or 'left'
    ('left' keeps events whose key has no dimension row — NULL-padded, the
    honest default for late-arriving dimension data); right/full are
    rejected — they would need the full stream history on the static side.

    Works identically on batch frames (the unified-model oracle the tests
    diff against).
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"stream_enrich: how must be 'inner' or 'left', got {how!r} — "
            f"right/full outer would require unbounded stream history"
        )
    return stream.join(F.broadcast(dim), list(keys), how)


def stream_token_divergence(
    docs_stream: DataFrame,
    baseline_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    group_col: str = "source",
) -> None:
    """Streaming corpus-drift monitor — the streaming twin of
    operators/textops.token_divergence: each micro-batch scores its groups'
    unigram distributions against a STATIC baseline corpus distribution
    (the stream_enrich shape: the static side is re-read/re-aggregated per
    batch, i.e. free slowly-changing-baseline semantics) and writes
    (source, n_tokens, vocab, js_divergence) to `out_dir/batch=<id>`.

    Stateless per batch + batch-keyed overwrite ⇒ checkpoint replay
    rewrites identical output (trivially exactly-once — no cross-batch
    state to reconcile, unlike stream_neardup_probe's growing index). At
    100 TB-ingest scale per-batch cost ∝ batch tokens + baseline vocab;
    the baseline aggregate is the candidate to pre-compute and broadcast
    if re-aggregating it per batch ever dominates.

    Parity (pinned in tests): when each group arrives wholly within one
    micro-batch and `baseline_df` is the full corpus, the union of batch
    outputs equals the batch operator's self-baseline rows exactly.
    """
    from ..operators.textops import token_divergence

    def drift_batch(bdf: DataFrame, batch_id: int) -> None:
        out = token_divergence(bdf, text_col, group_col, baseline_df=baseline_df)
        out.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    _drain(docs_stream, checkpoint_dir, drift_batch)


def stream_dsir_score(
    docs_stream: DataFrame,
    ratios_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> None:
    """Streaming DSIR scoring — the streaming twin of
    operators/textops.dsir_score: each micro-batch of incoming documents is
    scored against a STATIC fitted bucket log-ratio table
    (dsir_bucket_ratios over the reference target/raw corpora — fit once,
    score forever: the ingest-time "is this crawl target-like?" gate) and
    writes (doc_id, n_bigrams, dsir_logw) to `out_dir/batch=<id>`.

    Stateless per batch + batch-keyed overwrite ⇒ checkpoint replay
    rewrites identical output (trivially exactly-once, the
    stream_token_divergence shape — no cross-batch state). dsir_score is
    map-only per doc plus one broadcast join on the B-row model, so the
    output is batch-boundary-FREE: the union of micro-batch outputs equals
    the batch operator on the union, row for row (pinned in tests). At
    100 TB-ingest scale per-batch cost ∝ batch bigrams; the model rides
    along as a broadcast of O(buckets) rows.
    """
    from ..operators.textops import dsir_score

    def score_batch(bdf: DataFrame, batch_id: int) -> None:
        out = dsir_score(bdf, text_col, id_col, ratios_df, buckets)
        out.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    _drain(docs_stream, checkpoint_dir, score_batch)


def stream_semdedup_probe(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    centroids: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    embedder=None,
) -> None:
    """Streaming ingest-time SEMANTIC near-dup detection — the embedding
    twin of stream_neardup_probe (which catches shared n-grams; this
    catches paraphrases/re-encodes via cosine): each micro-batch embeds
    ONLY its own documents (Arrow-batched HashEmbedder by default — swap a
    provider via `embedder`), assigns them to IVF cells over the FIXED
    `centroids` (fit once on the seed corpus — drifting centroids would
    silently re-shard the index), probes the PERSISTED per-cell vector
    index `index_dir/vecs/`, writes match pairs to `out_dir/batch=<id>`,
    and appends its own (doc, vec, cell) rows under
    `index_dir/vecs/b<batch_id>` — so the next batch near-dups against
    THIS one. Per-batch cost ∝ batch size × its cells' population; the
    corpus is never re-embedded, and compact_index rewrites seed/
    partitioned by cell, so a batch reads only its own cells' files.

    Crash-replay exactness (the stream_neardup_probe contract): every
    write is a batch-keyed overwrite, and the probe leaves the crashed
    attempt's b<batch_id>/ dir out of its read; exact self-matches are
    dropped inside embedding_index_probe. Seed the index by writing the
    existing corpus's `vecs_index_rows` to `index_dir/vecs/seed/` before
    starting the stream. Each micro-batch runs `semdedup_step`; the
    `semdedup_index_probe` row runs it for batch 0 and its probe,
    `semdedup_batch_probe`, for batch 1."""
    _drain(docs_stream, checkpoint_dir, partial(
        semdedup_step, index_dir=index_dir, out_dir=out_dir, centroids=centroids,
        text_col=text_col, id_col=id_col, threshold=threshold, embedder=embedder,
    ))


def doc_vecs(df: DataFrame, *, text_col: str, id_col: str, embedder) -> DataFrame:
    """(doc, vec) rows of the documents that embed to a non-null vector."""
    return df.select(
        F.col(id_col).alias("doc"), embed(F.col(text_col), embedder).alias("vec")
    ).filter(F.col("vec").isNotNull())


def vecs_index_rows(vecs: DataFrame, centroids: list) -> DataFrame:
    """The `vecs` layout's rows for (doc, vec) rows: (doc, vec, cell,
    _norm), cell being the nearest of the FIXED `centroids`. `_norm` rides
    the layout, so probes of the grown index read it instead of re-folding
    norm(vec) per corpus row; seeds written before the column existed are
    coalesce-guarded inside embedding_index_probe."""
    from ..functions.vector import norm
    from ..operators.vector import with_ivf_cell

    return (
        with_ivf_cell(vecs, "vec", centroids)
        .withColumnRenamed("ivf_cell", "cell")
        .withColumn("_norm", norm(F.col("vec")))
    )


def semdedup_batch_probe(
    vecs: DataFrame, batch_id: int, index_dir: str, *, threshold: float
) -> DataFrame:
    """(new_id, corpus_id, cos_sim) pairs of a micro-batch's `vecs_index_rows`
    against the vecs index without its own b<batch_id>/ dir."""
    from ..operators.vector import embedding_index_probe

    corpus = read_index_layout(vecs.sparkSession, index_dir, "vecs", batch_id)
    return embedding_index_probe(vecs, corpus, "vec", "doc", threshold)


def semdedup_step(
    bdf: DataFrame, batch_id: int, index_dir: str, out_dir: str, *, centroids: list,
    text_col: str, id_col: str, threshold: float, embedder,
) -> None:
    """One micro-batch of `stream_semdedup_probe`: embed and assign the
    batch, write its `semdedup_batch_probe` pairs to
    `out_dir/batch=<batch_id>`, then append the batch's vecs rows."""
    # embedded once: the pairs write fills it, the index write re-reads it
    vecs = doc_vecs(bdf, text_col=text_col, id_col=id_col, embedder=embedder)
    vecs = materialize(vecs_index_rows(vecs, centroids), lazy=True)
    pairs = semdedup_batch_probe(vecs, batch_id, index_dir, threshold=threshold)
    pairs.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
    _write_index_batch(vecs, index_dir, "vecs", batch_id)


def stream_dup_spans(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> None:
    """Streaming ingest-time SPAN dedup — the ExactSubstr gate as the 13th
    streaming surface (the stream_neardup_probe contract, n-gram-index
    flavor): each micro-batch hashes its own k-grams, flags every
    position whose gram exists in the PERSISTED distinct-gram index
    `index_dir/grams/`, merges flagged positions into maximal spans
    (`dup_spans_batch_probe`), writes spans to
    `out_dir/batch=<id>`, and appends its own DISTINCT gram hashes under
    `index_dir/grams/b<batch_id>` — so the next batch's spans see THIS
    batch's content. Per-batch cost ∝ batch grams (one semi join against
    the index); the index stores one slim bigint per distinct gram, and
    compact_index(..., subdirs=("grams",)) folds the per-batch dirs into
    seed/ like the MinHash and semantic layouts.

    Crash-replay exactness: batch-keyed overwrites + the probe leaves the
    crashed attempt's b<batch_id>/ dir out of its read (never an
    anti-join on content). Seed by writing the existing corpus's distinct
    gram hashes to `index_dir/grams/seed/`; an UNSEEDED stream is also
    valid (ADVICE r9) — `read_index_layout` reads a missing/empty grams/
    layout as an empty index instead of throwing on batch 0, so a
    brand-new corpus can start from its own first micro-batch. Appends
    are anti-joined against the probed index (ADVICE r9): only hashes
    the index has never seen land in b<batch_id>/, so the index stays
    near-distinct online (grows with NEW grams, not batch grams) and
    replay-exact — the anti-join reads the same index state the crashed
    attempt did (own-b-dir excluded). compact_index's grams-layout
    distinct() heals the residue. Each micro-batch runs `dup_spans_step`;
    the `ngram_index_probe` row runs it for batch 0 and its probe,
    `dup_spans_batch_probe`, for batch 1."""
    _drain(docs_stream, checkpoint_dir, partial(
        dup_spans_step, index_dir=index_dir, out_dir=out_dir, text_col=text_col, id_col=id_col, k=k
    ))


def dup_spans_batch_probe(
    grams: DataFrame, batch_id: int, index_dir: str, *, id_col: str, k: int
) -> DataFrame:
    """Maximal duplicated spans of a micro-batch's `span_grams` rows: its
    positions whose gram is in the index without its own b<batch_id>/ dir."""
    from ..operators.dedup import merge_flagged_spans

    corpus = read_index_layout(grams.sparkSession, index_dir, "grams", batch_id)
    return merge_flagged_spans(grams.join(corpus.select("h"), "h", "left_semi"), id_col, k)


def dup_spans_step(
    bdf: DataFrame, batch_id: int, index_dir: str, out_dir: str, *, text_col: str, id_col: str,
    k: int,
) -> None:
    """One micro-batch of `stream_dup_spans`: write the batch's
    `dup_spans_batch_probe` spans to `out_dir/batch=<batch_id>`, then
    append the batch's grams the index (without b<batch_id>/) has not
    seen."""
    from ..operators.dedup import span_grams

    # hashed once: the spans write fills it, the index append re-reads it
    grams = materialize(span_grams(bdf, text_col, id_col, k), lazy=True)
    spans = dup_spans_batch_probe(grams, batch_id, index_dir, id_col=id_col, k=k)
    spans.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
    corpus = read_index_layout(bdf.sparkSession, index_dir, "grams", batch_id)
    _write_index_batch(
        grams.select("h").distinct().join(corpus.select("h"), "h", "left_anti"),
        index_dir, "grams", batch_id,
    )


class _Layout(NamedTuple):
    """How one ingest-index layout under `index_dir` is stored."""

    # blocking key compact_index partitions seed/ by, so a probe joining on
    # it reads only its own keys' directories; sigs join on doc id and grams
    # on the hash itself, so neither is partitioned
    key: str | None = None
    # a SET probed by left_semi: compaction dedups it (the per-doc layouts
    # keep row multiplicity)
    is_set: bool = False
    # schema an unseeded layout reads as; None: it must be seeded first
    empty: str | None = None


_LAYOUTS = {
    "sigs": _Layout(),
    "bands": _Layout(key="band"),
    "vecs": _Layout(key="cell"),
    "grams": _Layout(is_set=True, empty="h bigint"),
    "lsh": _Layout(key="lsh_bucket"),
}


def _manifest_write(fs, jvm, path: str, names: list[str]) -> None:
    """Write the folded-dir manifest (one name per line) via the Hadoop FS
    API. writeUTF caps a chunk at 64 KB, so the blob is chunked: readInt
    chunk-count, then that many readUTF strings — deterministic read-back
    with no EOF probing."""
    blob = "\n".join(names)
    chunks = [blob[i : i + 15000] for i in range(0, len(blob), 15000)] or [""]
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    out.writeInt(len(chunks))
    for c in chunks:
        out.writeUTF(c)
    out.close()


def _manifest_read(fs, jvm, path: str) -> list[str]:
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    blob = "".join(stream.readUTF() for _ in range(stream.readInt()))
    stream.close()
    return [n for n in blob.split("\n") if n]


def read_index_layout(
    spark: SparkSession, index_dir: str, layout: str, exclude_batch: int | None = None
) -> DataFrame:
    """Read one ingest-index layout (seed/ plus its per-batch b<id>/ dirs)
    as one DataFrame; the only reader of an index layout.

    A compacted seed/ stores its blocking key as a directory column, so it
    is read with seed/ as the base path (partition discovery), while b-dirs
    store the key as a data column; `unionByName` stitches the two physical
    layouts into one logical table. A raw `{layout}/*` glob cannot mix them
    (CONFLICTING_DIRECTORY_STRUCTURES once a batch lands after a
    compaction).

    `exclude_batch` gives a replayed micro-batch the index state its first
    attempt saw: the crashed attempt may already have written the batch's
    own rows under b<exclude_batch>/, so that dir is not listed. The
    exclusion is by path, never by doc id (ADVICE r7): a doc-id anti-join
    would also drop a re-ingested doc id's OLDER corpus entries, losing
    every cross pair between the rest of the batch and them.

    A layout with neither seed/ nor b-dirs reads as its empty schema where
    `_LAYOUTS` gives one (grams: a brand-new corpus starts from its own
    first micro-batch, ADVICE r9) and raises FileNotFoundError otherwise."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    root = hpath(f"{index_dir}/{layout}")
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    names = (
        [st.getPath().getName() for st in fs.listStatus(root) if st.isDirectory()]
        if fs.exists(root)
        else []
    )
    skip = None if exclude_batch is None else f"b{exclude_batch}"
    batches = sorted(f"{index_dir}/{layout}/{n}" for n in names if n.startswith("b") and n != skip)
    parts = [spark.read.parquet(f"{index_dir}/{layout}/seed")] if "seed" in names else []
    if batches:
        parts.append(spark.read.parquet(*batches))
    if not parts:
        if _LAYOUTS[layout].empty is None:
            raise FileNotFoundError(f"no seed/ or b*/ dirs under {index_dir}/{layout}")
        return spark.createDataFrame([], _LAYOUTS[layout].empty)
    # missing columns read as null: a vecs seed written before the layout
    # carried `_norm` still unions with newer batch dirs
    # (embedding_index_probe coalesce-guards the nulls)
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1], allowMissingColumns=True)


def _write_index_batch(df: DataFrame, index_dir: str, layout: str, batch_id: int) -> None:
    """Write one micro-batch's rows to `{layout}/b<batch_id>/`, the only
    writer of a batch dir. It overwrites, so a replayed batch rewrites its
    own dir instead of appending duplicate rows that would fan out every
    later probe. A batch dir is micro-batch sized, so it is one file and the
    layout does not gain a shuffle-partition count of tiny files per batch:
    repartition(1), never coalesce(1), which would narrow the computation
    behind the write to one core; the exchange keeps it parallel."""
    df.repartition(1).write.mode("overwrite").parquet(f"{index_dir}/{layout}/b{batch_id}")


def compact_index(
    spark: SparkSession, index_dir: str, subdirs: tuple[str, ...] = tuple(_LAYOUTS)
) -> dict:
    """Ingest-index maintenance: fold the accumulated per-batch b<id>/
    subdirs into the corpus-scale seed/ — the compaction step every growing
    index needs (a year of micro-batches is a year of tiny subdirs: the
    file-listing cost grows linearly with batch COUNT even though the data
    doesn't). For each existing layout subdir: read seed/ plus every b<id>/
    through `read_index_layout`, rewrite the union to a temp dir
    partitioned by the layout's blocking key (`_LAYOUTS`: bands by band,
    vecs by cell, lsh by lsh_bucket; sigs and grams flat; grams deduped),
    SWAP it into place, then drop the folded sources. The union is
    rebalanced on the key first (one shuffle per compaction), so a
    seed/<key>=K/ directory holds one file unless K's rows exceed AQE's
    advisory partition size (spark.sql.adaptive.advisoryPartitionSizeInBytes),
    which splits them over several write tasks. A filter on the key
    prunes to its seed/<key>=K/ directories (pinned in tests), and since
    the probe side of an index join is a micro-batch (small → broadcast),
    dynamic partition pruning can skip the directories its batch never
    touches instead of scanning the whole corpus index.

    Crash-safe by rename-before-delete (ADVICE r8): the swap order is
    write tmp (with a `_FOLDED` manifest naming the b-dirs it absorbed) →
    rename seed → seed_old → rename tmp → seed → delete seed_old + exactly
    the manifested b-dirs. Every crash window leaves a full copy on disk
    and a recoverable marker; the next run auto-recovers instead of
    re-reading a partial union and overwriting the only copy:
      * tmp + seed both exist   → crash before the swap: sources are
        intact, tmp is a stale snapshot — drop tmp, recompact fresh.
      * tmp exists, seed absent → crash mid-swap: finish it (tmp holds the
        full union; rename to seed, clean up via its manifest).
      * seed_old exists, no tmp → crash after the swap: seed is complete —
        delete seed_old and the b-dirs named in seed/_FOLDED.
    The `_FOLDED` manifest is why cleanup never guesses: b-dirs written by
    a stream that resumed AFTER the crash are not in it and survive to the
    next compaction. (`_`-prefixed files are invisible to parquet reads.)

    Probe-equivalence is exact BY CONSTRUCTION — probes read the layout
    through `read_index_layout`, and compaction only moves rows between the
    dirs it lists (pinned in tests: identical pair sets before/after). Run
    it BETWEEN stream restarts (it deletes locations an in-flight batch may
    treat as its own b<batch_id> overwrite target).

    Returns {subdir: n_batch_dirs_folded}. Local/HDFS-style dirs via the
    Hadoop FileSystem API — works on any Spark-supported filesystem.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    folded: dict[str, int] = {}
    for layout in subdirs:
        root = hpath(f"{index_dir}/{layout}")
        fs = root.getFileSystem(conf)
        if not fs.exists(root):
            continue
        seed = hpath(f"{index_dir}/{layout}/seed")
        tmp = hpath(f"{index_dir}/{layout}__compact_tmp")
        seed_old = hpath(f"{index_dir}/{layout}__seed_old")
        manifest = f"{index_dir}/{layout}/seed/_FOLDED"

        # --- recovery: resolve any crash marker before compacting ---
        if fs.exists(tmp):
            if fs.exists(hpath(f"{str(tmp)}/_FOLDED")) and not fs.exists(seed):
                # crashed mid-swap: tmp IS the full union — finish the swap
                fs.rename(tmp, seed)
            else:
                # crashed before the swap (or mid-tmp-write): sources
                # intact (seed, or seed_old rolled back below) — drop the
                # stale snapshot and recompact fresh
                fs.delete(tmp, True)
        if fs.exists(seed_old):
            if not fs.exists(seed):
                # swap aborted before tmp landed: roll the old seed back
                fs.rename(seed_old, seed)
            else:
                # crashed after the swap, before cleanup: seed is complete
                if fs.exists(hpath(manifest)):
                    for name in _manifest_read(fs, jvm, manifest):
                        fs.delete(hpath(f"{index_dir}/{layout}/{name}"), True)
                    fs.delete(hpath(manifest), False)
                fs.delete(seed_old, True)
        elif fs.exists(hpath(manifest)):
            # lingering manifest with NO seed_old (ADVICE r9): the layout's
            # FIRST compaction had no prior seed/ to rename aside, so a
            # crash after rename(tmp, seed) but before cleanup leaves only
            # seed/_FOLDED + the absorbed b-dirs — which the next union
            # would double-count. seed already holds every manifested row:
            # finish the manifested cleanup. (A completed compaction always
            # deletes the manifest, so its presence here IS the crash
            # marker; b-dirs written by a stream that resumed after the
            # crash are not named in it and survive.)
            for name in _manifest_read(fs, jvm, manifest):
                fs.delete(hpath(f"{index_dir}/{layout}/{name}"), True)
            fs.delete(hpath(manifest), False)

        batch_dirs = [
            st.getPath().getName()
            for st in fs.listStatus(root)
            if st.isDirectory() and st.getPath().getName().startswith("b")
        ]
        if not batch_dirs:
            folded[layout] = 0
            continue

        spec = _LAYOUTS[layout]
        union = read_index_layout(spark, index_dir, layout)
        if spec.is_set:
            # per-batch appends are only batch-distinct (ADVICE r9), so
            # hashes shared with the seed/earlier batches would otherwise
            # accumulate — correct for the probe, superlinear for the index
            union = union.distinct()
        if spec.key:
            # rebalance on the key: a key's rows meet in one write task (one
            # file per seed/<key>=K/ dir, not one per task that held rows of
            # K), while AQE splits a key larger than the advisory partition
            # size over several tasks, so a hot key or a layout with few
            # keys (bands: 16) still writes in parallel
            writer = union.hint("rebalance", spec.key).write.partitionBy(spec.key)
            writer.mode("overwrite").parquet(str(tmp))
        else:
            union.write.mode("overwrite").parquet(str(tmp))
        _manifest_write(fs, jvm, f"{str(tmp)}/_FOLDED", batch_dirs)
        # --- swap: rename before delete; a crash anywhere is recoverable ---
        if fs.exists(seed):
            fs.rename(seed, seed_old)
        fs.rename(tmp, seed)
        for name in batch_dirs:
            fs.delete(hpath(f"{index_dir}/{layout}/{name}"), True)
        fs.delete(seed_old, True)
        fs.delete(hpath(manifest), False)
        folded[layout] = len(batch_dirs)
    return folded


def stream_correlate(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "1 day",
    within: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join: pair each left event with the SAME key's
    right events landing in (left.ts, left.ts + within] — click→purchase /
    alert→ack correlation. The time bound is MANDATORY state hygiene, not a
    semantic nicety: with watermarks on both inputs plus a range condition
    on both event times, Spark can evict buffered rows once the other
    side's watermark passes their match horizon, so join state is
    O(key-rate × within), independent of stream length. A stream-stream
    join without both constraints buffers forever.

    Half-open (strictly after, inclusive end) so an event never correlates
    with itself when both streams tap the same source. Works identically
    in batch mode (the unified-model oracle the tests diff against).
    """
    lhs = left.withWatermark(ts_col, watermark).alias("l")
    rhs = right.withWatermark(ts_col, watermark).alias("r")
    lt, rt = F.col(f"l.{ts_col}"), F.col(f"r.{ts_col}")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (rt > lt)
        & (rt <= lt + F.expr(f"INTERVAL {within}"))
    )
    return lhs.join(rhs, cond).select(
        F.col(f"l.{key_col}").alias(key_col),
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        lt.alias("left_ts"),
        rt.alias("right_ts"),
    )


def _cdc_version_dir(
    spark: SparkSession, snapshot_dir: str, before: int | None = None
) -> str:
    """Latest COMMITTED snapshot version directory: the max integer
    `v=<batch_id>` that contains a `_SUCCESS` marker (strictly below
    `before` when given, so a RETRIED batch re-derives from its
    predecessor, never from its own partial output), falling back to the
    seeded `v=base`.

    Listing goes through the Hadoop FileSystem for `snapshot_dir`'s scheme
    (works on s3a://, hdfs://, file:..., not just the driver-local
    filesystem), only fully-numeric `v=N` suffixes count as versions (a
    stray `v=tmp` dir is ignored rather than crashing int()), and a dir
    without `_SUCCESS` — a mid-write crash — is skipped, matching the
    'latest committed version' contract (ADVICE r4)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(snapshot_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    versions = []
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if not name.startswith("v="):
            continue
        suffix = name.split("=", 1)[1]
        if not suffix.isdigit():
            continue  # v=base seed and any unexpected v=* entry
        v = int(suffix)
        if before is not None and v >= before:
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
            versions.append(v)
    return f"{snapshot_dir}/v={max(versions)}" if versions else f"{snapshot_dir}/v=base"


def stream_apply_cdc(
    changes_stream: DataFrame,
    base: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    keys: Iterable[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> None:
    """Streaming snapshot maintenance: fold a CDC changelog stream into a
    continuously-current table via foreachBatch + the batch `cdc_apply`
    operator (L61) — the streaming half of the corpus_diff → cdc_apply
    incremental-ingest story. Each micro-batch writes a NEW immutable
    snapshot version `v=<batch_id>` computed as
    cdc_apply(previous version, batch); `read_cdc_snapshot` reads the
    latest. Versioned dirs + overwrite give batch-retry idempotence
    exactly like `run_idempotent_file_sink` (a replayed batch rebuilds
    from its predecessor and overwrites only its own version), and old
    versions double as time travel — production would retire them on a
    retention schedule, exactly what table formats (Delta/Iceberg)
    automate; the mechanism, not the format, is the point here.

    Within one micro-batch, per-key latest-seq wins (cdc_apply's window);
    ACROSS batches, later batches see the folded result of earlier ones —
    so the (keys, seq) uniqueness contract only needs to hold per batch.
    Drains with trigger=availableNow (test/backfill harness; drop the
    trigger on a cluster for continuous maintenance).
    """
    from ..operators.relational import cdc_apply

    key_list = list(keys)
    base.write.mode("overwrite").parquet(f"{snapshot_dir}/v=base")

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        prev = spark.read.parquet(_cdc_version_dir(spark, snapshot_dir, before=batch_id))
        out = cdc_apply(prev, bdf, key_list, seq_col, op_col)
        out.write.mode("overwrite").parquet(f"{snapshot_dir}/v={batch_id}")

    _drain(changes_stream, checkpoint_dir, apply_batch)


def read_cdc_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """The current table maintained by `stream_apply_cdc` (max version)."""
    return spark.read.parquet(_cdc_version_dir(spark, snapshot_dir))


def stream_lsh_layout(
    vec_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    vec_col: str = "vec",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
) -> None:
    """Ingest-time maintenance of the partition-prunable LSH table layout
    — the 14th streaming surface (VERDICT r9 #6 carried into the
    streaming contract): each micro-batch computes its rows' bucket ids
    (pure row-local integer-plane arithmetic — no corpus state, so
    batches never read each other or any index) and overwrites the
    EXPLODED (row, lsh_bucket) rows to `{index_dir}/lsh/b<batch_id>`.
    Batch dirs store lsh_bucket as a DATA column (micro-batch-sized —
    probes scan them whole, the bands/cells convention);
    `compact_index(..., subdirs=("lsh",))` folds them into a seed/
    PARTITIONED by the bucket, so the corpus-scale side of every probe
    partition-prunes to its multi-probed buckets' directories while
    only the slim fresh batch dirs are scanned whole. Probe via
    `read_index_layout(spark, index_dir, "lsh")` + an isin(bucket)
    filter + per-id dropDuplicates — pinned identical to the in-memory
    `lsh_candidates` in tests/test_streaming.py.

    Crash-replay exactness is trivial here: the write is a batch-keyed
    overwrite of a PURE function of the batch (no read-your-own-index
    hazard, unlike the gram/minhash gates). Each micro-batch runs
    `lsh_layout_step`, which the `lsh_index_probe` registry row also runs
    for its two batches; seeds are written from `lsh_index_rows`."""
    _drain(vec_stream, checkpoint_dir, partial(
        lsh_layout_step, index_dir=index_dir, vec_col=vec_col, dim=dim, n_planes=n_planes,
        n_tables=n_tables,
    ))


def lsh_index_rows(
    df: DataFrame, *, vec_col: str, dim: int, n_planes: int, n_tables: int
) -> DataFrame:
    """The `lsh` layout's rows for `df`: one row per (row, lsh_bucket) for
    every row with a non-null `vec_col`, `df`'s columns kept."""
    from ..operators.vector import with_lsh_buckets

    return (
        with_lsh_buckets(df.filter(F.col(vec_col).isNotNull()), vec_col, dim, n_planes, n_tables)
        .withColumn("lsh_bucket", F.explode("lsh_buckets"))
        .drop("lsh_buckets")
    )


def lsh_layout_step(
    bdf: DataFrame, batch_id: int, index_dir: str, *, vec_col: str, dim: int, n_planes: int,
    n_tables: int,
) -> None:
    """One micro-batch of `stream_lsh_layout`: write the batch's
    `lsh_index_rows` to `lsh/b<batch_id>/` (no output dir: the layout is
    the product)."""
    _write_index_batch(
        lsh_index_rows(bdf, vec_col=vec_col, dim=dim, n_planes=n_planes, n_tables=n_tables),
        index_dir, "lsh", batch_id,
    )
