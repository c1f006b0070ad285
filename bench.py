"""Benchmark the headline declared queries at $SPARK_GRAFT_SF_DIR.

The driver captures only the last ~2,000 chars of stdout, so the FINAL
printed line is a COMPACT summary (asserted < 1,800 chars):
  {"metric": "headline_total_sec", "value": N, "unit": "sec", "sf": 0.1,
   "rows": 90, "queries": {...top slowest only...}, "detail": "BENCH_DETAIL_rNN.json"}
The full per-query timings, spread indicators, extra-bench twins, and
load-average telemetry are written by this script to a committed artifact
`BENCH_DETAIL_r{NN}.json` at the repo root (round inferred from the highest
existing BENCH_r*.json + 1, overridable via $SPARK_GRAFT_ROUND).

`value` sums ONLY the HEADLINE rows — the EXTRA_BENCH hash-family twins are
reported separately (`extra_total_sec` in the detail file), so adding a bench
twin never shifts the headline total across rounds.

Each query is forced end-to-end with the noop sink (full evaluation of every
column — count() alone would let Catalyst prune projections). Session build
and JVM warmup are excluded from per-query timings. Every row also records
its Spark layers (jobs, stages, tasks, shuffle, spill, codegen, build time;
see `measure`), read after its timed runs into the detail file's `layers`.

Row mode, for before/after brackets of a few rows:
    SPARK_GRAFT_SF_DIR=... python bench.py ROW [ROW...]
warms the named rows (REGISTRY or EXTRA_BENCH names) at sf0.001, measures
each and prints one JSON line per row; it writes no detail file, waits for
no idle gate and reruns nothing.
"""

from __future__ import annotations

import functools
import glob
import json
import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.tracing import SparkProbe  # noqa: E402
from team_126_spark.operators import dedup as _D  # noqa: E402
from team_126_spark.queries import REGISTRY  # noqa: E402
from team_126_spark.session import get_spark  # noqa: E402
from team_126_spark.tables import table as _table  # noqa: E402

# idle-gate knobs (VERDICT r9 #8): don't start the timed pass on a busy box
_IDLE_LOAD_GATE = 8.0   # 1-min load average; box has 32 CPUs
_IDLE_MAX_WAIT = 300    # seconds, bounded so an unattended driver never stalls
WARM_DIR = "/root/testdata/sf0.001"


def _simhash_xx(spark, sf_dir):
    return _D.simhash64(_table(spark, sf_dir, "documents"), "text", "doc_id")


def _minhash_lsh_pairs_xx(spark, sf_dir):
    return _D.minhash_lsh_pairs(
        _table(spark, sf_dir, "documents"), "text", "doc_id", k=3, bands=16, threshold=0.3
    )


def _minhash_incremental_xx(spark, sf_dir):
    docs = _table(spark, sf_dir, "documents")
    from pyspark.sql import functions as F

    corpus_sigs = _D.checkpointed_signatures(
        docs.filter(F.col("source") != "src0"), "text", "doc_id", 3, "xxhash64"
    )
    return _D.minhash_lsh_probe(
        docs.filter(F.col("source") == "src0"), corpus_sigs, "text", "doc_id",
        k=3, bands=16, threshold=0.3,
    )


# Production-hash-family twins of the benched sketch rows. The REGISTRY
# versions run hash_fn='md5' so DuckDB can mirror every intermediate (the
# correctness choice); md5 costs 2-5x the xxhash64 default, which made the
# sketch rows read as "regressed" in two straight verdicts. Benching both
# families separates oracle-family CPU from plan cost. NOT registry entries:
# same plan shape as their _md5 twins, no separate correctness claim.
def _bootstrap_ci_xx(spark, sf_dir):
    # Production-family twin of bootstrap_ci (VERDICT r5 #6): identical
    # plan (map-only x32 explode -> partial-agg groupBy -> percentiles),
    # xxhash64 weights instead of md5 — separates hash-CPU from plan cost.
    from pyspark.sql import functions as F

    from team_126_spark.operators import relational as _R

    o = _table(spark, sf_dir, "orders")
    repm = _R.poisson_bootstrap_means(
        o, "o_totalprice", "o_orderkey", replicas=32, hash_fn="xxhash64"
    )
    return repm.agg(
        F.percentile("boot_mean", F.lit([0.025, 0.975])).alias("_p")
    ).select(
        F.round(F.col("_p")[0], 6).alias("ci_lo"),
        F.round(F.col("_p")[1], 6).alias("ci_hi"),
    )


def _lsh_blocking_eval_xx(spark, sf_dir):
    # Production-family twin of lsh_blocking_eval: identical truth join +
    # audit plan, xxhash64 MinHash signatures — separates md5 oracle-CPU
    # from the blocking-audit plan cost.
    return _D.lsh_blocking_eval(
        _table(spark, sf_dir, "documents"), "text", "doc_id",
        k=3, bands=16, thresholds=(0.2, 0.3, 0.5), hash_fn="xxhash64",
        max_rows=None,
    )


def _minhash_index_probe_xx(spark, sf_dir):
    # Production-family twin of minhash_index_probe: identical index-build +
    # two-batch replay plan (parquet writes included), xxhash64 signatures —
    # separates md5 oracle-CPU from the ingest-index plan cost.
    from team_126_spark.queries import _minhash_index_probe_impl

    return _minhash_index_probe_impl(spark, sf_dir, hash_fn="xxhash64")


def _semdedup_select_bk(spark, sf_dir):
    # Standing measurement of the 100 TB SemDeDup recipe (VERDICT r8 #6):
    # n_cells scaled with the corpus (160, cells ~constant size) and the
    # broadcast-table cosine assignment (with_ivf_cell_broadcast, pinned
    # bit-identical to the literal-argmax path). The declared query keeps
    # the small-k literal config the fixture warrants; this row re-measures
    # the flat-scaling claim every round like the _xx hash twins.
    from team_126_spark.operators import vector as _V
    from team_126_spark.queries import _planted_neardup_corpus, load as _load

    corpus = _planted_neardup_corpus(_load(spark, sf_dir, "embeddings"))
    return _V.semdedup(
        corpus, "embedding", "vec_id", n_cells=160, threshold=0.9, assign="broadcast"
    )


EXTRA_BENCH = {
    "simhash_xx": _simhash_xx,
    "minhash_lsh_pairs_xx": _minhash_lsh_pairs_xx,
    "minhash_incremental_xx": _minhash_incremental_xx,
    "bootstrap_ci_xx": _bootstrap_ci_xx,
    "minhash_index_probe_xx": _minhash_index_probe_xx,
    "lsh_blocking_eval_xx": _lsh_blocking_eval_xx,
    "semdedup_select_bk": _semdedup_select_bk,
}

HEADLINE = [
    # relational core
    "agg_pricing_summary",
    "join_fk",
    "join_multi",
    "rule_mining",
    "topk_per_group",
    "latest_per_group",
    "union_dedup",
    "asof_join",
    # geo / vector / hybrid
    "geo_radius_topk",
    "geo_knn_join",
    "vec_knn",
    "hybrid_fusion",
    # training-data pipeline
    "doc_exact_dedup",
    "doc_langid",
    "code_detect",
    "doc_profile",
    "doc_tfidf",
    "minhash_lsh_pairs",
    "dedup_components",
    "simhash",
    "embedding_neardup",
    "decontaminate",
    "doc_chunk",
    "fim_split",
    "corpus_curate",
    "vec_knn_batch",
    "hard_negatives",
    "hard_negatives_scoped",
    "rollup_counts",
    "dedup_select",
    "corpus_mix",
    "quality_gate",
    # time-axis joins
    "interval_join_counts",
    # round-4 additions (L45-L49)
    "gopher_rules",
    "bloom_decontaminate",
    "corpus_resample",
    "ann_quantized",
    "dedup_overlap_matrix",
    "minhash_incremental",
    "minhash_index_probe",
    "temperature_mix",
    "contamination_spans",
    "simhash_pairs",
    "doc_surprisal",
    "ccnet_buckets",
    "segment_dedup",
    "segment_dedup_doc",
    "boilerplate_report",
    "cdc_apply",
    "redact_contamination",
    # scale paths (LSH/IVF/over-fetch variants — regressions here are
    # regressions on the 100 TB story, so they are first-class benched)
    "embedding_neardup_lsh",
    "ann_lsh",
    "ann_ivf",
    "matryoshka_eval",
    "hybrid_fusion_fast",
    "hybrid_fusion_adaptive",
    "geo_knn_join_nested",
    # streaming-shaped
    "tumbling_window",
    "sessionize",
    "schedule_expand",
    "event_correlate",
    # round-5 additions (VERDICT r4 #7: every declared family gets a
    # measured number — the dedup-report, snapshot-diff, entropy, and
    # §2.13 relational families were declared in r4 but unbenched)
    "cluster_size_hist",
    "corpus_diff",
    "doc_entropy",
    "cube_counts",
    "pivot_counts",
    "funnel_counts",
    "time_fill",
    "unpivot_metrics",
    "profile_approx",
    "sketch_rollup",
    "bpe_pair_counts",
    "tokenizer_bpe_train",
    "ngram_diversity",
    "cosine_calibration",
    "contrastive_pairs",
    "hierarchy_resolve",
    "pagerank_topk",
    "inverted_index",
    "skew_report",
    "group_normalize",
    "quantiles_approx",
    "triangle_count",
    "label_propagation",
    "retention_cohorts",
    "attribution",
    "bm25_topk",
    "graph_walks",
    "logreg_train",
    "window_suite",
    "grouping_sets_counts",
    "pmi_cooccur",
    "fuzzy_name_pairs",
    "shortest_paths",
    "group_distinct_approx",
    "name_canonicalize",
    "array_ops_suite",
    "dim_profile",
    "event_anomaly",
    "random_projection",
    "countmin_freq",
    "bootstrap_ci",
    "pca_topcomp",
    # round-7 additions
    "lsh_blocking_eval",
    "ngram_novelty_split",
    "token_divergence",
    "classifier_auc_eval",
    "hybrid_ndcg_eval",
    "classifier_calibration",
    "embedding_isotropy",
    # round-10 additions
    "sft_spans",
    "dedup_consolidate",
    "sequence_mining",
    "sliding_distinct",
    "lsh_index_probe",
    "tokenizer_bpe_apply",
    "edit_distance_dedup",
    "quality_ensemble",
    "zipf_fit",
    "doremi_weights",
    "embedding_outliers",
    "kcenter_select",
    # round-11 additions
    "soft_dedup_weights",
    "tokenizer_fertility",
    "curriculum_order",
    "mmr_select",
    "domain_mix_plan",
    # round-8 additions
    "dsir_weights",
    "dsir_resample",
    "semdedup_select",
    "quality_distill_score",
    "influence_select",
    "cluster_keywords",
    "semdedup_index_probe",
    "winnow_fingerprints",
    "suffix_ngram_dedup",
    "ngram_index_probe",
]


def resolve(name: str):
    """A bench row's query function `fn(spark, sf_dir)`: a REGISTRY query
    or an EXTRA_BENCH twin."""
    return REGISTRY[name].fn if name in REGISTRY else EXTRA_BENCH[name]


def sink(df) -> None:
    """Evaluate every column of `df` into the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def measure(spark, build) -> dict:
    """Build a DataFrame with `build()` and write it to the noop sink three
    times: {median, spread, runs, layers}. The MEDIAN, because the min
    rewards a lucky run and the mean is dragged by one-off JIT/GC/OS stalls;
    the n=3 median damps the box's documented contention noise (SCALING.md)
    that made r02's simhash/minhash rows look regressed. Each run builds
    inside the timer, so build-time jobs (eager checkpoints, driver
    collects) count. `layers` (see `_layers`) is read after the last run."""
    probe = SparkProbe(spark)
    codegen0 = probe.codegen()
    runs, windows = [], []
    for _ in range(3):
        t0 = time.time()
        df = build()
        built = time.time()
        sink(df)
        t1 = time.time()
        runs.append(t1 - t0)
        windows.append((t0, built, t1))
    codegen1 = probe.codegen()
    med = sorted(runs)[1]
    # per-row noise indicator: (max-min)/median. A row with spread > ~1
    # was hit by contention mid-measurement.
    spr = round((max(runs) - min(runs)) / med, 2) if med > 0 else 0.0
    layers = _layers(spark, probe, windows, [b - a for a, b in zip(codegen0, codegen1)])
    return {"median": round(med, 3), "spread": spr, "runs": runs, "layers": layers}


def _layers(spark, probe: SparkProbe, windows, codegen) -> dict[str, float]:
    """Per-run averages over the timed runs `windows` ((start, built, end)
    epoch seconds): Spark jobs, the jobs launched while the DataFrame was
    built, their stages and tasks, shuffle write/read and spill MiB, codegen
    compiles and compile ms (`codegen`: totals over all runs), build s."""
    # the status store is fed asynchronously by the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    # job submission times have millisecond resolution
    spans = [(math.floor(t0 * 1000) / 1000, built, end) for t0, built, end in windows]
    # nothing else runs between the timed runs, so every job in the
    # overall window belongs to one of them
    jobs = probe.jobs(spans[0][0], spans[-1][2])
    build_jobs = [j for j in jobs if any(a <= j["start"] <= b for a, b, _ in spans)]
    st = probe.stage_totals({sid for j in jobs for sid in j["stages"]})
    n, mib = len(windows), 2.0**20
    totals = {
        "jobs": len(jobs),
        "build_jobs": len(build_jobs),
        "stages": st["stages"],
        "tasks": st["tasks_ok"] + st["tasks_failed"],
        "shuffle_write_mb": st["shuffle_write"] / mib,
        "shuffle_read_mb": st["shuffle_read"] / mib,
        "spill_mb": st["spill"] / mib,
        "codegen_compiles": codegen[0],
        "codegen_ms": codegen[1],
        "build_s": sum(b - a for a, b, _ in windows),
    }
    return {k: round(v / n, 3) for k, v in totals.items()}


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    benched = {name: resolve(name) for name in names or HEADLINE + list(EXTRA_BENCH)}
    spark = get_spark("bench")

    # Warm the JVM, whole-stage-codegen compilation, and parquet footers
    # outside the timings: run every benched query shape once at sf0.001
    # (cheap data, identical generated code → compile cache hit), so the
    # timed sf runs measure steady-state execution, not first-run javac/JIT.
    if os.path.isdir(WARM_DIR):
        for fn in benched.values():
            sink(fn(spark, WARM_DIR))
    else:
        # Don't silently warm at full scale (that would run every timed query
        # a hidden third time at benchmark size) — warn and rely on the small
        # generic warmup below.
        print(f"WARNING: warm fixture {WARM_DIR} missing; skipping per-query warm pass", file=sys.stderr)

    if names:
        for name, fn in benched.items():
            rec = measure(spark, functools.partial(fn, spark, sf_dir))
            rec["runs"] = [round(r, 3) for r in rec["runs"]]
            print(json.dumps({"row": name, "sf": sf, **rec}))
        return

    for warm in ("search_filter_limit", "doc_token_count", "vec_threshold", "json_extract"):
        sink(REGISTRY[warm].fn(spark, sf_dir))

    # Bench hygiene (VERDICT r8 #5): the r8 run self-saturated the box
    # toward its tail and drifted the rows measured last, forcing post-hoc
    # re-measures. Measure the HEAVIEST rows FIRST (ordered by the previous
    # round's detail file, unknown rows first at equal footing) so the
    # expensive rows get the freshest box and the cheap tail rows — whose
    # absolute drift is small — absorb the self-load.
    prev = _previous_round_timings()
    benched = dict(
        sorted(benched.items(), key=lambda kv: -prev.get(kv[0], float("inf")))
    )

    # Idle-gate (VERDICT r9 #8): the committed r9 run started at load ~5
    # and flagged two rows it then had to self-adjudicate. Wait (bounded)
    # for the box to drain before the timed pass — measuring on a loaded
    # box is strictly worse than starting late.
    idle_waited = 0
    try:
        while os.getloadavg()[0] > _IDLE_LOAD_GATE and idle_waited < _IDLE_MAX_WAIT:
            print(
                f"idle-gate: load {os.getloadavg()[0]:.1f} > {_IDLE_LOAD_GATE}, "
                f"waiting ({idle_waited}s/{_IDLE_MAX_WAIT}s)",
                file=sys.stderr,
            )
            time.sleep(30)
            idle_waited += 30
    except OSError:  # pragma: no cover
        pass

    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    layers: dict[str, dict] = {}
    for name, fn in benched.items():
        rec = measure(spark, functools.partial(fn, spark, sf_dir))
        timings[name], spread[name], layers[name] = rec["median"], rec["spread"], rec["layers"]
        if spread[name] > 1.0:
            # self-adjudicating contention marker (VERDICT r8 #5): the
            # row's median was measured under shifting load — read it with
            # that in mind before calling it a regression.
            print(
                f"WARN contention: {name} spread={spread[name]} "
                f"runs={[round(r, 2) for r in rec['runs']]} load={os.getloadavg()[0]:.1f}",
                file=sys.stderr,
            )

    # Auto-rerun (VERDICT r9 #8): flagged rows get ONE fresh 3-run
    # measurement at the end of the pass (the box has usually drained by
    # then). The rerun REPLACES the flagged median (and its layers) only if
    # its own spread is clean; both measurements are recorded in the detail
    # file so no number silently disappears.
    reruns: dict[str, dict] = {}
    for name in [n for n, s in spread.items() if s > 1.0]:
        rec = measure(spark, functools.partial(benched[name], spark, sf_dir))
        med2, spr2 = rec["median"], rec["spread"]
        reruns[name] = {
            "first_median": timings[name], "first_spread": spread[name],
            "rerun_median": med2, "rerun_spread": spr2,
            "applied": spr2 <= 1.0,
        }
        if spr2 <= 1.0:
            timings[name], spread[name], layers[name] = med2, spr2, rec["layers"]
            print(
                f"rerun applied: {name} {reruns[name]['first_median']}s "
                f"(spread {reruns[name]['first_spread']}) -> {med2}s "
                f"(spread {spr2})",
                file=sys.stderr,
            )

    # Box-contention telemetry: three straight rounds burned a verdict
    # cycle adjudicating "regressions" that were other tenants on the box
    # (r2 simhash/minhash, r3 embedding_neardup, r4 full-suite-vs-bench
    # overlap). The 1/5/15-minute load averages let the reader see a noisy
    # run for what it is without re-measuring.
    try:
        la1, la5, la15 = (round(x, 2) for x in os.getloadavg())
    except OSError:  # pragma: no cover
        la1 = la5 = la15 = None

    # VERDICT r6 #1: with 90+ benched rows, NO single line containing the
    # full `queries` dict can fit the driver's 2,000-char tail capture — the
    # r5 and r6 formats both lost the record. Structural fix: the full
    # per-query detail goes to a COMMITTED file the judge reads directly,
    # and the final stdout line is a compact summary asserted < 1,800 chars.
    repo_root = os.path.dirname(os.path.abspath(__file__))
    detail, final_line = build_outputs(
        timings, spread, layers, [la1, la5, la15], sf, reruns, idle_waited
    )
    with open(os.path.join(repo_root, detail["detail_file"]), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")
    print(final_line)


def _previous_round_timings() -> dict[str, float]:
    """Per-query medians from the newest committed BENCH_DETAIL_r*.json —
    the heaviest-first measurement order (rows without history sort
    first, so a brand-new query gets a fresh-box measurement too)."""
    repo_root = os.path.dirname(os.path.abspath(__file__))
    best, best_round = {}, -1
    for p in glob.glob(os.path.join(repo_root, "BENCH_DETAIL_r*.json")):
        m = re.match(r"BENCH_DETAIL_r(\d+)\.json$", os.path.basename(p))
        if m and int(m.group(1)) > best_round:
            try:
                with open(p) as f:
                    best, best_round = json.load(f).get("queries", {}), int(m.group(1))
            except (OSError, json.JSONDecodeError):
                continue
    return best


def infer_round() -> int:
    """Round number for the detail-file name: $SPARK_GRAFT_ROUND if set,
    else highest existing BENCH_r*.json + 1 (the driver writes BENCH_r{N}
    AFTER this script runs, so the max present is the previous round)."""
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is not None:
        return int(rnd)
    repo_root = os.path.dirname(os.path.abspath(__file__))
    seen = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo_root, "BENCH_r*.json"))
        if (m := re.match(r"BENCH_r(\d+)\.json$", os.path.basename(p)))
    ]
    return (max(seen) + 1) if seen else 1


def build_outputs(timings, spread, layers, load_avg, sf, reruns=None, idle_waited=0):
    """Build (detail dict, compact final stdout line).

    The final line carries the headline total + the top-10 slowest rows and
    is HARD-ASSERTED < 1,800 chars (driver capture window is 2,000). The
    headline total sums ONLY HEADLINE rows; EXTRA_BENCH twins are totalled
    separately so adding a bench twin never shifts the headline number.
    """
    detail_name = f"BENCH_DETAIL_r{infer_round():02d}.json"
    headline_total = round(sum(timings[n] for n in HEADLINE), 3)
    extra_total = round(sum(timings[n] for n in EXTRA_BENCH if n in timings), 3)
    detail = {
        "metric": "headline_total_sec",
        "value": headline_total,
        "extra_total_sec": extra_total,
        # Basis note (ADVICE r7): before r7 the committed `value` summed
        # HEADLINE + EXTRA_BENCH together; since r7 it is HEADLINE-only.
        # Cross-round readers comparing to pre-r7 records should use
        # total_with_extra_sec (the old basis) to avoid reading the basis
        # change as a performance win.
        "total_with_extra_sec": round(headline_total + extra_total, 3),
        "value_basis": "HEADLINE only since r7; pre-r7 value included EXTRA_BENCH",
        "unit": "sec",
        "sf": sf,
        "rows": len(HEADLINE),
        "queries": timings,
        "spread": spread,
        # per-run Spark counters of each row's timed runs (bench.measure)
        "layers": layers,
        # rows whose three runs spanned > 1.0x their median — measured
        # under shifting load; self-adjudicating (VERDICT r8 #5)
        "contention_warned": sorted(n for n, s in spread.items() if s > 1.0),
        "load_avg": load_avg,
        # contention-flagged rows re-measured once at pass end (VERDICT r9
        # #8); "applied" reruns replaced the flagged median above
        "reruns": reruns or {},
        "idle_waited_sec": idle_waited,
        "detail_file": detail_name,
    }
    slowest = dict(
        sorted(((n, timings[n]) for n in HEADLINE), key=lambda kv: -kv[1])[:10]
    )
    final_line = json.dumps(
        {
            "metric": "headline_total_sec",
            "value": headline_total,
            "unit": "sec",
            "sf": sf,
            "rows": len(HEADLINE),
            "queries": slowest,
            "detail": detail_name,
        }
    )
    assert len(final_line) < 1800, f"final bench line too long: {len(final_line)}"
    return detail, final_line


if __name__ == "__main__":
    main(sys.argv[1:])
