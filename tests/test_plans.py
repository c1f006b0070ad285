"""Physical-plan regression tests: the properties that keep these queries
viable at 100 TB — filters pushed into the parquet scan, small sides
broadcast, no cartesian products outside the intentional single-row-probe
cross joins, whole-stage codegen covering the hot expressions. A plan that
silently regresses to a cross join or an unpushed filter still passes the
value checks at sf0.01; THIS is where that regression gets caught."""

from __future__ import annotations

import pytest

from team_126_spark.queries import REGISTRY
from tools.plan_capture import plan_text

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return plan_text(REGISTRY[name].fn(spark, SF))


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "filter_eq")
    assert "PushedFilters: [" in plan
    # the o_orderstatus = 'F' predicate must reach the parquet reader
    assert "EqualTo(o_orderstatus,F)" in plan.replace(" ", "")


def test_column_pruning_reaches_scan(spark):
    plan = plan_of(spark, "filter_eq")
    # 3-column projection: the scan must not read the other columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "o_orderdate" not in read[0] and "o_orderpriority" not in read[0]


@pytest.mark.parametrize(
    "name", ["join_fk", "join_multi", "geo_knn_join", "geo_knn_join_adaptive"]
)
def test_small_sides_broadcast(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_partial_aggregation_before_shuffle(spark):
    # partial + final hash aggregation (map-side combine before the shuffle);
    # AQE's pre-execution formatted plan hides codegen spans, so assert the
    # aggregate split + that the shuffle carries partial state, not raw rows
    plan = plan_of(spark, "agg_pricing_summary")
    assert "partial_sum" in plan and plan.count("HashAggregate") >= 2
    assert "SortAggregate" not in plan


def test_topk_is_single_window_shuffle(spark):
    plan = plan_of(spark, "topk_per_group")
    # one hash-partition exchange for the window; no extra sort-merge joins
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_lsh_join_is_equi_not_cross(spark):
    plan = plan_of(spark, "minhash_lsh_pairs")
    # candidate generation must be a hash/sort equi-join on (band, bhash),
    # never a nested-loop over doc pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_semi_join_no_cartesian(spark):
    plan = plan_of(spark, "decontaminate")
    # membership probe is a semi join on the shingle hash — per-eval-row
    # output bound; a regression to inner would re-emit per matching train row
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_build_vocab_partial_aggregation(spark):
    plan = plan_of(spark, "build_vocab")
    # both counts partially aggregated map-side; top-k must not global-sort
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan


def test_stratified_sample_filter_is_scan_side(spark):
    plan = plan_of(spark, "stratified_sample")
    # pure per-row predicate: no shuffle at all in the plan
    assert "Exchange" not in plan


def test_pack_sequences_shuffles_counts_not_text(spark):
    plan = plan_of(spark, "pack_sequences")
    # only (id, shard, n_tokens) cross the shuffle into applyInPandas — the
    # text column must be projected away before the exchange
    assert "FlatMapGroupsInPandas" in plan
    lines = plan.splitlines()
    blocks = []
    for i, ln in enumerate(lines):
        if ln.startswith("(") and ") Exchange" in ln:
            j = i + 1
            block = []
            while j < len(lines) and lines[j].strip():
                block.append(lines[j])
                j += 1
            blocks.append("\n".join(block))
    assert blocks and all("text#" not in b for b in blocks)


def test_corpus_curate_single_scan(spark):
    # all signals (quality, language evidence, fingerprint) must come from
    # ONE read of documents — chaining the standalone operators would plan
    # one scan per signal plus joins
    import re

    plan = plan_of(spark, "corpus_curate")
    # formatted mode prints each node once in the tree and once in the
    # detail section — count distinct scan node ids
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_asof_join_is_window_not_range_join(spark):
    # the linearization must plan as union + ONE window exchange — a
    # regression to a range theta-join shows up as BroadcastNestedLoopJoin
    # or CartesianProduct
    plan = plan_of(spark, "asof_join")
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_knn_batch_broadcasts_probes(spark):
    # the probe side must broadcast — a shuffled cross join would re-scan
    # the corpus per probe partition
    plan = plan_of(spark, "vec_knn_batch")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["ann_lsh", "ann_ivf"])
def test_ann_plans_are_map_only(spark, name):
    # the whole approximate pipeline (bucket/cell assignment, candidate cut,
    # rounded-cosine top-k) must be ONE map-only scan + TakeOrdered — any
    # Exchange means candidate generation started shuffling the corpus
    plan = plan_of(spark, name)
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_dedup_select_windows_share_one_exchange_with_group_limit(spark):
    # per-cluster count + argmax must share the cluster_id partitioning and
    # get the rank-filter pushed down (WindowGroupLimit prunes to top-1 per
    # cluster before the final window sort)
    plan = plan_of(spark, "dedup_select")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["corpus_mix", "quality_gate"])
def test_grouped_threshold_joins_broadcast(spark, name):
    # the tiny per-group aggregate (shard offsets / source medians) must
    # broadcast back to the big side — a shuffled join or cartesian here
    # would re-partition the full corpus against a 20-row table
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_interval_join_is_equi_join(spark):
    # the containment predicate must ride on a bucket equi-join — a
    # regression to the naive range theta-join plans as BNLJ/cartesian
    plan = plan_of(spark, "interval_join_counts")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_is_broadcast_no_cartesian(spark):
    """The 100 TB story of the bloom screen: the few-KB filter table
    BROADCASTS to the probe side (no shuffle of the probed corpus for the
    bit check) and nothing degenerates to a cartesian product."""
    plan = plan_of(spark, "bloom_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "pivot_counts",
        "cube_counts",
        "corpus_stats",
        "funnel_counts",
        "time_fill",
        "conversation_assemble",
        "length_deciles",
        "interval_join_outer",
        "contamination_spans",
    ],
)
def test_r4_queries_no_cartesian(spark, name):
    """None of the round-4 declared queries may degenerate into a cartesian
    or nested-loop join — every join is an equi-join (or an intentional
    single-row broadcast, which these queries don't use)."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_pivot_partial_aggregation(spark):
    plan = plan_of(spark, "pivot_counts")
    assert plan.count("HashAggregate") >= 2 and "partial_" in plan


def test_cartesian_allowlist_pinned(spark):
    """Every CartesianProduct/BroadcastNestedLoopJoin in the registry is on
    the documented allowlist (single-row probe broadcasts, scalar-count
    assembly, salt replication, the declared O(n^2) oracle baseline). A new
    query that silently degenerates to a cross join fails HERE, not in a
    production run at 1000x the data."""
    ALLOWED = {
        # single-row probe / scalar broadcast joins (bounded by construction)
        "vec_knn", "vec_knn_batch", "vec_threshold", "vec_euclidean_match",
        "hybrid_fusion", "hybrid_fusion_fast", "doc_tfidf", "doc_rarity",
        "doc_surprisal", "dashboard_counts", "temperature_mix",
        "inverted_index", "skew_report", "triangle_count", "bm25_topk",
        "pmi_cooccur", "countmin_freq", "pca_topcomp", "lsh_blocking_eval",
        "token_divergence", "classifier_auc_eval", "hybrid_ndcg_eval",
        "embedding_isotropy", "cluster_keywords", "rule_mining",
        "hard_negatives", "matryoshka_eval", "sketch_rollup",
        # (ccnet_buckets left this list in r11: the scalable grouped_ranks
        # plan joins counts with a hash equi-join, no BNLJ remains)
        # bounded n_cells-row centroid-probe broadcast (the mining join
        # itself is a hash equi-join on the cell id)
        "hard_negatives_scoped",
        # single-row / domain-count scalar broadcasts (round-10/11)
        "zipf_fit", "doremi_weights", "sequence_mining", "domain_mix_plan",
        # deterministic salt replication of the SMALL side
        "salted_join_fk",
        # declared exact O(n^2) oracle baseline (guarded by max_rows for
        # library callers)
        "embedding_neardup",
    }
    offenders = {}
    for name in REGISTRY:
        plan = plan_of(spark, name)
        cart = "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
        if cart and name not in ALLOWED:
            offenders[name] = True
        if not cart and name in ALLOWED:
            # keep the allowlist honest: prune entries that stop needing it
            offenders[name] = "no longer needs allowlisting"
    assert not offenders, offenders


def test_audit_family_partial_aggregation(spark):
    """Every audit-family groupBy must split partial/final (map-side
    combine before the shuffle) — formatted plans print each HashAggregate
    node at least twice per aggregation."""
    for name in (
        "token_divergence",
        "ngram_novelty_split",
        "lsh_blocking_eval",
        "classifier_calibration",
        "embedding_isotropy",
    ):
        plan = plan_of(spark, name)
        assert plan.count("HashAggregate") >= 2, name
        assert "SortAggregate" not in plan, name


def test_isotropy_norm_fold_not_duplicated(spark):
    """Regression pin for the CollapseProject pathology SCALING.md
    documents: dividing by the norm inside a transform() lambda inlined the
    64-step aggregate fold into every element (the plan carried 60+
    `aggregate(` expressions; 8.7x at the 10x probe). The fixed plan
    explodes first — the fold appears only a handful of times (filter,
    projection, mean_norm consumer)."""
    plan = plan_of(spark, "embedding_isotropy")
    assert "posexplode" in plan
    assert plan.count("aggregate(") <= 10


def test_ccnet_and_quality_declared_plans_have_no_group_sized_window(spark):
    """VERDICT r10 #1 done-criterion: neither declared plan contains a
    window partitioned by the raw group (language) column over the raw
    row set. Every windowspecdefinition in both plans must carry the
    task-partition column `_p` (grouped_ranks' two-level rank: either
    partitioned by (_p, group) over task-sized slices, or the offsets
    cumulative window over <= #partitions rows per group ordered by _p),
    and the ntile window is gone entirely ("ntile(3)", never bare
    "ntile" — it is a substring of percentile)."""
    for name in ("ccnet_buckets", "quality_ensemble"):
        plan = plan_of(spark, name)
        assert "ntile(3)" not in plan, name
        specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
        assert specs, name  # the scalable path still ranks via windows
        for ln in specs:
            assert "_p#" in ln, (name, ln.strip()[:200])


def test_hybrid_overfetch_plans_as_topk(spark):
    """hybrid_search's candidate_factor over-fetch is a top-k, not a global
    sort: no range-partitioned exchange is planned, and the executed plan
    runs both limits (the distance over-fetch and the fused top-k) as
    TakeOrderedAndProject. Stacked score Projects between the over-fetch
    Limit and its Sort used to plan a rangepartitioning sort plus a
    single-partition exchange."""
    from pyspark.sql import functions as F

    from team_126_spark import tables as T
    from team_126_spark.operators.vector import hybrid_search

    c = T.with_geo(T.table(spark, SF, "customer"), "c_custkey")
    emb = T.table(spark, SF, "embeddings")
    corpus = c.withColumn("vec_id", F.col("c_custkey") % 500).join(emb, "vec_id")
    probe = [0.5 - ((7 * i) % 13) / 13.0 for i in range(64)]
    df = hybrid_search(
        corpus, "embedding", probe, 32.9, -117.2, 30.0, 10, "c_custkey", candidate_factor=3
    )
    assert "rangepartitioning" not in plan_text(df)
    assert len(df.collect()) == 10
    final = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert "rangepartitioning" not in final
    assert final.count("TakeOrderedAndProject") == 2
