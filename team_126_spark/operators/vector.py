"""Vector operators: exact KNN, threshold search, hybrid fusion, ANN at scale.

Reference parity:
  - pgvector `<=>` cosine KNN with threshold 0.7 (backend/embeddings.py:138-193)
  - two-stage retrieval: radius candidates → semantic rescore → fused top-k
    (backend/hybrid_search.py:36-197)
  - face-encoding euclidean probe (backend/auth.py:66-81)

Scale design: exact KNN against one probe is a map-only scan (no shuffle) +
TakeOrderedAndProject — it scales linearly and is the oracle-checked path.
For all-pairs / repeated-probe workloads at 100 TB, `lsh_bucket_ann`
assigns each vector to sign-hash buckets (random-hyperplane LSH with a
deterministic seed) so candidate generation is an equi-join on the bucket
key instead of a cross product.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import (
    cosine_similarity,
    cosine_to_probe,
    distance_score,
    euclidean,
    fuse_scores,
    probe_lit,
    py_norm,
)
from ..metrics import materialize


def _unit(c: list[float]) -> list[float]:
    n = py_norm(c) or 1.0
    return [float(x) / n for x in c]


def knn(
    df: DataFrame,
    vec_col: str,
    probe: list[float],
    k: int,
    id_col: str,
    threshold: float | None = None,
    sim_name: str = "similarity",
) -> DataFrame:
    """Exact top-k by cosine similarity to `probe` (V3/W8), optional P15
    threshold. Map-only + top-k: no shuffle, scales to any row count."""
    out = df.filter(F.col(vec_col).isNotNull()).withColumn(
        sim_name, cosine_to_probe(F.col(vec_col), probe)
    )
    if threshold is not None:
        out = out.filter(F.col(sim_name) >= threshold)
    return out.orderBy(F.desc(sim_name), F.col(id_col).asc()).limit(k)


def hybrid_search(
    df: DataFrame,
    vec_col: str,
    probe_vec: list[float],
    probe_lat: float,
    probe_lon: float,
    max_km: float,
    k: int,
    id_col: str,
    lat: str = "lat",
    lon: str = "lon",
    weight: float = 0.5,
    candidate_factor: int | None = None,
) -> DataFrame:
    """Two-stage hybrid geo+semantic retrieval (V5/V7; hybrid_search.py:36-197).

    Stage 1: radius filter (+ optional over-fetch limit*factor by distance —
    the reference's perf path). Stage 2: cosine rescore, distance-score
    normalization, weighted fusion, exact top-k. candidate_factor=None scores
    ALL in-radius rows — the deterministic, oracle-checked mode (SURVEY §7.4).
    Missing embeddings get similarity 0.0 (V6), not dropped.
    """
    from .geo import radius_filter

    cands = radius_filter(df, lat, lon, probe_lat, probe_lon, max_km)
    if candidate_factor is not None:
        cands = cands.orderBy(F.col("distance_km").asc(), F.col(id_col).asc()).limit(
            k * candidate_factor
        )
    return _fused_topk(cands, vec_col, probe_vec, max_km, k, id_col, weight)


def _fused_topk(
    cands: DataFrame,
    vec_col: str,
    probe_vec: list[float],
    max_km: float,
    k: int,
    id_col: str,
    weight: float,
    score_round: int | None = None,
) -> DataFrame:
    """Stage 2 of both hybrid searches: `similarity`, `distance_score` and
    `combined_score` in ONE projection, then the exact top-k.

    One projection keeps both limits top-k plans. Three `withColumn`s leave
    three Projects (CollapseProject will not duplicate the cosine), the
    optimizer pushes them between an over-fetch's Limit and its Sort, and
    SpecialLimits then misses the pattern: a range-partitioned global sort
    plus a single-partition exchange instead of a TakeOrderedAndProject.
    The fused score inlines the same two expressions, so its doubles are
    the ones the stacked columns gave."""
    sim = F.when(F.col(vec_col).isNull(), F.lit(0.0)).otherwise(
        cosine_to_probe(F.col(vec_col), probe_vec)
    )
    dscore = distance_score(F.col("distance_km"), max_km)
    fused = fuse_scores(sim, dscore, weight)
    if score_round is not None:
        # round BEFORE the sort so the top-k cut is engine-agnostic
        # (the oracle sorts the same 6dp doubles)
        fused = F.round(fused, score_round)
    return (
        cands.withColumns(
            {"similarity": sim, "distance_score": dscore, "combined_score": fused}
        )
        .orderBy(F.desc("combined_score"), F.col(id_col).asc())
        .limit(k)
    )


def hybrid_search_adaptive(
    df: DataFrame,
    vec_col: str,
    probe_vec: list[float],
    probe_lat: float,
    probe_lon: float,
    max_km: float,
    k: int,
    id_col: str,
    lat: str = "lat",
    lon: str = "lon",
    weight: float = 0.5,
    exact_budget: int = 4096,
    candidate_factor: int = 3,
    n_planes: int = 8,
    n_tables: int = 8,
    n_probe_bits: int = 6,
    score_round: int | None = None,
) -> DataFrame:
    """Density-adaptive hybrid retrieval (VERDICT r8 #2: the static
    candidate_factor=3 over-fetch is a measured recall cliff — NDCG 0.971/
    overlap 9 at sf0.001 density but overlap 0 at sf0.1, because at high
    point density the exact top-k is SIMILARITY-dominant and no
    distance-ordered prefix can contain it).

    The dial: count the in-radius candidates (one cheap aggregate over the
    pushed-down radius predicate — lat/lon column pruning makes this a
    slim scan) and branch:

      * n_in <= exact_budget → EXACT mode: rescore every in-radius row.
        Below the budget exact is both affordable and optimal — the
        auto-switch the static factor lacked.
      * n_in >  exact_budget → TWO-PRONG candidates: the distance prefix
        (top k*candidate_factor by (distance, id) — catches
        distance-dominant winners) UNION the probe's multi-probe LSH
        bucket matches among the in-radius rows (catches
        similarity-dominant winners — exactly the rows the distance
        prefix provably misses). One candidate set per score component
        of the fusion, then exact rescore + top-k.

    Deterministic: both prongs and the dedup are value-defined (same row
    for an id either way), so the result is oracle-checkable —
    queries.q_hybrid_fusion_adaptive mirrors the branch AND the LSH
    integer plane family in DuckDB.
    Quality gate: tests/test_geo_vector.py pins NDCG@10 >= 0.97 /
    overlap >= 8 vs exact at BOTH fixture densities."""
    from .geo import radius_filter

    cands = radius_filter(df, lat, lon, probe_lat, probe_lon, max_km)
    n_in = cands.count()
    if n_in > exact_budget:
        near = cands.orderBy(F.col("distance_km").asc(), F.col(id_col).asc()).limit(
            k * candidate_factor
        )
        sem = lsh_candidates(
            cands, vec_col, probe_vec, len(probe_vec), n_planes, n_tables,
            n_probe_bits,
        ).drop("lsh_buckets")
        cands = near.unionByName(sem).dropDuplicates([id_col])
    return _fused_topk(cands, vec_col, probe_vec, max_km, k, id_col, weight, score_round)


# --------------------------------------------------------------- scale path

from ..functions.sketch import _hyperplane, lsh_bucket_kernel  # noqa: E402 — shared plane family


def with_lsh_buckets(
    df: DataFrame, vec_col: str, dim: int, n_planes: int = 8, n_tables: int = 4
) -> DataFrame:
    """Adds `lsh_buckets array<long>` — the row's sign-hash bucket id under
    each of `n_tables` independent hyperplane sets (table tag embedded in
    the id; same kernel/plane family as embedding_neardup_lsh, so buckets
    computed for dedup are reusable for ANN).

    At 100 TB this column is computed ONCE at ingest, exploded, and written
    `partitionBy("lsh_bucket")` — a probe then reads only its probed
    buckets' files (partition pruning), not the corpus."""
    kernel = lsh_bucket_kernel(dim, n_planes, n_tables)
    return df.withColumn("lsh_buckets", kernel(F.col(vec_col)))


def probe_buckets(
    probe: list[float], dim: int, n_planes: int = 8, n_tables: int = 4, n_probe_bits: int = 4
) -> list[int]:
    """Bucket ids a probe should inspect: per table, its exact bucket plus
    every bucket reachable by flipping any subset of the `n_probe_bits`
    LOWEST-MARGIN planes (smallest |projection|) — margin-ordered
    multi-probe LSH (Lv et al., VLDB 2007): a true neighbor that lands on
    the other side of a hyperplane almost always does so on a plane the
    probe itself barely clears, so flipping those planes first buys recall
    at a fraction of the uniform-flip candidate cost.

    Driver-side integer math over the fixed plane family;
    O(T * (P*dim + 2^n_probe_bits)) — microseconds, no data touched."""
    out: set[int] = set()
    for t in range(n_tables):
        projs = []
        bits = 0
        for p in range(n_planes):
            plane = _hyperplane(dim, t * n_planes + p)
            proj = sum(a * b for a, b in zip(probe, plane))
            projs.append(proj)
            bits = bits * 2 + (1 if proj >= 0 else 0)
        # plane p contributes bit weight 2^(n_planes-1-p)
        by_margin = sorted(range(n_planes), key=lambda p: abs(projs[p]))[:n_probe_bits]
        masks = [1 << (n_planes - 1 - p) for p in by_margin]
        tags = {bits}
        for m in masks:
            tags |= {b ^ m for b in tags}
        out |= {(t << n_planes) | b for b in tags}
    return sorted(out)


def lsh_candidates(
    df: DataFrame,
    vec_col: str,
    probe: list[float],
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    n_probe_bits: int = 4,
) -> DataFrame:
    """Rows in any of the probe's multi-probed LSH buckets (the candidate
    stage of `lsh_bucket_ann`, exposed so callers can apply their own
    scoring/ordering — e.g. the oracle-twin declared query)."""
    targets = probe_buckets(probe, dim, n_planes, n_tables, n_probe_bits)
    target_arr = F.lit(np.array(targets, dtype=np.int64))
    return with_lsh_buckets(
        df.filter(F.col(vec_col).isNotNull()), vec_col, dim, n_planes, n_tables
    ).filter(F.arrays_overlap(F.col("lsh_buckets"), target_arr))


def lsh_bucket_ann(
    df: DataFrame,
    vec_col: str,
    probe: list[float],
    k: int,
    id_col: str,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    n_probe_bits: int = 4,
) -> DataFrame:
    """Approximate KNN: exact cosine top-k over the union of the probe's
    buckets across `n_tables` OR-amplified hyperplane tables, margin-ordered
    multi-probed to 2^`n_probe_bits` buckets per table (V3 scale path; see
    `with_lsh_buckets` for the partition-pruned layout at scale).

    Recall/cost is corpus-dependent: on near-dup workloads (neighbor cosine
    >= 0.7, per-plane agreement p = 1 - theta/pi >= 0.75) the defaults prune
    to a few % of the corpus at recall ~1 (tests/test_geo_vector.py::
    test_lsh_ann_prunes_planted_cluster). The sf0.1 embeddings corpus is
    uniform-random (top-10 cosine ~0.31-0.39, p ~0.6) — the worst case for
    any sublinear ANN — so hitting recall@10 >= 0.8 there takes the wider
    config n_tables=8, n_probe_bits=6, measured mean recall 0.86 at ~0.64
    candidate fraction (test_lsh_ann_recall_sf01). Same code, different
    dial: the structure (bucket equi-probe, partition pruning) is what
    survives the 1000× scale-up, and it degrades to a guarded scan, never
    a crash, when the corpus has no cluster structure to exploit."""
    cands = lsh_candidates(df, vec_col, probe, dim, n_planes, n_tables, n_probe_bits)
    return knn(cands, vec_col, probe, k, id_col).drop("lsh_buckets")


def knn_batch(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str,
    k: int,
    id_col: str,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
) -> DataFrame:
    """Batch KNN: top-k corpus neighbors for EVERY probe row in one job —
    the amortized form of the reference's per-request KNN loop (N requests
    = N scans there; one broadcast join + one window here).

    Plan shape: broadcast(probes) × corpus (the only join big enough to
    matter scans the corpus ONCE regardless of probe count), cosine per
    (probe, row), then TWO-LEVEL top-k: a first window over (probe,
    id-hash-shard) keeps k rows per shard — parallelism = probes × shards,
    never the probe count alone — and the final per-probe window sorts only
    shards × k survivors. A single per-probe window would funnel the whole
    scored corpus into one task per probe (the single-task pathology
    SCALING.md polices). Beyond broadcast size, bucket both sides by an ANN
    key first."""
    from pyspark.sql import Window

    n_shards = 32
    pairs = corpus.filter(F.col(vec_col).isNotNull()).crossJoin(
        F.broadcast(probes.select(probe_id, probe_vec))
    )
    sim = F.round(cosine_similarity(F.col(vec_col), F.col(probe_vec)), 6)
    scored = pairs.select(
        probe_id,
        F.col(id_col),
        sim.alias("similarity"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards)).alias("_shard"),
    )
    order = [F.desc("similarity"), F.col(id_col).asc()]
    w_local = Window.partitionBy(probe_id, "_shard").orderBy(*order)
    w_final = Window.partitionBy(probe_id).orderBy(*order)
    return (
        scored.withColumn("_rn", F.row_number().over(w_local))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn", F.row_number().over(w_final))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_shard")
    )


def embedding_centroids(
    df: DataFrame, vec_col: str, group_col: str, id_col: str
) -> DataFrame:
    """Per-group embedding centroid as (group, pos, c, n_vecs) rows — the
    vector-average aggregate behind cluster summaries, IVF re-training, and
    drift monitors. Rows, not an array column: every value is a scalar, so
    the result is oracle-comparable and safe through any canonicalizer.

    Plan shape: posexplode → groupBy(group, pos) with map-side partial avg —
    the shuffle carries (group × dim) partial sums, not vectors. `pos` is
    1-based to match SQL generate_subscripts."""
    exploded = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("pos0", "val"),
    )
    return (
        exploded.groupBy("grp", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(F.avg("val"), 6).alias("c"),
            F.count_distinct("_id").cast("bigint").alias("n_vecs"),
        )
    )


def ivf_centroids(
    df: DataFrame, vec_col: str, id_col: str, n_cells: int = 16
) -> list[list[float]]:
    """IVF "training": pick `n_cells` centroids as a deterministic
    pseudo-random sample of the corpus itself (order by the low 32 md5 bits
    of the id — stable across runs/partitionings, and md5-family so a SQL
    oracle reproduces the exact same centroid set). Sampled centroids track
    the data distribution the way k-means centroids would, without an
    iterative job; swap in pyspark.ml KMeans(seed=...) when cluster quality
    matters more than train cost. Driver holds n_cells vectors —
    O(n_cells * dim), tiny."""
    from ..functions.text import md5_low32

    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(md5_low32(F.col("_id").cast("string")), F.col("_id"))
        .limit(n_cells)
        .collect()
    )
    if not rows:
        raise ValueError(
            "ivf_centroids: corpus has no non-null vectors to sample "
            "centroids from — an empty index is a config error, not a result"
        )
    return [[float(x) for x in r["_v"]] for r in rows]


def with_ivf_cell(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """IVF assignment: nearest centroid by cosine (argmax dot over the
    normalized centroid directions).

    At 100 TB the cell id is the partition key: `write_parquet(...,
    partition_by=["ivf_cell"])` makes a probe read only nprobe/n_cells of
    the corpus (partition pruning) — the IVF inverted-list analog.

    argmax is computed over an ARRAY of independent scores — never a chained
    when() (chaining re-embeds the running best into every branch, growing
    the expression tree exponentially with n_cells).

    The centroid matrix is one `F.lit` of the nested list, traversed with
    transform() (r12). `F.lit(list)` still builds `array(array(lit, …),
    …)`: the ANALYZED plan holds n_cells×dim literal nodes (1024 at the
    declared 16×64) for each of the two uses of `scores`, and analysis
    pays for them. The optimizer's ConstantFolding then folds each matrix
    into one array Literal, so the optimized plan and the generated code
    carry one constant and an interpreted HOF pass instead of n_cells×dim
    expressions (checked on PySpark 4.1.2). The previous per-centroid
    expansion recompiled as a giant generated class that fell out of the
    codegen cache under a 137-query bench session (the documented ann_ivf
    1.5 s ↔ 11 s bimodality). The dot fold, element order, and first-max
    tie-break are unchanged, so the result is bit-identical (pinned vs the
    broadcast path)."""
    from ..functions.vector import dot

    cmat = F.lit([_unit(c) for c in centroids])
    scores = F.transform(cmat, lambda u: dot(F.col(vec_col), u))
    cell = F.array_position(scores, F.array_max(scores)).cast("int") - 1
    return df.withColumn("ivf_cell", cell)


def with_ivf_cell_broadcast(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """IVF assignment for LARGE n_cells: the unit-normalized centroids
    become a (cell, direction) TABLE (k rows, broadcast) instead of k
    inlined literal expressions, so k is bounded by broadcast size (~k·dim·8
    bytes — k=100k at dim=64 is 51 MB), not by Janino method limits or
    codegen compile time. Needed when n_cells is sized for the corpus
    (semdedup: n_cells ∝ rows ⇒ 10⁵–10⁶ cells at 100 TB).

    The broadcast join emits n·k slim (id, cell, score) rows, but one id's
    rows are consecutive in the same task, so the max_by partial aggregate
    collapses them map-side — the shuffle carries n rows, not n·k.
    Bit-identical to with_ivf_cell: same unit normalization (Python-side,
    same floats), same left-to-right dot fold, and min_by on the
    (-score, cell) struct = first-max / lowest-cell tie-break, exactly
    array_position(scores, array_max(scores)) (pinned by
    test_ivf_assign_broadcast_matches_literal).

    Row-preserving like with_ivf_cell (ADVICE r8): the aggregate keys on a
    per-row uid (monotonically_increasing_id), not on the value columns,
    so fully-duplicate input rows keep their multiplicity; null-vector
    rows bypass the join and come back with a null ivf_cell — exactly
    what the literal path's null dot-product scores produce.

    Precondition (ADVICE r9): `df` must have a DETERMINISTIC plan — the
    tagged frame is scanned once per branch (non-null and null vectors),
    and a non-deterministic upstream (sample/limit/shuffle without an
    ordering) could produce different rows per re-scan, losing or
    duplicating rows across the unioned branches. localCheckpoint such
    inputs first (every in-repo caller either reads a stable source or
    checkpoints); the uid itself only needs uniqueness WITHIN a branch."""
    from ..functions.vector import dot

    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(i, _unit(c)) for i, c in enumerate(centroids)],
        "_cell int, _u array<double>",
    )
    score = dot(F.col(vec_col), F.col("_u"))
    # uid only needs uniqueness WITHIN the non-null branch (each source row
    # lands in exactly one branch), so the two-branch re-scan is safe
    tagged = df.withColumn("_rid", F.monotonically_increasing_id())
    assigned = (
        tagged.filter(F.col(vec_col).isNotNull())
        .join(F.broadcast(cdf))
        .select("_rid", *df.columns, F.col("_cell"), score.alias("_s"))
        .groupBy("_rid")
        .agg(
            *[F.first(c).alias(c) for c in df.columns],
            F.min_by("_cell", F.struct(-F.col("_s"), F.col("_cell"))).alias("ivf_cell"),
        )
    )
    nulls = tagged.filter(F.col(vec_col).isNull()).select(
        "_rid", *df.columns, F.lit(None).cast("int").alias("ivf_cell")
    )
    return assigned.unionByName(nulls).drop("_rid")


def ivf_candidates(
    df: DataFrame,
    vec_col: str,
    probe: list[float],
    id_col: str,
    centroids: list[list[float]] | None = None,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Rows of the `nprobe` IVF cells whose centroids are closest to the
    probe (the candidate stage of `ivf_ann`, exposed so callers can apply
    their own scoring/ordering — e.g. the oracle-twin declared query)."""
    cents = centroids if centroids is not None else ivf_centroids(df, vec_col, id_col, n_cells)

    scored = [(i, sum(a * b for a, b in zip(probe, _unit(c)))) for i, c in enumerate(cents)]
    probe_cells = [i for i, _ in sorted(scored, key=lambda t: -t[1])[:nprobe]]
    return with_ivf_cell(df, vec_col, cents).filter(F.col("ivf_cell").isin(probe_cells))


def ivf_ann(
    df: DataFrame,
    vec_col: str,
    probe: list[float],
    k: int,
    id_col: str,
    centroids: list[list[float]] | None = None,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate KNN: exact cosine top-k restricted to the `nprobe` cells
    whose centroids are closest to the probe. Recall/cost dial = nprobe
    (nprobe == n_cells -> exact search)."""
    cands = ivf_candidates(df, vec_col, probe, id_col, centroids, n_cells, nprobe)
    return knn(cands, vec_col, probe, k, id_col).drop("ivf_cell")


def cosine_calibration(
    df: DataFrame, vec_col: str, id_col: str, n_buckets: int = 64
) -> DataFrame:
    """Pairwise-cosine histogram over a deterministic sample of vector
    pairs — the calibration step BEFORE picking an embedding near-dup
    threshold: run this, look where the background-similarity mass ends,
    set `embedding_neardup`'s threshold above it. Guessing 0.95 on a corpus
    whose random-pair cosine already sits at 0.9 (common for
    anisotropic/un-centered embedding spaces) silently deletes half the
    corpus; this makes the threshold an observed quantity.

    Sampling is n/2 DISJOINT pairs, never n²: each vector lands in an
    md5 bucket (uniform, content-independent), consecutive id-ranked
    vectors within a bucket pair up — every EVEN-ranked row pairs with its
    lag(1) predecessor, so row_number and lag compute in the SAME Window
    node: ONE shuffle on the bucket key, no join at all (the first cut
    split odd/even frames and equi-joined them back — that plan scanned
    and window-sorted the corpus twice). Deterministic under reruns and
    repartitioning. Output: (bin, cos_lo, n_pairs) where bin =
    floor(round(cos, 6) * 10), i.e. 0.1-wide bins labeled by their lower
    edge.
    """
    from pyspark.sql import Window

    from ..functions.text import md5_low60

    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(md5_low60(F.col(id_col).cast("string")), F.lit(n_buckets)).alias("b"),
    )
    w = Window.partitionBy("b").orderBy("id")
    r = base.select(
        "v",
        F.row_number().over(w).alias("rn"),
        F.lag("v").over(w).alias("va"),
    )
    cos = cosine_similarity(F.col("va"), F.col("v"))
    return (
        r.filter(F.col("rn") % 2 == 0)
        .select(F.floor(F.round(cos, 6) * 10).cast("int").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .withColumn("cos_lo", F.round(F.col("bin") / 10.0, 1))
        .select("bin", "cos_lo", "n_pairs")
    )


def quantized_knn(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    probe: list[float],
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Exact top-k over SCALAR-QUANTIZED embeddings: per-dimension min/max
    over the corpus → 8-bit codes → dequantize → cosine. The memory-
    compression path for ANN at scale (float32→uint8 is 4× less RAM /
    shuffle / cache per vector; IVF+SQ is the standard pairing), surfaced
    as an operator so recall loss is measurable against the exact path.

    Plan shape: bounds come from ONE map-side-combined aggregate (2×dim
    scalar min/max aggs, a single-row result — a bounded driver collect
    like the IVF centroid sample, operators/vector.py ivf_candidates);
    quantize+score is then map-only with the bounds inlined as literals —
    no shuffle, no second scan, no join. Quantization is floor(x·255+0.5)
    on the normalized position (explicit half-up — engines disagree on
    round()'s mode, floor+0.5 they agree on); degenerate dims (mx == mn)
    quantize to their constant via span 1 substitution.

    Deterministic end to end → exact DuckDB twin (declared query
    `ann_quantized`).
    """
    if len(probe) != dim:
        raise ValueError(f"quantized_knn: probe has {len(probe)} dims, expected {dim}")
    vec = F.col(vec_col)
    elem = lambda i: F.element_at(vec, i + 1).cast("double")  # noqa: E731
    row = (
        df.filter(vec.isNotNull())
        .agg(
            *[F.min(elem(i)).alias(f"mn{i}") for i in range(dim)],
            *[F.max(elem(i)).alias(f"mx{i}") for i in range(dim)],
        )
        .first()
    )
    if row is None or any(row[f"mn{i}"] is None for i in range(dim)):
        bad = [i for i in range(dim) if row is None or row[f"mn{i}"] is None]
        raise ValueError(
            f"quantized_knn: no bounds for dim(s) {bad[:5]}{'...' if len(bad) > 5 else ''} — "
            f"the corpus has no non-null vectors, or its vectors are shorter "
            f"than dim={dim}"
        )
    mins = [float(row[f"mn{i}"]) for i in range(dim)]
    spans = [
        (float(row[f"mx{i}"]) - mins[i]) or 1.0 for i in range(dim)
    ]

    def deq_expr(x, i: int):
        code = F.floor((x.cast("double") - mins[i]) / spans[i] * 255.0 + 0.5)
        return mins[i] + code * (spans[i] / 255.0)

    deq = F.array(*[deq_expr(F.element_at(vec, i + 1), i) for i in range(dim)])

    import math

    pq = []
    for i, p in enumerate(probe):
        code = math.floor((float(p) - mins[i]) / spans[i] * 255.0 + 0.5)
        pq.append(mins[i] + code * (spans[i] / 255.0))

    return (
        df.filter(vec.isNotNull())
        .withColumn("q_sim", F.round(cosine_to_probe(deq, pq), 6))
        .orderBy(F.desc("q_sim"), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "q_sim")
    )


# Codegen-safe ceiling for kmeans_lloyd's assignment expression: the
# per-row distance computation inlines k centroid array literals × dim
# values into ONE generated method, and at k·dim in the tens of thousands
# that method blows past Janino's 64 KB bytecode limit and silently falls
# back to interpreted evaluation (the _guard_quadratic class of hazard —
# VERDICT r4 "What's wrong #3"). Measured on local[32], 20k rows, dim=64,
# one iteration: k=8 → 4.3 s, k=64 → 11.9 s, k=256 → 45.8 s — linear in k
# as designed, but the constant says the expression path is already heavy
# well before the hard Janino wall. 32_768 (k=512 at dim=64) is the
# documented ceiling; above it, restructure assignment as a broadcast join
# against a (cell, centroid) TABLE — explode centroids to rows, broadcast,
# join every vector against all k, one min_by(cell, dist) aggregate — which
# trades the k-literal codegen expression for a shuffle-free broadcast
# nested loop that scales to arbitrary k.
KMEANS_MAX_KDIM = 32_768


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 5,
    dim: int = 64,
    stats: dict | None = None,
    max_kdim: int | None = KMEANS_MAX_KDIM,
) -> DataFrame:
    """Lloyd k-means over an embedding column — the clustering companion to
    IVF (whose centroids are a cheap md5 sample; run this when cluster
    QUALITY matters: corpus topic bucketing, balanced ANN cells, diversity-
    aware sampling). Deterministic end to end: init = the md5-sample
    centroids (ivf_centroids), ties in assignment break toward the lowest
    cell index, and centroid updates are rounded to 6 decimals each round
    (quantized state also keeps any cross-engine reproduction exact).

    Spark shape per iteration — the iterative-algorithm pattern shared
    with dedup.dedup_components: assignment is a pure codegen expression
    over CENTROID LITERALS (no join, no shuffle); the update is one
    posexplode + partial-aggregated avg per (cell, dim) — k·dim tiny rows —
    collected to the driver (bounded, like the IVF centroid sample) to
    become the next round's literals. Per round: ONE job, no growing
    lineage (each round's plan starts from the raw scan + fresh literals).
    Empty cells keep their previous centroid (the standard Lloyd fix).
    Pass `stats={}` to read back per-round inertia (monotonically
    non-increasing — property-tested).
    """
    if max_kdim is not None and k * dim > max_kdim:
        raise ValueError(
            f"kmeans_lloyd: k*dim = {k * dim} > max_kdim={max_kdim} — the "
            f"assignment step inlines k centroid literals into one codegen "
            f"expression, which degrades (interpreted fallback, Janino "
            f"method-size limit) at this size; for large k use a "
            f"broadcast (cell, centroid) table joined with a min_by "
            f"aggregate (the with_ivf_cell_broadcast shape), or pass a "
            f"higher max_kdim (or None) if you really mean it"
        )
    cents = ivf_centroids(df, vec_col, id_col, k)
    if len(cents) < k:
        raise ValueError(
            f"kmeans_lloyd: corpus has only {len(cents)} non-null vectors < k={k}"
        )
    vec = F.col(vec_col)
    base = df.filter(vec.isNotNull())
    inertia_hist: list[float] = []

    def assigned(centroids):
        dists = [
            F.aggregate(
                F.zip_with(
                    vec, probe_lit(cent),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            for cent in centroids
        ]
        best = F.array_position(
            F.array(*dists), F.array_min(F.array(*dists))
        ).cast("int") - 1
        return base.select(
            F.col(id_col), vec.alias("_v"), best.alias("cell"),
            F.array_min(F.array(*dists)).alias("_d2"),
        )

    for _ in range(int(iters)):
        # the same collect returns this assignment's inertia: each row's _d2
        # rides into every exploded position, so the pos == 0 groups count
        # each row once (summed after the exchange, never observed below it)
        upd = (
            assigned(cents)
            .select("cell", "_d2", F.posexplode("_v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"), F.sum("_d2").alias("d2"))
            .collect()
        )
        inertia = math.fsum(r["d2"] for r in upd if r["pos"] == 0 and r["d2"] is not None)
        inertia_hist.append(round(inertia, 6))
        nxt = [list(c) for c in cents]  # empty cells keep previous centroid
        acc: dict[int, dict[int, float]] = {}
        for r in upd:
            acc.setdefault(r["cell"], {})[r["pos"]] = round(float(r["m"]), 6)
        for cell, posmap in acc.items():
            for pos, m in posmap.items():
                nxt[cell][pos] = m
        cents = nxt
    if stats is not None:
        stats["inertia"] = inertia_hist
        stats["centroids"] = cents
    # final pass: the returned assignment is consistent with the RETURNED
    # centroids (a loop-internal assignment would predate the last update —
    # the classic Lloyd off-by-one)
    return assigned(cents).select(id_col, "cell")


def sign_project(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    signs: list[list[float]],
    scale: float,
    kernel: str = "arrow",
) -> DataFrame:
    """Johnson-Lindenstrauss sign projection: y_k = scale · Σ_i s(k,i)·x_i
    for a ±1 matrix `signs` (out_dim × in_dim) baked in at plan-build time.
    Returns (id_col, p00..pNN) UNROUNDED — callers round Spark-side so the
    rounding family (HALF_UP) matches the DuckDB oracle regardless of
    kernel.

    kernel='arrow' (default): mapInPandas accumulates each output column
    with a vectorized strict left-to-right chain acc += x_i·s — per-element
    this is the IDENTICAL IEEE addition sequence the codegen path executes
    (±1 multiplies only flip the sign bit), so the two kernels agree
    bit-for-bit (pinned by test_sign_project_arrow_matches_codegen). The
    point of the kernel is the CONSTANT, not the asymptotics: the codegen
    path compiles out_dim chains of in_dim element_at adds (16×64 = 1,024
    expression nodes) whose whole-stage-codegen compile dominates wall
    time until the corpus is large (scale_probe r7: ratio 1.12 at 10×
    data). Rows with a NULL or wrong-length vector yield NULL projections
    (the codegen twin agrees on NULL; wrong-length rows throw there under
    ANSI, so the arrow kernel is the lenient superset — fixtures contain
    neither).

    kernel='codegen': the fully-declarative chained ±element_at expression
    — zero Python, survives as the parity/oracle-reference path.
    """
    out_dim, in_dim = len(signs), len(signs[0])
    id_type = df.schema[id_col].dataType.simpleString()
    if kernel == "arrow":

        def _proj(batches):
            import numpy as np
            import pandas as pd

            S = np.asarray(signs, dtype=np.float64)
            for pdf in batches:
                if not len(pdf):
                    continue
                vecs = list(pdf[vec_col])
                valid = np.array(
                    [v is not None and len(v) == in_dim for v in vecs]
                )
                out = {id_col: pdf[id_col]}
                if valid.all():
                    X = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
                    for k in range(out_dim):
                        acc = X[:, 0] * S[k, 0]
                        for i in range(1, in_dim):
                            acc = acc + X[:, i] * S[k, i]
                        out[f"p{k:02d}"] = acc * scale
                    yield pd.DataFrame(out)
                    continue
                Xv = np.array(
                    [np.asarray(v, dtype=np.float64) for v, ok in zip(vecs, valid) if ok]
                ).reshape(int(valid.sum()), in_dim)
                for k in range(out_dim):
                    col = np.empty(len(vecs), dtype=object)
                    if len(Xv):
                        acc = Xv[:, 0] * S[k, 0]
                        for i in range(1, in_dim):
                            acc = acc + Xv[:, i] * S[k, i]
                        col[valid] = acc * scale
                    yield_col = [None if not ok else v for ok, v in zip(valid, col)]
                    out[f"p{k:02d}"] = pd.Series(yield_col, dtype=object)
                yield pd.DataFrame(out)

        schema = f"{id_col} {id_type}, " + ", ".join(
            f"p{k:02d} double" for k in range(out_dim)
        )
        return df.select(id_col, vec_col).mapInPandas(_proj, schema=schema)
    if kernel != "codegen":
        raise ValueError(f"kernel must be 'arrow' or 'codegen', got {kernel!r}")

    def x(i: int):
        return F.element_at(F.col(vec_col), i + 1).cast("double")

    cols = []
    for k in range(out_dim):
        acc = x(0) if signs[k][0] > 0 else -x(0)
        for i in range(1, in_dim):
            acc = acc + x(i) if signs[k][i] > 0 else acc - x(i)
        cols.append((acc * F.lit(float(scale))).alias(f"p{k:02d}"))
    return df.select(F.col(id_col), *cols)


def pca_power(
    df: DataFrame,
    vec_col: str,
    dim: int,
    rounds: int = 6,
    sync_dp: int = 10,
    gram: str = "arrow",
) -> DataFrame:
    """Top principal component of the df[vec_col] point cloud via power
    iteration on the covariance matrix — the embedding-space drift /
    whitening / dominant-direction primitive, and the fifth iterative
    family (components, pagerank, shortest paths, logreg GD, PCA), fully
    declarative with an exact unrolled DuckDB twin (declared query
    `pca_topcomp`).

    Scale design (the part that matters at 100 TB):
      - Gram accumulation is ONE map-only pass with two kernels sharing
        the identical shuffle shape (≤ ~dim²/2 partial sums PER MAP
        PARTITION regardless of corpus size — never row×row, never a
        self-join of exploded triples):
        `gram='arrow'` (default, the production kernel): mapInPandas
        computes a per-Arrow-batch numpy X^T·X + column sums and emits
        only the dim·(dim+1)/2 + dim partial rows per batch — the BLAS
        matmul replaces the 2,080-struct-per-row codegen explode that
        made this the registry's worst map-side constant (VERDICT r6 #2:
        19.3 s → the struct allocation + element_at pairs cost ~2 orders
        more than the Arrow kernel pays for the same products).
        `gram='codegen'`: the fully-declarative nested-transform explode
        feeding a partially-aggregated groupBy(i, j) — survives as the
        pinned reference kernel (the simhash precedent;
        test_pca_gram_arrow_matches_codegen pins equality).
        Per-dimension means ride the same pass (arrow) or a posexplode +
        partial agg (codegen).
      - everything after the two aggregates runs on dim×dim-row tables
        (4096 rows at dim 64): per round one equi-join of the rank-1
        vector onto the covariance table + one partial agg + one
        single-row norm broadcast. No driver collect anywhere.
      - each round's vector is lazily materialized so the
        unrolled plan stays LINEAR in rounds (the vector is consumed
        twice per round; without the cut the subtree doubles per round).

    Float-drift pinning (the logreg_train discipline): the covariance
    entries and each round's normalized vector are rounded to `sync_dp`
    on BOTH engines, re-synchronizing summation-order ulp noise every
    round instead of letting the iteration amplify it. Sign convention:
    the component with the largest |loading| (smallest index on ties) is
    made positive — an exact comparison over identical rounded values,
    immune to the near-zero-sum ambiguity of a sum-based sign rule.

    Returns (dim, loading_r, eigval_r): the unit top eigenvector (6dp)
    and its Rayleigh-quotient eigenvalue estimate, one row per dimension.

    NULL / short embeddings are dropped up front (the cosine_calibration
    null-guard discipline): without the filter a NULL vec_col row still
    explodes into dim·(dim+1)/2 structs with p NULL while the i/j
    literals are non-null, inflating count(*) in the denominator while
    sum skips the NULLs — a biased covariance that also diverges from
    the oracle's unnest (which drops such rows entirely).
    """
    if gram not in ("arrow", "codegen"):
        raise ValueError(f"gram must be 'arrow' or 'codegen', got {gram!r}")
    df = df.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    )
    if gram == "arrow":

        def _gram_partials(batches):
            import numpy as np
            import pandas as pd

            iu, ju = np.triu_indices(dim)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                S = X.T @ X
                yield pd.DataFrame(
                    {
                        "i": np.concatenate([iu, np.arange(dim)]).astype("int32"),
                        "j": np.concatenate([ju, np.full(dim, -1)]).astype("int32"),
                        "sp": np.concatenate([S[iu, ju], X.sum(axis=0)]),
                        "cnt": np.full(iu.size + dim, len(X), dtype="int64"),
                    }
                )

        part = df.select(vec_col).mapInPandas(
            _gram_partials, schema="i int, j int, sp double, cnt bigint"
        )
        prods = (
            part.where(F.col("j") >= 0)
            .groupBy("i", "j")
            .agg(F.sum("sp").alias("sp"), F.sum("cnt").alias("cnt"))
        )
        # j = -1 marker rows carry per-dimension sums from the same pass
        mu = (
            part.where(F.col("j") == -1)
            .groupBy("i")
            .agg((F.sum("sp") / F.sum("cnt")).alias("m"))
        )
    else:
        emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        idx = F.sequence(F.lit(0), F.lit(dim - 1))
        pairs = F.flatten(
            F.transform(
                idx,
                lambda i: F.transform(
                    F.sequence(i, F.lit(dim - 1)),
                    lambda j: F.struct(
                        i.alias("i"),
                        j.alias("j"),
                        (
                            F.element_at(emb, (i + 1).cast("int"))
                            * F.element_at(emb, (j + 1).cast("int"))
                        ).alias("p"),
                    ),
                ),
            )
        )
        prods = (
            df.select(F.explode(pairs).alias("e"))
            .select("e.i", "e.j", "e.p")
            .groupBy("i", "j")
            .agg(F.sum("p").alias("sp"), F.count("*").alias("cnt"))
        )
        mu = (
            df.select(F.posexplode(F.col(vec_col)).alias("i", "x"))
            .groupBy("i")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
        )
    cov0 = (
        prods.join(F.broadcast(mu.select(F.col("i"), F.col("m").alias("mi"))), "i")
        .join(
            F.broadcast(mu.select(F.col("i").alias("j"), F.col("m").alias("mj"))),
            "j",
        )
        .select(
            "i",
            "j",
            F.round(
                F.col("sp") / F.col("cnt") - F.col("mi") * F.col("mj"), sync_dp
            ).alias("c"),
        )
    )
    cov = materialize(  # feeds every round + the Rayleigh agg
        cov0.unionByName(
            cov0.filter(F.col("i") != F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "c"
            )
        ),
        lazy=True,
    )

    spark = df.sparkSession
    v = spark.range(dim).select(
        F.col("id").cast("int").alias("i"), F.lit(1.0 / dim**0.5).alias("v")
    )
    for _ in range(rounds):
        w = (
            cov.join(F.broadcast(v.select(F.col("i").alias("j"), "v")), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("_n"))
        v = materialize(  # keep the unrolled plan linear
            w.crossJoin(F.broadcast(nrm))
            .select("i", F.round(F.col("w") / F.col("_n"), sync_dp).alias("v")),
            lazy=True,
        )

    sgn_row = v.agg(
        F.max_by(
            "v", F.struct(F.abs(F.col("v")).alias("a"), (-F.col("i")).alias("ni"))
        ).alias("_vstar")
    ).select(
        F.when(F.col("_vstar") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("_s")
    )
    lam = (
        cov.join(F.broadcast(v.select(F.col("i").alias("j"), F.col("v").alias("vj"))), "j")
        .join(F.broadcast(v.select("i", F.col("v").alias("vi"))), "i")
        .agg(F.sum(F.col("vi") * F.col("c") * F.col("vj")).alias("_lam"))
    )
    return (
        v.crossJoin(F.broadcast(sgn_row))
        .crossJoin(F.broadcast(lam))
        .select(
            F.col("i").cast("bigint").alias("dim"),
            F.round(F.col("_s") * F.col("v"), 6).alias("loading_r"),
            F.round("_lam", 6).alias("eigval_r"),
        )
    )


def embedding_isotropy(df: DataFrame, vec_col: str) -> DataFrame:
    """Corpus-level embedding-space diagnostic: mean pairwise cosine (the
    anisotropy signal of Ethayarajh 2019 — near 0 = directions spread, near
    1 = embeddings collapsed into a cone, which kills cosine-based dedup and
    ANN contrast) plus count and mean norm — WITHOUT ever forming a pair.

    The identity: with unit-normalized u_i and S = Σ u_i,
    Σ_{i≠j} <u_i, u_j> = ‖S‖² − n, so mean pairwise cosine =
    (‖S‖² − n) / (n(n−1)). Plan: one map-side normalize + posexplode into
    (i, u_i[x]) partials, a dim-sized groupBy (map-side combined — the
    shuffle carries ≤ dim rows per partition at ANY corpus size), one
    dim-row sum of squares, and a single-row stats broadcast. The exact
    O(n²) mean cosine is what cosine_calibration samples; this is its
    closed-form corpus aggregate. NULL and zero-norm vectors are excluded
    (they have no direction). mean_pairwise_cos is NULL when n < 2.
    """
    from ..functions.vector import norm as _vnorm

    v = F.col(vec_col)
    nrm = _vnorm(v)
    # The norm fold must be computed ONCE per row, not once per element:
    # dividing inside a transform() lambda inlines the 64-step aggregate
    # fold into every element's expression (CollapseProject duplicates it),
    # a dim× constant measured at 8.7s/10x. Exploding FIRST puts a Generate
    # barrier under the division, so nrm is evaluated once (filter +
    # projection share it via codegen subexpression elimination) and each
    # exploded element pays one try_divide. try_divide keeps ANSI
    # constant-folding over LocalRelation inputs total — NULL never
    # survives the nrm > 0 filter.
    nz = df.filter(v.isNotNull() & (nrm > 0)).select(v.alias("_v"), nrm.alias("nrm"))
    s = (
        nz.select("nrm", F.posexplode("_v").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum(F.try_divide(F.col("x").cast("double"), F.col("nrm"))).alias("si"))
    )
    a = s.agg(F.sum(F.col("si") * F.col("si")).alias("s2"))
    c = nz.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("nrm"), 6).alias("mean_norm"),
    )
    return a.crossJoin(F.broadcast(c)).select(
        "n",
        "mean_norm",
        F.when(
            F.col("n") > 1,
            F.round((F.col("s2") - F.col("n")) / (F.col("n") * (F.col("n") - F.lit(1.0))), 6),
        ).alias("mean_pairwise_cos"),
    )


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    threshold: float = 0.9,
    centroids: list[list[float]] | None = None,
    assign: str = "literal",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space, then pruning
    near-identical pairs WITHIN each cluster — the embedding-side analog of
    MinHash-LSH dedup, catching paraphrases/re-encodes that share no exact
    n-grams. Returns the KEPT rows as (id, cell).

    Rule: a row is dropped iff some SMALLER-id row in its cell has rounded
    cosine ≥ threshold to it — every near-dup group keeps exactly its
    lowest id (the dedup_select keep-min convention; the paper keeps the
    point closest to the centroid — keep-min is the order-independent,
    rerun/append/layout-stable variant of the same ε-prune, and like the
    paper's rule it never drops a whole group: the minimum id of a group
    cannot have a smaller neighbor).

    Scale shape — the whole reason SemDeDup beats brute-force pair scans:
    the self-join is an EQUI-join on the cell id, so the quadratic is
    bounded by the LARGEST CELL, never the corpus (paper runs 50k clusters
    over 5B embeddings). n_cells is the knob: size it so corpus/n_cells
    rows fit a comfortable pairwise pass (~10⁴–10⁵), i.e. n_cells grows
    linearly with the corpus; cells are also the natural partition key for
    the probe-side parquet layout (with_ivf_cell docstring). Assignment is
    a map-only codegen expression over centroid literals.

    Deterministic end to end: md5-sample centroids (ivf_centroids) →
    first-max cell assignment → rounded-cosine threshold → keep-min — every
    step has an exact DuckDB twin (the ann_ivf oracle machinery), so even
    the APPROXIMATE output (cross-cell near-dups are missed by design —
    that recall loss is the documented SemDeDup trade) is hash-checkable.
    Swap kmeans_lloyd centroids in (pass `centroids=`) when cluster
    balance matters more than train cost."""
    from ..functions.vector import dot, norm

    if assign not in ("literal", "broadcast"):
        raise ValueError(f"semdedup: assign must be literal|broadcast, got {assign!r}")
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(df, vec_col, id_col, n_cells)
    )
    # assign="literal" inlines the centroids into one codegen argmax (best
    # for small n_cells); "broadcast" is the large-k table path
    # (with_ivf_cell_broadcast) for when n_cells is sized to the corpus —
    # pinned bit-identical, so the choice is pure cost
    assigner = with_ivf_cell if assign == "literal" else with_ivf_cell_broadcast
    # localCheckpoint: the assignment feeds BOTH pair-join sides AND the
    # final anti-join — without it the n_cells·dim argmax expression is
    # compiled and evaluated once per branch (the pmi_cooccur precedent;
    # measured 3.8 s → 2.4 s at sf0.1 for identical output)
    a = materialize(
        assigner(df.filter(F.col(vec_col).isNotNull()), vec_col, cents)
        .select(F.col(id_col), F.col(vec_col), F.col("ivf_cell").alias("cell"))
    )
    # norms once per ROW before the pair join, not per pair — 5× fewer
    # array folds in the quadratic hot loop (embedding_neardup_exact
    # precedent; identical float value, so the oracle still matches)
    left = a.select(
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"),
        "cell",
    )
    right = a.select(
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"),
        "cell",
    )
    sim = F.when(
        (F.col("_na") == 0.0) | (F.col("_nb") == 0.0), F.lit(0.0)
    ).otherwise(dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
    drops = (
        left.join(right, "cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(F.round(sim, 6) >= F.lit(float(threshold)))
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    return a.join(drops, id_col, "left_anti").select(id_col, "cell")


def embedding_index_probe(
    new_vecs: DataFrame,
    corpus_vecs: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    cell_col: str = "cell",
) -> DataFrame:
    """Cell-blocked near-dup probe of a NEW batch of vectors against a
    persisted corpus vector table — the incremental (ingest-time) form of
    `semdedup`, and the embedding analog of dedup.minhash_lsh_probe: both
    sides already carry their IVF cell under the SAME fixed centroids, so
    the candidate join is an equi-join on the cell id and only the
    batch-sized side is new work; the corpus is never re-embedded or
    re-assigned. Returns (new_id, corpus_id, cos_sim) with rounded cosine
    ≥ threshold; exact self-matches (a replayed batch probing an index
    that already contains it) are dropped.

    The blocking trade is semdedup's: a near-dup pair straddling a cell
    boundary is missed, deterministically — the same pair set at any
    batch size or replay history. Norms computed once per row before the
    join (embedding_neardup_exact precedent) — or read straight from the
    layout when a side carries a persisted `_norm` column (r12: the
    index writers store it, so re-probing a grown corpus stops paying a
    per-row array fold per probe; `_norm` is the same deterministic
    norm(vec) computed at write time, and float round-trips parquet
    exactly, so the value is bit-identical). The read is
    coalesce-guarded: rows from legacy subdirs without the column (a
    mixed-schema glob) fall back to computing norm(vec) in place."""
    from ..functions.vector import dot, norm

    def _norm_of(df):
        if "_norm" in df.columns:
            return F.coalesce(F.col("_norm"), norm(F.col(vec_col)))
        return norm(F.col(vec_col))

    left = new_vecs.select(
        F.col(id_col).alias("new_id"),
        F.col(vec_col).alias("_va"),
        _norm_of(new_vecs).alias("_na"),
        F.col(cell_col).alias("_cell"),
    )
    right = corpus_vecs.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("_vb"),
        _norm_of(corpus_vecs).alias("_nb"),
        F.col(cell_col).alias("_cell"),
    )
    sim = F.when(
        (F.col("_na") == 0.0) | (F.col("_nb") == 0.0), F.lit(0.0)
    ).otherwise(dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
    return (
        left.join(right, "_cell")
        .filter(F.col("new_id") != F.col("corpus_id"))
        .withColumn("cos_sim", F.round(sim, 6))
        .filter(F.col("cos_sim") >= F.lit(float(threshold)))
        .select("new_id", "corpus_id", "cos_sim")
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 3,
) -> DataFrame:
    """Similarity-mined hard negatives for contrastive training (the ANCE
    insight — Xiong et al. 2021, arXiv:2007.00808: negatives that are
    globally the MOST similar wrong-label items dominate the gradient
    signal, while random negatives quickly become uninformative): for
    each anchor, the top-k highest-cosine corpus rows with a DIFFERENT
    label. Complements contrastive_pairs' content-independent random
    negatives — this is the mining pass an embedding-training loop runs
    per epoch.

    One corpus scan for the whole anchor batch: broadcast anchors, score
    every (anchor, corpus) pair with a different label, per-anchor
    window top-k — the vec_knn_batch shape (bounded by |anchors| ×
    corpus, with |anchors| the batch knob). At 100 TB the same mining
    runs per IVF cell / LSH bucket (ann_ivf / lsh_candidates) so each
    anchor scores only its neighborhood; the exact pass here is the
    oracle-checkable semantics both share."""
    from pyspark.sql import Window

    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("anchor_vec"),
        F.col(label_col).alias("anchor_label"),
    )
    scored = (
        corpus.filter(F.col(vec_col).isNotNull())
        .join(
            F.broadcast(a.filter(F.col("anchor_vec").isNotNull())),
            F.col(label_col) != F.col("anchor_label"),
        )
        .select(
            "anchor_id",
            F.col(id_col).alias("negative_id"),
            F.col(label_col).alias("negative_label"),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("anchor_vec")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def hard_negatives_scoped(
    corpus: DataFrame,
    anchors: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """The 100 TB path for `hard_negatives` (VERDICT r9 #2): mine each
    anchor's top-k different-label negatives from its IVF NEIGHBORHOOD
    instead of the whole corpus. The exact pass is |anchors| × corpus by
    construction (an allowlisted BNLJ); here every anchor scores only the
    rows of its `nprobe` nearest cells, so the pair count is
    |anchors| × (nprobe/n_cells) × corpus — and with n_cells ∝ corpus
    (the semdedup recipe) the per-anchor cost is CONSTANT in corpus size.
    Hard negatives live near the anchor in embedding space by definition
    (that is what makes them hard), so the cells that matter are exactly
    the ones probed — recall@k vs the exact pass is pinned ≥ 8/10 in
    pytest (the ann_quantized precedent).

    Plan shape: one map-only cell assign over the corpus (with_ivf_cell,
    codegen argmax), then an anchor→cell probe via a broadcast join on the
    (n_cells)-row centroid table + per-anchor top-nprobe, ONE equi-join
    on the cell id (hash join, no BNLJ) with the different-label residual, and the
    same per-anchor window top-k as the exact pass. At ingest scale
    the corpus side rides a `partitionBy("ivf_cell")` layout so each
    anchor's probe reads only its cells' files. Centroids are the
    deterministic md5-sample of `ivf_centroids` — the same family the
    cluster_keywords DuckDB twin mirrors, so the whole scoped pass is
    oracle-checkable."""
    from pyspark.sql import Window

    from ..functions.vector import dot

    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, vec_col, id_col, n_cells)
    )

    spark = corpus.sparkSession
    cdf = spark.createDataFrame(
        [(i, _unit(c)) for i, c in enumerate(cents)],
        "_cell int, _u array<double>",
    )
    tagged = with_ivf_cell(
        corpus.filter(F.col(vec_col).isNotNull()), vec_col, cents
    ).select(
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("_nv"),
        F.col(label_col).alias("negative_label"),
        F.col("ivf_cell").alias("_cell"),
    )
    a = anchors.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("anchor_vec"),
        F.col(label_col).alias("anchor_label"),
    )
    wprobe = Window.partitionBy("anchor_id").orderBy(
        F.desc("_s"), F.asc("_cell")
    )
    probes = (
        a.join(F.broadcast(cdf))
        .select(
            "anchor_id", "anchor_vec", "anchor_label", "_cell",
            dot(F.col("anchor_vec"), F.col("_u")).alias("_s"),
        )
        .withColumn("_pr", F.row_number().over(wprobe))
        .filter(F.col("_pr") <= nprobe)
        .select("anchor_id", "anchor_vec", "anchor_label", "_cell")
    )
    scored = tagged.join(probes, "_cell").filter(
        F.col("negative_label") != F.col("anchor_label")
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("negative_id")
    )
    return (
        scored.select(
            "anchor_id",
            "negative_id",
            "negative_label",
            F.round(
                cosine_similarity(F.col("_nv"), F.col("anchor_vec")), 6
            ).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    id_col: str,
    threshold: float = 0.0,
) -> DataFrame:
    """Label-noise audit (the confident-learning / dataset-cartography
    screen every labeled training set runs before fine-tuning): rows
    whose embedding is ANTI-ALIGNED with their own label's centroid —
    cosine(v, centroid_label) below `threshold` — are mislabel suspects:
    a correctly-labeled row sits on its class centroid's side of the
    sphere by construction (the centroid contains it).

    Plan shape: per-label centroid via the embedding_centroids shape
    (posexplode + partial-agg avg — shuffle carries label×dim scalar
    sums, never vectors), rebuilt into arrays and BROADCAST back
    (labels are a data invariant); one map-only cosine pass; the 6dp
    round runs before the threshold compare so the cut is
    engine-agnostic. Output: (id, label, cos_centroid_r) for flagged
    rows — feed ids to a relabel/drop queue."""
    cents = (
        embedding_centroids(df, vec_col, label_col, id_col)
        .groupBy("grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("_cv")
        )
    )
    scored = (
        df.filter(F.col(vec_col).isNotNull())
        .join(F.broadcast(cents), F.col(label_col) == F.col("grp"))
        .select(
            F.col(id_col),
            F.col(label_col),
            F.round(cosine_similarity(F.col(vec_col), F.col("_cv")), 6).alias(
                "cos_centroid_r"
            ),
        )
    )
    return scored.filter(F.col("cos_centroid_r") < threshold)


def kcenter_select(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    traversal — the geometric backbone of coreset data selection, e.g.
    Sener & Savarese 2018 active learning): start from a deterministic
    seed, then repeatedly add the point FARTHEST from the chosen set.
    The k selected rows 2-approximate the optimal k-center cover, and
    the per-round d_min trace IS the coverage-radius curve a curation
    run reads to pick k. The diversity-first complement to semdedup's
    redundancy removal.

    Scale shape (the kmeans/BPE loop contract): the per-row min-distance
    STATE is a slim (id, dmin) table updated by one map-only pass per
    round (least(dmin, dist-to-new-center), broadcast single vector) and
    localCheckpointed so plan depth stays linear; the argmax is a
    rounded top-1 orderBy().limit(1) — TakeOrdered, a per-partition
    max + k-way driver merge, never a global sort; driver state is ONE
    row per round. Distances round to 6dp BEFORE both the least() fold
    and the argmax so every engine cuts identically (round-before-sort).
    Seed = lowest-(md5_low32(id), id) row — the ivf_centroids sample
    family, so a SQL twin reproduces it. Output: (round, center_id,
    d_min_r) with d_min_r the selection-time farthest distance (NULL
    for the seed round)."""
    from ..functions.text import md5_low32

    base = materialize(
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    )
    seed = (
        base.orderBy(md5_low32(F.col("_id").cast("string")), F.col("_id"))
        .limit(1)
        .collect()
    )
    if not seed:
        raise ValueError(
            "kcenter_select: corpus has no non-null vectors — an empty "
            "selection pool is a config error, not a result"
        )
    chosen = [(1, seed[0]["_id"], None)]
    state = materialize(base.select(
        "_id", "_v",
        F.round(euclidean(F.col("_v"), probe_lit(seed[0]["_v"])), 6).alias("_dmin"),
    ))
    for r in range(2, int(k) + 1):
        far = state.orderBy(F.desc("_dmin"), F.asc("_id")).limit(1).collect()[0]
        chosen.append((r, far["_id"], float(far["_dmin"])))
        state = materialize(state.select(
            "_id",
            "_v",
            F.least(
                F.col("_dmin"), F.round(euclidean(F.col("_v"), probe_lit(far["_v"])), 6)
            ).alias("_dmin"),
        ))
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        chosen, f"round int, center_id {id_type}, d_min_r double"
    )


def mmr_select(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    probe: list[float],
    k: int = 8,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998
    — the relevance-vs-redundancy dial every RAG retriever and
    few-shot-exemplar picker ships): greedily select k rows maximizing
    lam·sim(probe, d) − (1−lam)·max_{s∈chosen} sim(d, s). Pure top-k
    returns k near-duplicates of the best hit; lam trades that
    relevance against coverage of distinct regions — kcenter_select is
    the lam→0 limit (pure diversity), knn the lam→1 limit.

    Scale shape (the kcenter/kmeans loop contract): relevance is
    computed ONCE per row map-only; the per-row redundancy STATE is a
    slim (id, rel, maxsim) table updated by one map-only
    greatest(maxsim, sim-to-new-pick) pass per round against a
    broadcast single vector, localCheckpointed so plan depth stays
    linear; each pick is a rounded top-1 orderBy().limit(1) —
    TakeOrdered (per-partition max + driver merge, never a global
    sort); driver state is ONE row per round. Similarities and the
    fused score round 6dp BEFORE every compare (round-before-sort).
    Output: (round, sel_id, relevance_r, mmr_r) — mmr_r is NULL for
    the seed pick (pure-relevance argmax)."""
    from ..functions.vector import norm

    # similarity to each freshly picked (collected) vector: the corpus-side
    # norm is carried as the `_nv` column (one fold at seed time instead of
    # one per row PER ROUND), the pick-side norm folds once on the driver
    base = materialize(
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            norm(F.col(vec_col)).alias("_nv"),
            F.round(cosine_to_probe(F.col(vec_col), probe), 6).alias("_rel"),
        )
    )
    first = base.orderBy(F.desc("_rel"), F.asc("_id")).limit(1).collect()
    if not first:
        raise ValueError(
            "mmr_select: corpus has no non-null vectors — an empty "
            "selection pool is a config error, not a result"
        )
    chosen = [(1, first[0]["_id"], float(first[0]["_rel"]), None)]
    state = materialize(
        base.filter(F.col("_id") != F.lit(first[0]["_id"]))
        .select(
            "_id",
            "_v",
            "_nv",
            "_rel",
            F.round(
                cosine_to_probe(F.col("_v"), first[0]["_v"], a_norm=F.col("_nv")), 6
            ).alias("_ms"),
        )
    )
    for r in range(2, int(k) + 1):
        mmr = F.round(
            F.lit(float(lam)) * F.col("_rel")
            - F.lit(1.0 - float(lam)) * F.col("_ms"),
            6,
        )
        best = (
            state.withColumn("_mmr", mmr)
            .orderBy(F.desc("_mmr"), F.asc("_id"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        b = best[0]
        chosen.append((r, b["_id"], float(b["_rel"]), float(b["_mmr"])))
        state = materialize(
            state.filter(F.col("_id") != F.lit(b["_id"]))
            .select(
                "_id",
                "_v",
                "_nv",
                "_rel",
                F.greatest(
                    F.col("_ms"),
                    F.round(
                        cosine_to_probe(F.col("_v"), b["_v"], a_norm=F.col("_nv")), 6
                    ),
                ).alias("_ms"),
            ),
            # lazy checkpoint (r11): the NEXT round's top-1 collect
            # materializes-and-persists this in ITS job instead of paying a
            # separate eager job per round — half the jobs, value-neutral,
            # plan depth still O(1) once persisted
            lazy=True,
        )
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        chosen, f"round int, sel_id {id_type}, relevance_r double, mmr_r double"
    )
