"""Deduplication operators for the training-data pipeline (north star).

  - exact_dedup:        md5-content groupBy (one shuffle on the hash key)
  - ngram_jaccard_pairs: exact k-shingle Jaccard via shingle-explode +
                         equi-join on shingle (oracle-checkable in SQL)
  - minhash_signatures / minhash_lsh_pairs: MinHash + banded LSH —
    the 100 TB path: candidate pairs come from an equi-join on
    (band, band-hash), never a cross product
  - simhash64: 64-bit SimHash fingerprint per document
  - embedding_neardup_exact / _lsh: cosine near-dup on embedding columns

All hashes are deterministic (xxhash64/md5 with fixed seeds), no RNG state.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Column

from ..functions.sketch import minhash_from_hashes
from ..functions.text import fingerprint, md5_low60, token_hash, tokens, word_shingles
from ..functions.vector import cosine_similarity
from ..metrics import materialize
from ..tables import spread


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct normalized text: (fingerprint, canonical id =
    min id, n_dups). Hash-groupBy — a single shuffle on the md5 key, which
    is uniformly distributed → no skew at any scale."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).cast("bigint").alias("canonical_id"),
            F.count("*").cast("bigint").alias("n_dups"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact Jaccard similarity over distinct k-word shingles, pairs above
    threshold (id_a < id_b). Worst case quadratic (near-identical corpora
    intersect on every shingle), so it raises above `max_rows` input rows —
    minhash_lsh_pairs is the scale path; pass max_rows=None to opt out.

    Plan shape: explode distinct shingles → self-equi-join on shingle →
    groupBy pair counting intersections → |A∪B| = |A|+|B|-|A∩B|. Shuffles
    on the shingle key; hot shingles (stopword runs) are the skew risk at
    scale — AQE skew-join splitting handles them, and k>=3 keeps shingle
    frequency low. Exact semantics → DuckDB oracle twin.
    """
    _guard_quadratic(df, id_col, max_rows, "ngram_jaccard_pairs", "minhash_lsh_pairs")
    # checkpoint: THREE consumers (sizes, both self-join sides) each re-ran
    # the shingle explode without it (r12 plan read — the sizes branch and
    # the join sides scanned the corpus separately; guide §1.2). Bounded
    # storage: the operator is max_rows-guarded by contract.
    sh = materialize(spread(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
    ))
    sizes = sh.groupBy("doc").agg(F.count("*").cast("bigint").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


N_MINHASH = 64  # signature length; 16 bands × 4 rows


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, hash_fn: str = "xxhash64"
) -> DataFrame:
    """MinHash signature per document: for each of N_MINHASH multiply-add
    remixes of the shingle's xxhash64, the min over the doc's shingles.

    Plan shape: explode shingles → xxhash64 per shingle (whole-stage
    codegen) → one collect_list shuffle keyed by doc id (uniform,
    skew-free) → Arrow-batched numpy remix+min (functions/sketch.py). The
    64-parallel-min-aggregates formulation stays in the repo history as the
    pure-SQL fallback but overflows codegen method limits and runs ~10×
    slower interpreted. Docs with fewer than k tokens produce no shingles →
    no signature row.
    """
    sh = spread(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
    )
    pre = sh.select("doc", token_hash(F.col("shingle"), hash_fn).alias("h"))
    return pre.groupBy("doc").agg(
        minhash_from_hashes(F.collect_list("h")).alias("signature")
    )


def checkpointed_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int, hash_fn: str
) -> DataFrame:
    """Non-null MinHash signatures behind a lazy checkpoint: every consumer
    of one corpus's signatures (banding, estimate re-attach, counts, index
    writes) reads one signature job instead of replaying explode + hash +
    groupBy each. The first action on the result fills it."""
    return materialize(
        minhash_signatures(df, text_col, id_col, k, hash_fn).filter(F.col("signature").isNotNull()),
        lazy=True,
    )


def _est_jaccard(sig_a: str, sig_b: str) -> Column:
    """Estimated Jaccard of two signatures: the fraction of equal positions,
    rounded to 6 decimals like the DuckDB twins."""
    same = F.filter(
        F.zip_with(F.col(sig_a), F.col(sig_b), lambda x, y: (x == y).cast("int")),
        lambda v: v == 1,
    )
    return F.round(F.size(same) / float(N_MINHASH), 6)


def banded_signatures(sigs: DataFrame, bands: int = 16) -> DataFrame:
    """Explode a (doc, signature) table into slim (doc, band, bkey) rows —
    the LSH band index. At ingest this is what you PERSIST (partitioned or
    bucketed by band/bkey hash), so later batches probe it without touching
    raw text or re-banding the corpus (see minhash_lsh_probe)."""
    if bands < 1 or N_MINHASH % bands:
        raise ValueError(
            f"bands must divide N_MINHASH={N_MINHASH} (got {bands}) — a "
            f"non-divisor would silently drop the trailing signature "
            f"positions from every band key"
        )
    rows_per_band = N_MINHASH // bands
    return sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.array(
                            *[F.col("signature")[i * rows_per_band + j] for j in range(rows_per_band)]
                        ).alias("bkey"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.bkey")


def minhash_lsh_probe(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    corpus_banded: DataFrame | None = None,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup: sign ONLY the new batch and probe an existing
    signature corpus — the append-only production shape. A growing corpus
    never re-signs or re-bands old documents: signatures and the band index
    persist at ingest (minhash_signatures → banded_signatures, written
    partitioned by band), and each arriving batch pays cost ∝ batch size.

    Pass `corpus_banded` when the band index is already materialized (the
    ingest layout above); otherwise it is derived from `corpus_sigs` — fine
    for tests, but at scale that re-explodes the whole corpus per batch,
    which is exactly what the persisted index avoids. Pass `new_sigs`
    ((doc, signature), non-null) when the caller already computed the
    batch signatures — the streaming ingest path appends them to the
    index anyway, so re-signing here would double the batch's one real
    cost.

    Output: (new_id, corpus_id, est_jaccard >= threshold). Same banding,
    estimate, and hash-family semantics as minhash_lsh_pairs, so md5-family
    runs carry a full DuckDB twin (declared query `minhash_incremental`).
    """
    if new_sigs is None:
        new_sigs = checkpointed_signatures(new_df, text_col, id_col, k, hash_fn)
    banded_new = banded_signatures(new_sigs, bands).alias("n")
    banded_idx = (
        corpus_banded if corpus_banded is not None else banded_signatures(corpus_sigs, bands)
    ).alias("c")
    cand = (
        banded_new.join(
            banded_idx,
            (F.col("n.band") == F.col("c.band")) & (F.col("n.bkey") == F.col("c.bkey")),
        )
        .select(F.col("n.doc").alias("new_id"), F.col("c.doc").alias("corpus_id"))
        # A checkpoint-replayed ingest batch probes an index that already
        # contains its own docs: drop self-matches (new_id == corpus_id,
        # est 1.0) rather than emit them as "near-dups". Filter on the
        # projected names — referencing n.doc/c.doc after the select would
        # lean on ResolveMissingReferences reaching through the Project.
        .filter(F.col("new_id") != F.col("corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
    )
    sn = new_sigs.select(F.col("doc").alias("new_id"), F.col("signature").alias("sig_a"))
    sc = corpus_sigs.select(
        F.col("doc").alias("corpus_id"), F.col("signature").alias("sig_b")
    )
    return (
        cand.join(sn, "new_id")
        .join(sc, "corpus_id")
        .withColumn("est_jaccard", _est_jaccard("sig_a", "sig_b"))
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "corpus_id", "est_jaccard")
        # Defense against duplicate index rows (e.g. a non-idempotent
        # append replay): duplicated corpus sigs fan out the estimate join
        # into identical pair rows — collapse them. The dedup runs on the
        # PAIRS table (output-sized), never on the corpus.
        .dropDuplicates(["new_id", "corpus_id"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, verified with the
    estimated Jaccard (fraction of matching signature positions).

    Scale path: each doc emits `bands` (band_idx, band_slice) keys; candidate
    generation is a self-equi-join on that key — shuffle ∝ corpus size, not
    corpus². rows-per-band = N_MINHASH // bands sets the S-curve. The band
    key is the EXACT slice of signature values (no band-hash): ~40 B/row vs
    16 — still slim — and it removes the last xxhash64 from the pair
    pipeline, so with hash_fn='md5' the whole operator has a DuckDB twin.

    PIPELINE-ORDER HAZARD: run `exact_dedup` FIRST. A clique of m exact
    copies shares every band key, so one bucket emits m(m-1)/2 candidate
    pairs — the output itself is quadratic in the clique size, and no
    banding dial can fix that because the pairs are all true near-dups.
    Deduping exact copies first collapses the clique to one row (the
    composed-chain order in tools/composed_chain.py and the e2e test);
    tests/test_dedup.py::test_exact_dedup_first_bounds_lsh_pairs pins the
    m=200 case: 19,900 pairs raw vs 0 after exact-dedup-first.

    The signatures sit behind a lazy localCheckpoint: one signing job feeds
    all three consumers, and nothing stays in the session's cache after
    the query (a repeat call signs again).
    """
    return lsh_pairs_from_signatures(
        checkpointed_signatures(df, text_col, id_col, k, hash_fn), bands, threshold
    )


def lsh_pairs_from_signatures(
    sigs: DataFrame, bands: int = 16, threshold: float = 0.5
) -> DataFrame:
    """The banding + verify half of minhash_lsh_pairs over a (doc,
    signature) table of non-null signatures: (id_a < id_b, est_jaccard >=
    threshold). `sigs` has three consumers (the banding and one estimate
    re-attach per side), so pass it materialized — a localCheckpoint.

    Candidate generation joins on SLIM (doc, band, bkey) rows instead of
    dragging the 64-long signature through a `bands`×-exploded shuffle;
    signatures (~520 B/doc, ≪ raw text) are re-attached once per side.
    """
    banded = banded_signatures(sigs, bands)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col("doc").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc").alias("id_b"), F.col("signature").alias("sig_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", _est_jaccard("sig_a", "sig_b"))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def lsh_blocking_eval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    bands: int = 16,
    thresholds: tuple[float, ...] = (0.2, 0.3, 0.5),
    hash_fn: str = "xxhash64",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Blocking-quality audit for banded MinHash LSH: per truth threshold,
    the recall / precision / candidate-reduction of the production banded
    candidate generator measured against EXACT n-gram Jaccard ground truth
    on the same corpus — the evaluation you run before committing a
    (bands, rows-per-band) configuration to a full-corpus dedup pass.

    Scale story: exact ground truth is quadratic-risk, so at 100 TB this
    runs on a STRATIFIED SAMPLE of the corpus (pass `df` pre-sampled;
    `_guard_quadratic` enforces the bound exactly as in
    ngram_jaccard_pairs) — sample-estimated recall is the standard audit
    for a blocking configuration. Candidates come from the UNFILTERED
    banded equi-join (threshold=0.0 keeps every banded candidate, which is
    what "blocking recall" measures); truth∩candidates is one pair-key
    equi-join; the two corpus-level scalars (candidate count, signable-doc
    count) are single-row aggregates broadcast onto the per-threshold rows
    (pinned in tests/test_plans.py's cartesian allowlist).

    Output, one row per threshold t:
      (threshold, n_truth, n_hit, n_cand, recall, precision,
       reduction_ratio) where n_truth = |{pairs: exact_jaccard >= t}|,
      n_hit = |truth_t ∩ candidates|, recall = n_hit/n_truth,
      precision = n_hit/n_cand, reduction_ratio = 1 - n_cand/(n·(n-1)/2)
      over the n signable docs. Ratios are NULL when their denominator is
      0; output is empty when no pair reaches min(thresholds) (every row
      is derived from a truth pair).
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    tmin = min(thresholds)
    truth = ngram_jaccard_pairs(
        df, text_col, id_col, k=k, threshold=tmin, max_rows=max_rows
    ).select("id_a", "id_b", "jaccard")
    # One signing pass feeds both the candidates and the n_sig scalar.
    sigs = checkpointed_signatures(df, text_col, id_col, k, hash_fn)
    # checkpoint: TWO consumers (the truth left-join and the n_cand scalar)
    # each re-ran the full banded self-join + estimate re-attach without it
    # (r12 plan read — the cand subtree appeared twice; guide §1.2). The
    # materialized table is candidate-pairs-sized, not corpus-sized.
    cand = materialize(lsh_pairs_from_signatures(sigs, bands, threshold=0.0).select(
        "id_a", "id_b", F.lit(1).alias("is_cand")
    ))
    # one pass: every truth pair fans out to all thresholds (tiny, bounded by
    # the guarded truth size), conditional sums keep a row per threshold even
    # when n_truth is 0 for the stricter ones
    scored = truth.join(cand, ["id_a", "id_b"], "left").select(
        F.explode(F.array(*[F.lit(float(t)) for t in thresholds])).alias("threshold"),
        "jaccard",
        F.coalesce(F.col("is_cand"), F.lit(0)).alias("is_cand"),
    )
    is_truth = (F.col("jaccard") >= F.col("threshold")).cast("int")
    per_t = scored.groupBy("threshold").agg(
        F.sum(is_truth).cast("bigint").alias("n_truth"),
        F.sum(is_truth * F.col("is_cand")).cast("bigint").alias("n_hit"),
    )
    scalars = (
        cand.agg(F.count("*").cast("bigint").alias("n_cand"))
        .crossJoin(sigs.agg(F.count("*").cast("bigint").alias("n_sig")))
    )
    total_pairs = F.col("n_sig") * (F.col("n_sig") - 1) / F.lit(2.0)
    return (
        per_t.crossJoin(F.broadcast(scalars))
        .select(
            "threshold",
            "n_truth",
            "n_hit",
            "n_cand",
            F.when(
                F.col("n_truth") > 0, F.round(F.col("n_hit") / F.col("n_truth"), 6)
            ).alias("recall"),
            F.when(
                F.col("n_cand") > 0, F.round(F.col("n_hit") / F.col("n_cand"), 6)
            ).alias("precision"),
            F.when(F.col("n_sig") > 1, F.round(F.lit(1.0) - F.col("n_cand") / total_pairs, 6)).alias(
                "reduction_ratio"
            ),
        )
    )


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    chase_after: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id = min id
    in the component): the step that turns pairwise near-dup evidence
    (Jaccard/MinHash/embedding pairs) into dedup GROUPS so one canonical
    doc survives per cluster. Transitive: {a,b} + {b,c} → one cluster {a}.

    Min-label propagation WITH pointer doubling (path shortcutting): each
    round every node takes min(own label, neighbors' labels); from round
    `chase_after` on it also chases its label one extra hop
    (label ← label[label]). The shortcut halves label-chain length every
    round, so the fixpoint (unique, order-independent → deterministic)
    arrives in O(log diameter) rounds — max_iter=25 covers components of
    diameter ~2^25, vs 25 hops for the plain one-hop loop (a real limit:
    near-dup chains in pre-training corpora routinely exceed 25 hops).
    The chase join is deferred past the first `chase_after` rounds because
    real near-dup graphs are dominated by diameter-≤4 cliques that
    converge before it would help — no extra shuffle on the common case,
    log-round guarantee on the pathological one. Per round: one equi-join
    + one groupBy (+ one label self-join once chasing), all on uniform id
    keys; `localCheckpoint` cuts the growing lineage so round N's plan does
    not replay rounds 1..N-1 (the classic iterative-Spark trap). The
    convergence check (how many labels changed) is observed inside that
    checkpoint's own job, so every round is confirmed with no extra action.

    Raises RuntimeError if convergence is not confirmed within max_iter
    rounds — silently returning partial (wrong) cluster labels is never
    acceptable in a dedup pipeline. Pass `stats={}` to read back
    `stats["rounds"]`.
    """
    if max_iter < 1:
        raise ValueError(f"dedup_components: max_iter must be >= 1, got {max_iter}")
    edges_fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # read every round; the labels job below fills it
    edges = materialize(
        edges_fwd.union(edges_fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
        lazy=True,
    )
    labels = materialize(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    changed = None
    rounds = 0
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, labels["id"] == nbr_min["src"], "left").select(
            F.col("id"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            F.col("label").alias("_old"),
        )
        if rounds >= chase_after:
            # Pointer doubling: labels only ever decrease toward the
            # component min, so label[label] is always a valid (≤) label in
            # the same component — chasing it turns diameter rounds into log.
            chase = stepped.select(
                F.col("id").alias("_pid"), F.col("label").alias("_plabel")
            )
            stepped = stepped.join(
                chase, stepped["label"] == chase["_pid"], "left"
            ).select(
                F.col("id"),
                F.least(
                    F.col("label"), F.coalesce(F.col("_plabel"), F.col("label"))
                ).alias("label"),
                F.col("_old"),
            )
        labels, got = materialize(
            stepped,
            counts={"changed": F.count_if(F.col("label") != F.col("_old"))},
            select=["id", "label"],
        )
        rounds += 1
        changed = got["changed"]
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    if changed != 0:
        raise RuntimeError(
            f"dedup_components did not converge: convergence not confirmed "
            f"within max_iter={max_iter} rounds ({changed} labels still "
            f"changing in round {rounds}) — raise max_iter (pointer doubling "
            f"covers component diameter ~2^max_iter)"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Benchmark-contamination check: for each eval document, the fraction of
    its distinct k-word shingles that appear ANYWHERE in the training corpus
    (the n-gram-overlap decontamination step every pre-training pipeline runs
    before evaluating on held-out benchmarks).

    Output: one row per eval doc — (id, n_shingles, n_overlap, overlap_ratio,
    contaminated >= threshold). Eval docs with < k tokens have no shingles →
    ratio 0.0, never flagged.

    Plan shape for 100 TB of train against a small eval set:
    1. both sides reduce to DISTINCT shingle HASHES (8-byte keys via
       `hash_fn`, never the shingle strings) — the train side is one
       map-side-combined distinct, shuffle ∝ distinct n-grams, not corpus;
    2. the membership probe is a left-semi equi-join on the hash (eval =
       stream side, train distinct-hashes = build side) — Catalyst
       broadcasts the train-hash side when it fits, otherwise it is a
       shuffled semi join on the uniform 8-byte hash key; either way hot
       shingles cannot explode output (semi join emits each eval row at
       most once);
    3. per-doc totals and hits are two partial-aggregated groupBys on the
       uniform doc id.
    """
    tr = (
        spread(train, id_col)
        .select(F.explode(word_shingles(F.col(text_col), k)).alias("shingle"))
        .select(token_hash(F.col("shingle"), hash_fn).alias("sh"))
        .distinct()
    )
    ev = spread(eval_df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    ).select("doc", token_hash(F.col("shingle"), hash_fn).alias("sh"))
    tot = ev.groupBy("doc").agg(F.count("*").cast("bigint").alias("n_shingles"))
    hits = (
        ev.join(tr, "sh", "left_semi")
        .groupBy("doc")
        .agg(F.count("*").cast("bigint").alias("n_overlap"))
    )
    ratio = F.col("n_overlap") / F.col("n_shingles")
    return (
        eval_df.select(F.col(id_col).alias("doc"))
        .join(tot, "doc", "left")
        .join(hits, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
            F.round(F.coalesce(ratio, F.lit(0.0)), 6).alias("overlap_ratio"),
            (F.coalesce(ratio, F.lit(0.0)) >= threshold).alias("contaminated"),
        )
    )


def simhash64(df: DataFrame, text_col: str, id_col: str, hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash fingerprint over whitespace tokens: per bit, sign of the
    summed ±1 contributions of each token's hash bit — bit b is 1 iff
    STRICTLY more than half the tokens have bit b set (64 effective bits
    with xxhash64; 60 with the oracle-checkable md5 family — the high md5
    bits are always 0, so their sums are -n and the bits stay 0).

    Plan shape (r4 rewrite): explode tokens → one hash per token (codegen)
    → ONE HashAggregate per doc computing 64 conditional ±1 sums (fixed
    520-byte buffer per doc, map-side combined, never falls back to
    sort) → codegen bit assembly. The previous collect_list + Arrow
    kernel (functions/sketch.simhash_from_hashes, kept as the parity
    reference) hit ObjectHashAggregate's sort-based fallback at any real
    per-partition doc count and went 6-20× slower at 400k docs; the sums
    form measured 3.2s vs 69s there and scales linearly. Docs with zero
    tokens produce no row.
    """
    tok = spread(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    pre = tok.select("doc", token_hash(F.col("t"), hash_fn).alias("h"))
    sums = [
        F.sum(F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_s{i}")
        for i in range(64)
    ]
    fp = reduce(
        lambda a, b: a.bitwiseOR(b),
        [
            F.shiftleft(
                F.when(F.col(f"_s{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint"), i
            )
            for i in range(64)
        ],
    )
    return pre.groupBy("doc").agg(*sums).select("doc", fp.alias("simhash"))


def _guard_quadratic(df: DataFrame, id_col: str, max_rows, op: str, alt: str) -> None:
    """Refuse to run an O(n²) oracle baseline above `max_rows` input rows.

    The exact paths exist for correctness checking at small SF; nothing
    stops a caller from pointing one at a corpus where n² is a
    cluster-melter, and a 15 s bench scare in round 3 showed how easily
    that happens. The guard costs one slim-column count() (id column only —
    column-pruned scan); pass max_rows=None to opt out explicitly.
    """
    if max_rows is None:
        return
    n = df.select(id_col).count()
    if n > max_rows:
        raise RuntimeError(
            f"{op}: input has {n} rows > max_rows={max_rows} — this is the "
            f"exact O(n^2) oracle baseline, kept for correctness checking "
            f"only; use {alt} at corpus scale, or pass a higher max_rows "
            f"(or None) if you really mean it"
        )


def embedding_neardup_exact(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """All pairs with cosine >= threshold — exact O(n²) baseline (oracle
    path; used for correctness only — raises above `max_rows` input rows,
    pointing to embedding_neardup_lsh as the scale path).

    Norms are computed once per ROW before the cross join (not per pair):
    same expression tree, 3× fewer array folds in the O(n²) hot loop.
    """
    from ..functions.vector import dot, norm

    _guard_quadratic(df, id_col, max_rows, "embedding_neardup_exact", "embedding_neardup_lsh")
    a = spread(df, id_col).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), norm(F.col(vec_col)).alias("_na")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), norm(F.col(vec_col)).alias("_nb")
    )
    sim = F.when((F.col("_na") == 0.0) | (F.col("_nb") == 0.0), F.lit(0.0)).otherwise(
        dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(sim, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_neardup_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Scale path: sign-hash LSH candidates, then exact cosine verify.

    OR-amplified across `n_tables` independent hyperplane sets: a pair is a
    candidate if it collides in ANY table — recall at per-plane agreement
    p = 1 - theta/pi is 1-(1-p^planes)^tables. THE CONFIG MUST MATCH THE
    OPERATING THRESHOLD: the 8x4 default targets the true near-dup regime
    (cosine >= 0.9, p >= 0.86, recall ~0.89); at low thresholds (0.4, p
    ~0.63) it collapses to ~10% recall, so callers hunting weak similarity
    must widen buckets (e.g. n_planes=3, n_tables=8: measured recall 0.83
    at 0.4 on the sf0.01 corpus — tests/test_dedup.py) and accept that the
    candidate set approaches all-pairs; sign-LSH only genuinely prunes
    above ~0.6 cosine.

    Plan shape, in the order that matters at 100 TB:
    1. one projection pass computes all n_tables bucket ids per row, then
       explodes to slim (table-bucket, id) rows — VECTORS ARE NOT CARRIED
       into the bucket join, so the pair-generating shuffle moves ~16 bytes
       a row, not the embedding payload;
    2. the self-join emits id pairs only; `dropDuplicates` both removes the
       multi-table double-counting and re-shuffles BY PAIR HASH, so the
       expensive verify step parallelizes by candidate count even when a
       few hot buckets produced most pairs (a bucket-keyed plan would pin
       each hot bucket's whole pair explosion to one task — observed 100×
       slower at 10× data before this shape);
    3. vectors join back by id (equi joins Catalyst can broadcast or
       shuffle as sizes dictate) and the exact cosine runs once per
       surviving pair, with norms precomputed per row, not per pair. The
       cosine is the column-expression fold whose summation order is
       bit-identical to the DuckDB oracle and to embedding_neardup_exact.
    """
    from ..functions.sketch import lsh_bucket_kernel
    from ..functions.vector import dot, norm

    # Null/zero vectors can never pass a cosine threshold > 0 (verify maps
    # them to sim 0.0) but the kernel routes them all to one shared bucket —
    # N of them would generate ~N^2/2 doomed candidate pairs per table (the
    # hot-bucket pathology). Drop them before bucketing.
    base = (
        spread(df, id_col)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .filter(F.col("vec").isNotNull())
        .filter(norm(F.col("vec")) > 0.0)
    )
    kernel = lsh_bucket_kernel(dim, n_planes, n_tables)
    keyed = base.select("id", F.explode(kernel(F.col("vec"))).alias("tbucket"))
    cand = (
        keyed.alias("a")
        .join(keyed.alias("b"), "tbucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(
        F.col("id").alias("id_a"), F.col("vec").alias("_va"), norm(F.col("vec")).alias("_na")
    )
    vb = base.select(
        F.col("id").alias("id_b"), F.col("vec").alias("_vb"), norm(F.col("vec")).alias("_nb")
    )
    sim = F.when((F.col("_na") == 0.0) | (F.col("_nb") == 0.0), F.lit(0.0)).otherwise(
        dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", F.round(sim, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def contamination_spans(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Exact-substring contamination with POSITIONS: every k-token window
    of an eval document that appears verbatim anywhere in the training
    corpus, as (id, pos) rows (pos = 0-based token offset). Where
    `decontaminate` scores documents (drop/keep), this locates the spans —
    the input a redaction pass needs to cut the leaked benchmark text
    instead of discarding the whole document (the exact-substring
    treatment of Lee et al. 2022).

    Plan: train reduces to DISTINCT window strings once (set semantics —
    duplicates in train add nothing); eval explodes its windows WITH
    offsets (posexplode keeps duplicates — the same leaked string at two
    offsets is two spans) and a left-SEMI join on the window string keeps
    matching positions. Shuffle keys are window strings (uniform); output
    is bounded by eval token count, never |train| × |eval|.
    """
    from ..functions.text import token_windows

    win = token_windows(tokens(F.col(text_col)), k)
    train_wins = (
        spread(train, id_col).select(F.explode(win).alias("w")).distinct()
    )
    ev = spread(eval_df, id_col).select(
        F.col(id_col), F.posexplode(win).alias("pos", "w")
    )
    return (
        ev.join(train_wins, "w", "left_semi")
        .select(F.col(id_col), F.col("pos").cast("int").alias("pos"))
    )


def corpus_diff(
    old: DataFrame, new: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Snapshot diff between two corpus versions by content fingerprint:
    (id, status ∈ added | removed | changed | unchanged) — the audit step
    between two ingest runs (what changed since the last training mix?),
    and the input to incremental re-processing (only 'added'/'changed'
    docs re-enter the pipeline).

    One FULL OUTER equi-join on the id; comparison is the md5 content
    fingerprint (whitespace/case-insensitive, functions/text.fingerprint)
    under NULL-SAFE equality, so two null-text versions compare unchanged
    rather than changed. Presence is tracked with explicit flags — a null
    fingerprint (null text) must not masquerade as an absent row.
    """
    of = old.select(
        F.col(id_col).alias("_id"),
        fingerprint(F.col(text_col)).alias("_fp_old"),
        F.lit(True).alias("_in_old"),
    )
    nf = new.select(
        F.col(id_col).alias("_id"),
        fingerprint(F.col(text_col)).alias("_fp_new"),
        F.lit(True).alias("_in_new"),
    )
    j = of.join(nf, "_id", "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old").eqNullSafe(F.col("_fp_new")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col("_id").alias(id_col), status.alias("status"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidate pairs by SimHash Hamming distance ≤ `max_hamming`
    — the JOIN step the simhash fingerprint exists for, made scale-safe by
    pigeonhole banding: split the 64-bit fingerprint into max_hamming+1
    blocks; any pair within distance d must agree EXACTLY on at least one
    block (d flipped bits can dirty at most d blocks), so candidates come
    from a self-equi-join on (block_idx, block_value) — shuffle ∝ corpus ×
    (d+1) slim rows, never all-pairs — and the exact bit_count(xor) refine
    keeps true pairs only. Same pigeonhole trade as MinHash banding, but
    for the Hamming metric (token-frequency-weighted bit agreement) rather
    than set Jaccard.

    Output: (id_a, id_b, hamming), id_a < id_b. md5 family → full DuckDB
    twin (declared query `simhash_pairs`).
    """
    n_blocks = int(max_hamming) + 1
    if not 1 <= n_blocks <= 64:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    # (doc, simhash), computed ONCE: the fingerprint table feeds four plan
    # branches (both self-join sides + both hamming re-attach sides) — a
    # lazy localCheckpoint stops Spark replaying the explode + 64-sum
    # aggregate per branch (measured ~3× end-to-end at sf0.1)
    sh = materialize(simhash64(df, text_col, id_col, hash_fn), lazy=True)
    base, extra = divmod(64, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    offs = [sum(widths[:i]) for i in range(n_blocks)]
    blocks = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("bidx"),
                    F.shiftright(F.col("simhash"), offs[i])
                    # -1 == all-ones mask for the d=0 single 64-bit block
                    # ((1<<64)-1 would overflow the int64 literal)
                    .bitwiseAND(
                        F.lit((1 << widths[i]) - 1 if widths[i] < 64 else -1)
                    )
                    .alias("bval"),
                )
                for i in range(n_blocks)
            ]
        )
    ).alias("b")
    banded = sh.select("doc", blocks).select("doc", "b.bidx", "b.bval")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bidx") == F.col("b.bidx"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sh.select(F.col("doc").alias("id_a"), F.col("simhash").alias("_ha"))
    sb = sh.select(F.col("doc").alias("id_b"), F.col("simhash").alias("_hb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).cast("int")
        )
        .filter(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


def redact_spans(
    df: DataFrame, spans: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Apply a contamination-span inventory (contamination_spans output:
    (id, pos) = start offsets of leaked k-token windows) by CUTTING every
    covered token from the document and rebuilding the text — the
    redaction half of the Lee et al. 2022 exact-substring treatment:
    keep the document, lose the leaked benchmark text. Overlapping spans
    union (each token cut once); docs with no spans pass through
    unchanged; fully-covered docs come back with text = '' so the cut is
    visible; zero-token docs emit no row (the segment_dedup convention).

    Plan: docs posexplode to (id, idx, token); spans explode to covered
    indices (rows ∝ spans × k, distinct-ed); one left_anti equi-join on
    (id, idx); one ordered rebuild per doc — all equi-shuffles on the doc
    key, output ∝ eval corpus, never train × eval (the expensive train
    side was already reduced by contamination_spans).

    Output: (id, text, n_kept, n_redacted).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks_df = spread(df, id_col).select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("_idx", "_tok")
    )
    covered = spans.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("_idx"),
    ).distinct()
    kept = toks_df.join(covered, [id_col, "_idx"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("_idx"), F.col("_tok")))),
                lambda x: x["_tok"],
            ),
            " ",
        ).alias("text"),
        F.count("*").cast("bigint").alias("n_kept"),
    )
    base = spread(df, id_col).select(
        F.col(id_col), F.size(tokens(F.col(text_col))).cast("bigint").alias("_n")
    ).filter(F.col("_n") > 0)
    return base.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        (F.col("_n") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("bigint").alias("n_redacted"),
    )


def contrastive_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    n_buckets: int = 64,
) -> DataFrame:
    """(anchor, positive, negative) triples for contrastive embedding
    training, mined from the corpus itself: positives are MinHash-LSH
    near-dup pairs (textual paraphrase/near-copy supervision — the
    standard weak-label trick), negatives are a DETERMINISTIC md5-bucket
    pairing of the corpus (the cosine_calibration sampling shape: content-
    independent, so they are random with respect to meaning, and stable
    under reruns/repartitioning — reproducible training data).

    Scale shape: positives = the LSH equi-join (shuffle ∝ corpus, never
    n²); negatives = ONE window shuffle on the md5 bucket + a lag pairing
    (n/2 disjoint pairs) joined back to anchors on the anchor id. A
    negative can collide with a true near-dup only at the base near-dup
    rate of the corpus (the usual noise floor for in-batch negatives).
    Anchors whose bucket stranded them without a lag partner (one per
    bucket) fall back to their own bucket's first row via the join being
    inner — i.e. they are dropped: n/2 - n_buckets worst-case loss,
    negligible and deterministic. Degenerate triples where the bucket-lag
    partner happens to BE the LSH positive (negative == positive) are
    filtered out — an (a, p, p) triple teaches the model nothing and
    poisons the loss; the filter is mirrored in the DuckDB oracle.
    Output: (anchor, positive, negative, est_jaccard).
    """
    from pyspark.sql import Window

    from ..functions.text import md5_low60

    pairs = minhash_lsh_pairs(df, text_col, id_col, k, bands, threshold, hash_fn)
    base = spread(df, id_col).select(
        F.col(id_col).alias("_nid"),
        F.pmod(md5_low60(F.col(id_col).cast("string")), F.lit(n_buckets)).alias("_b"),
    )
    w = Window.partitionBy("_b").orderBy("_nid")
    neg = (
        base.select(
            "_nid",
            F.row_number().over(w).alias("_rn"),
            F.lag("_nid").over(w).alias("_prev"),
        )
        .filter(F.col("_prev").isNotNull())
        .select(F.col("_nid").alias("anchor"), F.col("_prev").alias("negative"))
    )
    return (
        pairs.select(
            F.col("id_a").alias("anchor"),
            F.col("id_b").alias("positive"),
            "est_jaccard",
        )
        .join(neg, "anchor")
        .filter(F.col("negative") != F.col("positive"))
        .select("anchor", "positive", "negative", "est_jaccard")
    )


def _delete_at(s: Column, k: Column) -> Column:
    """The string with the k-th character removed (1-based); k=0 is the
    identity. Pure codegen expression (substring accepts Column args)."""
    return F.when(k == 0, s).otherwise(
        F.concat(F.substring(s, F.lit(1), k - 1), F.substring(s, k + 1, F.length(s)))
    )


def fuzzy_pairs(df: DataFrame, text_col: str, max_dist: int = 2) -> DataFrame:
    """All pairs of DISTINCT strings within Levenshtein distance `max_dist`
    (1 or 2) — the entity-resolution / spell-variant matcher, via SymSpell
    deletion-neighborhood blocking: two strings within edit distance d
    share at least one string obtainable by deleting <= d characters from
    each, so candidate generation is an EQUI-join on deletion variants
    (never string x string), and an exact `levenshtein` refine removes the
    false positives. Recall is exact (pinned by a brute-force DP test).

    Scale shape: matching runs on the DISTINCT-string dictionary, which at
    100 TB is orders of magnitude smaller than the row count (the join
    back to rows is the caller's cheap equi-join); per string the variant
    set is O(len) for d=1 and O(len^2) for d=2 — slim (variant, name)
    rows through one shuffle. Returns (name_a, name_b, dist) with
    name_a < name_b, each pair once.
    """
    if max_dist not in (1, 2):
        raise ValueError(
            f"fuzzy_pairs: max_dist must be 1 or 2 (deletion-neighborhood "
            f"depth), got {max_dist}"
        )
    names = (
        df.select(F.col(text_col).alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
    )
    s, L = F.col("name"), F.length("name")
    # deletion positions: (0,0) identity; (i,0) single delete; (i<j) double.
    # j is deleted FIRST so i's index is unaffected (i < j).
    v = names.select("name", F.explode(F.sequence(F.lit(0), L)).alias("i"))
    if max_dist == 2:
        v = v.select(
            "name", "i", F.explode(F.sequence(F.lit(0), F.length("name"))).alias("j")
        ).filter((F.col("j") == 0) | ((F.col("i") >= 1) & (F.col("j") > F.col("i"))))
    else:
        v = v.select("name", "i", F.lit(0).alias("j"))
    v = v.select(
        "name", _delete_at(_delete_at(s, F.col("j")), F.col("i")).alias("variant")
    ).distinct()
    # checkpoint: BOTH sides of the variant equi-join read this, and the
    # plan otherwise computes the whole deletion-neighborhood explode +
    # string-slice pipeline twice (verified in the r11 plan audit — no
    # ReusedExchange fires because one side sits under a BroadcastExchange)
    v = materialize(v)
    a = v.select(F.col("name").alias("name_a"), "variant")
    b = v.select(F.col("name").alias("name_b"), "variant")
    return (
        a.join(b, "variant")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .filter(F.col("dist") <= max_dist)
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, slide a
    window of `w` consecutive gram hashes over each document, and select
    each window's minimum hash (RIGHTMOST position on ties, the paper's
    rule) — the selected (position, hash) set is the fingerprint. The
    guarantee that distinguishes winnowing from random sampling (MinHash)
    or content-defined chunking: ANY shared token run of length ≥ w+k-1
    between two documents shares at least one selected fingerprint, and
    the selected density is ~2/(w+1) of all grams — detection is
    guaranteed, not probabilistic (pinned against a brute-force Python
    reference in tests).

    Spark shape: gram hashes come from the zip-shifted-slice windows
    (token_windows, codegen-native) + md5_low60 — ONE map-side explode to
    (doc, pos, h); each gram then fans out to the ≤ w window ids that
    contain it (explode of a bounded sequence — a generator, not the
    interpreted-HOF pitfall), and one partial-aggregated
    min(struct(h, −pos)) per (doc, window) implements min-with-rightmost-
    tie; a final distinct dedupes positions selected by several windows.
    Shuffle ∝ n_grams·w slim int rows with a CONSTANT w — linear in
    corpus size at any scale, and the fingerprint table is the equi-join
    key for cross-doc span matching (group by h, the contamination_spans
    shape). md5 family ⇒ full DuckDB twin. Output: (id, pos, fp), pos =
    1-based gram position. Docs with fewer than w+k-1 tokens have no
    complete window and emit nothing (the paper's domain)."""
    from ..functions.text import md5_low60, token_windows, tokens
    from ..tables import spread

    grams = spread(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.posexplode(token_windows(tokens(F.col(text_col)), k)).alias("p0", "gram"),
    ).select(
        "doc",
        (F.col("p0") + 1).alias("pos"),  # 1-based
        md5_low60(F.col("gram")).alias("h"),
    )
    # gram at pos belongs to windows [pos-w+1 .. pos]; windows are valid
    # for ids >= 1 (window j covers grams j..j+w-1); trailing partial
    # windows are dropped by requiring the window to END within the doc,
    # via the per-doc gram count broadcast through a groupBy-free path:
    # a window j is complete iff some gram has pos = j + w - 1, so
    # selecting min over EXISTING members of j and keeping only windows
    # whose max member pos - j = w - 1 is equivalent and needs no count.
    member = grams.select(
        "doc",
        "pos",
        "h",
        F.explode(
            F.sequence(
                F.greatest(F.col("pos") - (w - 1), F.lit(1)), F.col("pos")
            )
        ).alias("win"),
    )
    sel = (
        member.groupBy("doc", "win")
        .agg(
            F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).alias("m"),
            F.max("pos").alias("maxpos"),
        )
        .filter(F.col("maxpos") - F.col("win") == w - 1)  # complete windows only
        .select(
            F.col("doc").alias(id_col),
            (-F.col("m.np")).alias("pos"),
            F.col("m.h").alias("fp"),
        )
        .distinct()
    )
    return sel


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-substring spans — the span-level exact
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499, ExactSubstr) re-expressed
    relationally: instead of a suffix array over the concatenated
    corpus, flag every token position whose k-gram occurs in at least
    `min_docs` DISTINCT documents, then merge overlapping/adjacent
    flagged gram intervals [pos, pos+k-1] into MAXIMAL per-doc spans
    (gaps-and-islands). Any cross-doc duplicated run of length >= k is
    covered by flagged grams at every internal offset, so the merged
    span recovers the full run — the suffix-array guarantee for runs
    >= k, with k the minimum match length (the paper uses 50 BPE
    tokens; spans are what you CUT, unlike doc-level dedup which drops
    whole documents for partial overlap).

    Scale shape: one codegen k-gram explode (token_windows zip-slices)
    -> (doc, pos, h); duplicated hashes via one partial-aggregated
    count-distinct-docs groupBy; a semi join flags positions; the
    island merge is a per-doc window (lag + running sum) over FLAGGED
    positions only — shuffle ∝ flagged grams, partitioned by doc, no
    quadratic anywhere. md5-low60 gram hashes ⇒ full DuckDB twin
    (queries.q_suffix_ngram_dedup).

    Output: (id, span_start, span_end, span_tokens, n_dup_grams), token
    positions 1-based inclusive; docs with no duplicated k-gram emit
    nothing."""
    grams = span_grams(df, text_col, id_col, k)
    dup_h = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    return merge_flagged_spans(grams.join(dup_h, "h", "left_semi"), id_col, k)


def span_grams(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(doc, pos, h) k-gram hash positions — the shared front of
    duplicated_spans and the n-gram ingest index (dup_spans_probe /
    stream_dup_spans). pos is 1-based; h is md5_low60 of the gram string
    (DuckDB-twin family)."""
    from ..functions.text import token_windows
    from ..tables import spread

    return (
        spread(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.posexplode(token_windows(tokens(F.col(text_col)), k)).alias(
                "p0", "gram"
            ),
        )
        .select(
            "doc", (F.col("p0") + 1).alias("pos"), md5_low60(F.col("gram")).alias("h")
        )
    )


def merge_flagged_spans(flagged: DataFrame, id_col: str, k: int) -> DataFrame:
    """Gaps-and-islands merge of flagged (doc, pos) gram positions into
    maximal spans [pos, pos+k-1] (shared tail of duplicated_spans and
    the ingest-gate probes): intervals overlapping or adjacent
    (pos_next <= pos_prev + k) coalesce."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy("pos")
    islands = flagged.withColumn(
        "new_isl",
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0),
    ).withColumn("island", F.sum("new_isl").over(w))
    return (
        islands.groupBy("doc", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .select(
            F.col("doc").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_dup_grams",
        )
    )


def dup_spans_probe(
    new_docs: DataFrame,
    corpus_hashes: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Spans of `new_docs` duplicated against an EXISTING corpus — the
    incremental half of duplicated_spans (the stream_neardup_probe
    contract, n-gram flavor): flag every position of a new doc whose
    k-gram hash exists in `corpus_hashes` (a 1-column `h` table — the
    persisted distinct gram-hash index), merge into maximal spans. The
    probe is one semi join of the batch's grams against the index: cost
    ∝ batch grams, never corpus size; the index side is what a
    partitioned/compacted layout prunes."""
    grams = span_grams(new_docs, text_col, id_col, k)
    flagged = grams.join(corpus_hashes.select("h"), "h", "left_semi")
    return merge_flagged_spans(flagged, id_col, k)


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str | None = None,
    max_dist: int = 10,
    len_bucket: int = 5,
    max_block_rows: int | None = 20_000,
) -> DataFrame:
    """Blocked TRUE-edit-distance near-dup pairs — the character-level
    fuzzy dedup that catches what token fingerprints blur (one-char typo
    storms, OCR noise, template fills): pairs within `max_dist`
    Levenshtein edits of each other. Complements fuzzy_name_pairs
    (entity names) with document-scale blocking semantics.

    Scale shape: a Levenshtein all-pairs is corpus², so pairs are mined
    per BLOCK — (lang, token_count // len_bucket) — and each row probes
    its own and the ±w SURROUNDING length buckets where
    w = ceil(max_dist / len_bucket). That width is the no-miss bound
    (ADVICE r10): d char edits change the whitespace token count by at
    most d (every space insert/delete moves it by 1), and
    ⌊b/L⌋ − ⌊a/L⌋ ≤ ⌈(b−a)/L⌉, so any pair within max_dist edits lands
    within w buckets — the previous ±1 probe silently missed pairs
    whose token counts differ by more than len_bucket. Fan-out is
    block-size² — a data invariant like rule_mining's basket bound,
    never corpus². The probe explode is 2w+1 slim rows per doc; the
    pair join is a hash equi-join on the block key; a char-length
    prefilter (|len_a − len_b| > max_dist ⇒ dist > max_dist, a
    necessary condition — result-identical) skips the DP entirely for
    length-mismatched pairs, and Spark's bounded levenshtein(threshold)
    abandons the rest early. Each unordered pair is emitted ONCE (the
    smaller id is always the probing side, so the (a<b, probe ∈
    [k−w, k+w]) pair of conditions matches exactly one orientation).

    Density GUARD (VERDICT r10 #3 — the caveat is now executable, not
    prose): pair fan-out grows with the square of a block's row count,
    so on a near-dup-dense corpus (the 10× replication probe planted
    exactly this) one (lang, bucket) block can silently melt a task.
    One slim partial-agg count finds the largest block before any pair
    is formed and REFUSES above `max_block_rows` (the _guard_quadratic
    contract: route bulk dedup through minhash_lsh_pairs first and run
    this pass as the fine verifier on the residue; pass None to opt
    out explicitly)."""
    from ..functions.text import normalize_ws, token_count

    lang = F.col(lang_col) if lang_col else F.lit("")
    base = df.select(
        F.col(id_col).alias("_id"),
        lang.alias("_lang"),
        normalize_ws(F.col(text_col)).alias("_nt"),
        (token_count(F.col(text_col)) / len_bucket).cast("bigint").alias("_bkt"),
    ).filter(F.col("_nt").isNotNull() & (F.col("_nt") != ""))
    # Density guard FIRST, on the un-materialized plan (ADVICE r11): an
    # oversized raw corpus must be refused BEFORE the checkpoint stores its
    # normalized rows — the guard's count aggregate column-prunes to the
    # slim (_lang, _bkt) projection, so the pre-check pass is cheap.
    if max_block_rows is not None:
        biggest = (
            base.groupBy("_lang", "_bkt").count().agg(F.max("count")).first()[0]
        )
        if biggest and biggest > max_block_rows:
            raise RuntimeError(
                f"edit_distance_pairs: largest (lang, length-bucket) block "
                f"has {biggest} rows > max_block_rows={max_block_rows} — "
                f"pair fan-out is block², so this block alone yields "
                f"~{biggest * (biggest - 1) // 2} candidate pairs; run "
                f"minhash_lsh_pairs first and use this pass as the fine "
                f"verifier on the residue, or pass a higher max_block_rows "
                f"(or None) if you really mean it"
            )
    # checkpoint AFTER the guard passes: THREE consumers (probe side, rhs,
    # and the pair join's replays) each re-ran the normalize+token_count
    # scan without it (r11, guide §1.2). Storage is the normalized residue
    # this fine-verifier pass is meant to run on (post-LSH), not the raw
    # corpus — and never an input the guard would have refused.
    base = materialize(base)
    w = -(-max_dist // len_bucket)  # ceil: the no-miss probe width
    probes = base.select(
        F.col("_id").alias("a_id"),
        F.col("_lang").alias("_plang"),
        F.col("_nt").alias("_ant"),
        F.explode(
            F.array(*[F.col("_bkt") + F.lit(i) for i in range(-w, w + 1)])
        ).alias("_pbkt"),
    )
    rhs = base.select(
        F.col("_id").alias("b_id"),
        F.col("_lang").alias("_blang"),
        F.col("_nt").alias("_bnt"),
        F.col("_bkt").alias("_pbkt"),
    )
    lev = F.levenshtein(F.col("_ant"), F.col("_bnt"), max_dist)
    return (
        probes.join(rhs, ["_pbkt"])
        .filter(
            (F.col("_plang") == F.col("_blang"))
            & (F.col("a_id") < F.col("b_id"))
            # necessary condition for dist <= max_dist: cheap length gate
            # before the O(len·d) DP
            & (
                F.abs(F.length("_ant") - F.length("_bnt")) <= F.lit(int(max_dist))
            )
        )
        .select(
            "a_id",
            "b_id",
            F.col("_plang").alias("lang"),
            lev.alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def dedup_consolidate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    meta_cols: tuple[str, ...] = ("source", "lang"),
) -> DataFrame:
    """Record CONSOLIDATION over exact-dup clusters — dedup drops copies,
    but provenance must survive the drop (dataset cards, licensing
    audits, per-source accounting all need to know every place a kept
    document came from): group by the content fingerprint, keep the
    lowest-id representative, and AGGREGATE the copies' metadata — the
    sorted distinct values of each meta column, '|'-joined, plus the
    copy count. The consolidation step warehouses run next to
    exact_dedup's plain drop (and dedup_select's quality-based pick).

    Scale shape: ONE partial-aggregated groupBy on the md5 fingerprint
    (uniform key — no skew by construction); per-cluster metadata lists
    are bounded by the cluster's copy count (a data invariant);
    everything emitted is a string/int, so the oracle comparison is
    canonical. Output: (keep_id, n_copies, <meta>_cat per meta col)."""
    from ..functions.text import fingerprint

    base = df.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("_fp"),
        *[F.col(c) for c in meta_cols],
    )
    aggs = [
        F.min(id_col).alias("keep_id"),
        F.count("*").cast("bigint").alias("n_copies"),
    ] + [
        F.concat_ws("|", F.array_sort(F.collect_set(c))).alias(f"{c}_cat")
        for c in meta_cols
    ]
    return base.groupBy("_fp").agg(*aggs).drop("_fp")


def soft_dedup_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    alpha: float = 1.0,
) -> DataFrame:
    """Soft deduplication TRAINING WEIGHTS (the SoftDeDup idea — down-
    weight duplicated content instead of dropping it: hard dedup throws
    away the signal that popular content carries, soft dedup keeps every
    row but scales its loss contribution so a 1000-copy boilerplate
    cluster contributes ~1 document's worth of gradient): per exact-dup
    cluster of size n, every member gets weight n^(-alpha) — alpha=1 is
    "each cluster counts once", alpha in (0,1) interpolates toward
    keep-everything (the word2vec subsampling convention).

    Scale shape: one partial-aggregated groupBy on the md5 content
    fingerprint (uniform key — no skew by construction) produces the
    slim (fp, n) cluster-size table, joined back in ONE hash equi-join
    on the same uniform key; weights are a map-side power, rounded 6dp
    before emit. Compare dedup_consolidate (keeps one row + provenance)
    and dedup_select (keeps the best row): this keeps ALL rows and
    reweights — the choice FineWeb-class pipelines sweep. Output:
    (id, n_copies, weight_r)."""
    from ..functions.text import fingerprint

    base = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("_fp"))
    sizes = base.groupBy("_fp").agg(F.count("*").cast("bigint").alias("n_copies"))
    return (
        base.join(sizes, "_fp")
        .select(
            id_col,
            "n_copies",
            F.round(F.pow(F.col("n_copies").cast("double"), F.lit(-float(alpha))), 6)
            .alias("weight_r"),
        )
    )
