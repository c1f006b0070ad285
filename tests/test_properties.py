"""Property-based tests (hypothesis) for the pure text kernels: the
invariants that must hold for ANY input, not just the fixtures — whitespace
canonicalization, tokenization identities, shingle counts, split totality.

Each example batches all generated strings into ONE DataFrame so a property
costs one Spark job, not one per string."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from team_126_spark.functions.text import md5_low60, tokens, word_shingles

# printable-ish text with lots of whitespace variety
texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("abcXYZ09 .!\t\n\r  ")),
        max_size=40,
    ),
    min_size=1,
    max_size=25,
)


def _df(spark, xs):
    return spark.createDataFrame([(i, x) for i, x in enumerate(xs)], ["i", "t"])


@settings(max_examples=5, deadline=None)
@given(texts)
def test_tokens_idempotent_and_clean(spark, xs):
    """Re-joining tokens and re-tokenizing is a fixpoint; no token is empty
    or contains whitespace; count matches array length."""
    df = _df(spark, xs).select(
        "i",
        tokens(F.col("t")).alias("tk"),
        tokens(F.array_join(tokens(F.col("t")), " ")).alias("tk2"),
    )
    for r in df.collect():
        assert r["tk"] == r["tk2"]
        assert all(tok and " " not in tok for tok in r["tk"])


@settings(max_examples=5, deadline=None)
@given(texts)
def test_shingle_count_bound(spark, xs):
    """<= max(0, n_tokens - k + 1) distinct shingles, each of exactly k
    whitespace-joined tokens."""
    k = 3
    df = _df(spark, xs).select(
        F.size(tokens(F.col("t"))).alias("n"),
        word_shingles(F.col("t"), k).alias("sh"),
    )
    for r in df.collect():
        assert len(r["sh"]) <= max(0, r["n"] - k + 1)
        assert all(len(s.split(" ")) == k for s in r["sh"])


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=30))
def test_md5_low60_range_and_determinism(spark, ids):
    df = spark.createDataFrame([(i,) for i in set(ids)], ["x"]).select(
        "x", md5_low60(F.col("x").cast("string")).alias("h")
    )
    rows = df.collect()
    assert all(0 <= r["h"] < 2**60 for r in rows)
    again = {r["x"]: r["h"] for r in df.collect()}
    assert {r["x"]: r["h"] for r in rows} == again


coords = st.lists(
    st.tuples(
        st.floats(min_value=-89.9, max_value=89.9, allow_nan=False),
        st.floats(min_value=-179.9, max_value=179.9, allow_nan=False),
        st.floats(min_value=-89.9, max_value=89.9, allow_nan=False),
        st.floats(min_value=-179.9, max_value=179.9, allow_nan=False),
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=5, deadline=None)
@given(coords)
def test_haversine_metric_properties(spark, pts):
    """d >= 0; d(p, p) == 0; symmetry; km/miles ratio is the constant."""
    from team_126_spark.functions.geo import KM_TO_MILES, haversine_km, haversine_miles

    df = spark.createDataFrame(pts, ["lat1", "lon1", "lat2", "lon2"])
    c = lambda n: F.col(n)  # noqa: E731
    out = df.select(
        haversine_km(c("lat1"), c("lon1"), c("lat2"), c("lon2")).alias("d"),
        haversine_km(c("lat2"), c("lon2"), c("lat1"), c("lon1")).alias("d_rev"),
        haversine_km(c("lat1"), c("lon1"), c("lat1"), c("lon1")).alias("d_self"),
        haversine_miles(c("lat1"), c("lon1"), c("lat2"), c("lon2")).alias("d_mi"),
    ).collect()
    for r in out:
        assert r["d"] >= 0.0 and abs(r["d_self"]) < 1e-6
        assert r["d"] == pytest.approx(r["d_rev"], rel=1e-9, abs=1e-9)
        # miles uses R=3959 directly, not km*factor — the two agree to ~0.1%
        if r["d"] > 1.0:
            assert r["d_mi"] / r["d"] == pytest.approx(KM_TO_MILES, rel=2e-3)
        assert r["d"] <= 20038.0  # half the equatorial circumference, ~max


edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@settings(max_examples=5, deadline=None)
@given(edge_lists)
def test_dedup_components_chase_invariant(spark, edges):
    """Pointer doubling is an ACCELERATION, not a semantics change: for any
    pair graph, labels with the chase enabled from round 1 equal labels with
    it disabled (pure one-hop min propagation), and every label is the
    component minimum (idempotent under relabeling)."""
    from team_126_spark.operators import dedup as D

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {
        (r["id"], r["cluster_id"])
        for r in D.dedup_components(pairs, chase_after=0, max_iter=40).collect()
    }
    slow = {
        (r["id"], r["cluster_id"])
        for r in D.dedup_components(pairs, chase_after=99, max_iter=40).collect()
    }
    assert fast == slow
    # cluster representative is a member of its own cluster with self-label
    labels = dict(fast)
    assert all(labels[c] == c for _, c in fast)


@settings(max_examples=5, deadline=None)
@given(texts)
def test_gopher_signals_match_python_reference(spark, xs):
    """The sorted-fold n-gram cover and dup-line char mass equal a direct
    Python recomputation for ANY input (the folds are the subtle part of
    gopher_rules — runs in a sorted array standing in for occurrence
    counts)."""
    import re
    from collections import Counter

    from team_126_spark.operators.textops import gopher_rules

    df = _df(spark, xs)
    got = {r["i"]: r for r in gopher_rules(df, "t", "i").collect()}

    for i, x in enumerate(xs):
        lines = [l for l in (s.strip(" ") for s in x.split("\n")) if l != ""]
        toks = re.sub(r"\s+", " ", x).strip().lower().split(" ") if x.strip() else []
        toks = [t for t in toks if t]
        norm = " ".join(toks)
        r = got[i]
        assert r["n_lines"] == len(lines)
        lc = Counter(lines)
        line_chars = sum(len(l) for l in lines)
        dup_chars = sum(c * len(l) for l, c in lc.items() if c > 1)
        want_dup = (
            round(min(1.0, dup_chars / line_chars), 6) if line_chars else 0.0
        )
        assert r["dup_line_char_frac"] == pytest.approx(want_dup), (x, lines)
        for n, col in ((2, "top2_char_frac"), (3, "top3_char_frac")):
            grams = Counter(
                " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
            )
            cover = max((c * len(g) for g, c in grams.items()), default=0)
            want = round(min(1.0, cover / len(norm)), 6) if norm else 0.0
            assert r[col] == pytest.approx(want), (x, toks, col)


@settings(max_examples=5, deadline=None)
@given(texts)
def test_segment_dedup_conservation(spark, xs):
    """For ANY corpus and segment width: (a) n_kept + n_removed ==
    ceil(n_tokens / k) per doc, (b) every output token multiset is a
    subset of the input's, (c) total kept segment text concatenates to a
    subsequence of the input's segment sequence (order preserved)."""
    import math

    from team_126_spark.operators.textops import doc_segments, segment_dedup

    df = _df(spark, xs)
    k = 3
    out = {r["i"]: r for r in segment_dedup(df, "t", "i", seg_tokens=k).collect()}
    toks = {
        r["i"]: r["tk"]
        for r in df.select("i", tokens(F.col("t")).alias("tk")).collect()
    }
    segs = {}
    for r in doc_segments(df, "t", "i", seg_tokens=k).collect():
        segs.setdefault(r["i"], []).append((r["start"], r["segment"]))
    for i, tk in toks.items():
        if not tk:
            assert i not in out
            continue
        r = out[i]
        assert r["n_kept"] + r["n_removed"] == math.ceil(len(tk) / k)
        out_toks = r["text"].split(" ") if r["text"] else []
        # (b) multiset subset
        from collections import Counter

        assert not Counter(out_toks) - Counter(tk)
        # (c) output == concat of a SUBSEQUENCE of the doc's segments in
        # order (greedy earliest-match decides subsequence existence; equal
        # -text alternatives are interchangeable)
        ordered = [s.split(" ") for _, s in sorted(segs[i])]
        p = 0
        for seg_toks in ordered:
            if out_toks[p : p + len(seg_toks)] == seg_toks:
                p += len(seg_toks)
        assert p == len(out_toks), f"doc {i}: output is not a segment subsequence"


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),          # key
            st.sampled_from(["I", "U", "D"]),               # op
            st.floats(min_value=0, max_value=100, allow_nan=False),
        ),
        min_size=0,
        max_size=25,
    )
)
def test_cdc_apply_matches_dict_model(spark, log):
    """cdc_apply == folding the changelog into a dict in seq order, for ANY
    random I/U/D log over a fixed base (seq = list position, unique per key
    by construction)."""
    from team_126_spark.operators.relational import cdc_apply

    base_rows = [(k, float(k * 10)) for k in range(4)]
    model = dict(base_rows)
    for seq, (k, op, v) in enumerate(log):
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = round(v, 3)

    base = spark.createDataFrame(base_rows, "k long, v double")
    if log:
        changes = spark.createDataFrame(
            [(k, round(v, 3), seq, op) for seq, (k, op, v) in enumerate(log)],
            "k long, v double, seq long, op string",
        )
    else:
        changes = spark.createDataFrame([], "k long, v double, seq long, op string")
    got = {r["k"]: r["v"] for r in cdc_apply(base, changes, ["k"], "seq", "op").collect()}
    assert got == model


@settings(max_examples=5, deadline=None)
@given(texts)
def test_bpe_pair_counts_matches_python_model(spark, xs):
    """bpe_pair_counts == the straightforward Python reference (whitespace
    tokenize, adjacent 2-char substrings per word occurrence) on ANY
    corpus, including the count-desc/lexicographic tie order."""
    import re
    from collections import Counter

    from team_126_spark.operators.textops import bpe_pair_counts

    model: Counter = Counter()
    for t in xs:
        norm = re.sub(r"\s+", " ", t or "").strip().lower()
        for w in (norm.split(" ") if norm else []):
            for i in range(len(w) - 1):
                model[w[i : i + 2]] += 1
    want = sorted(model.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [
        (r["pair"], r["n_occurrences"])
        for r in bpe_pair_counts(_df(spark, xs), "t", top_n=50).collect()
    ]
    assert got == want


@settings(max_examples=5, deadline=None)
@given(texts)
def test_ngram_diversity_matches_python_model(spark, xs):
    """Per-source totals/distincts for n=1..3 equal the Python reference;
    xxhash64-distinct must not change any count on these corpus sizes."""
    import re

    from team_126_spark.operators.textops import ngram_diversity

    df = spark.createDataFrame(
        [(i, x, f"s{i % 2}") for i, x in enumerate(xs)], ["i", "t", "src"]
    )
    model: dict = {}
    for i, t in enumerate(xs):
        src = f"s{i % 2}"
        norm = re.sub(r"\s+", " ", t or "").strip().lower()
        toks = norm.split(" ") if norm else []
        for n in (1, 2, 3):
            grams = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
            if grams:
                tot, dis = model.get((src, n), (0, set()))
                model[(src, n)] = (tot + len(grams), dis | set(grams))
    got = {
        (r["source"], r["n"]): (r["total_ngrams"], r["distinct_ngrams"])
        for r in ngram_diversity(df, "t", "src", max_n=3).collect()
    }
    want = {k: (tot, len(dis)) for k, (tot, dis) in model.items()}
    assert got == want


def test_logreg_train_matches_numpy_reference(spark):
    """The declared gradient-descent query reproduces an independent numpy
    implementation of the same unrolled updates (including the 12dp
    per-round re-sync), and the learned weights actually reduce the
    training loss versus w=0."""
    import numpy as np

    from team_126_spark.queries import (
        REGISTRY,
        _LOGREG_ITERS,
        _LOGREG_LR,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["i"]: r["w_r"]
        for r in REGISTRY["logreg_train"].fn(spark, sf).collect()
    }

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf}/embeddings.parquet")
    X = np.array([list(v) for v in t["embedding"].to_pylist()], dtype=np.float64)
    y = (np.array(t["label"].to_pylist()) < 5).astype(np.float64)
    w = np.zeros(X.shape[1])
    for _ in range(_LOGREG_ITERS):
        err = 1.0 / (1.0 + np.exp(-(X @ w))) - y
        w = np.round(w - _LOGREG_LR * (X * err[:, None]).mean(axis=0), 12)
    want = np.round(w, 6)
    assert got == {i: pytest.approx(want[i]) for i in range(len(want))}

    def loss(wv):
        p = 1.0 / (1.0 + np.exp(-(X @ wv)))
        return -np.mean(y * np.log(p) + (1 - y) * np.log(1 - p))

    assert loss(w) < loss(np.zeros_like(w))


def test_random_projection_matches_numpy_reference(spark):
    """The declared JL sign projection reproduces an independent numpy
    matmul with the same md5-derived Rademacher matrix, and roughly
    preserves squared norms in expectation (the JL property that makes it
    a usable ANN front end): E[||y||^2] = ||x||^2 with the 1/sqrt(k)
    scaling."""
    import numpy as np

    from team_126_spark.queries import (
        REGISTRY,
        _RP_IN_DIM,
        _RP_OUT_DIM,
        _rp_sign,
    )

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["random_projection"].fn(spark, sf).collect()
    got = {
        r["vec_id"]: [r[f"p{k:02d}"] for k in range(_RP_OUT_DIM)] for r in rows
    }

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf}/embeddings.parquet")
    ids = t["vec_id"].to_pylist()
    X = np.array([list(v) for v in t["embedding"].to_pylist()], dtype=np.float64)
    R = np.array(
        [[_rp_sign(k, i) for i in range(_RP_IN_DIM)] for k in range(_RP_OUT_DIM)]
    )
    Y = np.round((X @ R.T) * 0.25, 6)
    for n, vid in enumerate(ids):
        assert got[vid] == pytest.approx(list(Y[n]), abs=1e-6), vid

    # norm preservation in aggregate (not per-row — JL is probabilistic)
    in_sq = (X**2).sum(axis=1).mean()
    out_sq = (Y**2).sum(axis=1).mean()
    assert 0.5 * in_sq < out_sq < 2.0 * in_sq


def test_dim_profile_invariants(spark):
    """Every dimension row accounts for every vector; std/min/max are
    internally consistent; a constant synthetic column profiles to std 0
    (the dead-dimension detection the operator exists for)."""
    from team_126_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["dim_profile"].fn(spark, sf).collect()
    import pyarrow.parquet as pq

    n_vecs = pq.read_table(f"{sf}/embeddings.parquet").num_rows
    assert len(rows) == 64
    for r in rows:
        assert r["n"] == n_vecs
        assert r["min_r"] <= r["mean_r"] <= r["max_r"]
        assert r["std_r"] >= 0
        assert 0 <= r["n_zero"] <= n_vecs


def test_event_anomaly_flag_consistency(spark):
    """is_anomaly is exactly |z| >= 2 on non-null z, FALSE on null; each
    type's z-scores average ~0 (the z-score identity)."""
    from collections import defaultdict

    from team_126_spark.queries import REGISTRY

    rows = REGISTRY["event_anomaly"].fn(spark, "/root/testdata/sf0.001").collect()
    by_type = defaultdict(list)
    for r in rows:
        if r["z_r"] is None:
            assert r["is_anomaly"] is False
        else:
            assert r["is_anomaly"] == (abs(r["z_r"]) >= 2.0)
            by_type[r["event_type"]].append(r["z_r"])
    for t, zs in by_type.items():
        assert abs(sum(zs) / len(zs)) < 1e-3, t


@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=60)
)
@settings(max_examples=10, deadline=None)
def test_countmin_never_underestimates_and_merges(spark, xs):
    """For ANY key multiset: (a) the count-min estimate of every present
    key is >= its true count (the sketch's defining guarantee); (b) the
    sketch of the whole equals the per-counter SUM of two shard sketches
    (mergeability — the property that makes it the partitioned/streaming
    shape)."""
    from collections import Counter

    from team_126_spark.operators.bloom import countmin_build, countmin_estimate

    df = spark.createDataFrame([(x,) for x in xs], ["k"])
    sketch = countmin_build(df, "k", width=16, depth=3)

    truth = Counter(xs)
    probes = spark.createDataFrame([(k,) for k in truth], ["k"])
    est = {
        r["k"]: r["cm_est"]
        for r in countmin_estimate(probes, sketch, "k").collect()
    }
    for k, n in truth.items():
        assert est[k] >= n, (k, n, est[k])

    half = len(xs) // 2
    if half and len(xs) - half:
        a = countmin_build(
            spark.createDataFrame([(x,) for x in xs[:half]], ["k"]),
            "k", width=16, depth=3,
        )
        b = countmin_build(
            spark.createDataFrame([(x,) for x in xs[half:]], ["k"]),
            "k", width=16, depth=3,
        )
        merged = {
            (r["j"], r["bucket"]): r["n"]
            for r in a.select("j", "bucket", "n")
            .unionByName(b.select("j", "bucket", "n"))
            .groupBy("j", "bucket")
            .agg(F.sum("n").alias("n"))
            .collect()
        }
        whole = {
            (r["j"], r["bucket"]): r["n"]
            for r in sketch.select("j", "bucket", "n").collect()
        }
        assert merged == whole


def test_countmin_null_key_uniform_across_sketch_paths(spark):
    """NULL-key contract (VERDICT r6 #7): a NULL probe key gets a NULL
    estimate on BOTH the populated-sketch path (join-on-NULL misses) and
    the empty-sketch path (otherwise-less CASE) — the two code paths must
    not diverge on NULL semantics."""
    from team_126_spark.operators.bloom import countmin_build, countmin_estimate

    corpus = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    probes = spark.createDataFrame([("a",), (None,)], "k string")

    populated = {
        r["k"]: r["cm_est"]
        for r in countmin_estimate(probes, countmin_build(corpus, "k"), "k").collect()
    }
    empty = {
        r["k"]: r["cm_est"]
        for r in countmin_estimate(
            probes, countmin_build(corpus.where("k IS NULL"), "k"), "k"
        ).collect()
    }
    assert populated[None] is None and empty[None] is None
    assert populated["a"] == 2 and empty["a"] == 0


def test_poisson_bootstrap_matches_python_replay(spark):
    """The replica means reproduce an independent hashlib/python replay of
    the same md5-derived Poisson weights; the resulting CI brackets the
    point estimate on the fixture data; and weights follow the declared
    truncated-Poisson(1) ladder (mean weight ~1, so each replica's
    effective sample is ~n)."""
    import hashlib

    import pyarrow.parquet as pq

    from team_126_spark.operators.relational import (
        POISSON1_CDF,
        poisson_bootstrap_means,
    )
    from team_126_spark.queries import REGISTRY, load

    sf = "/root/testdata/sf0.001"
    o = load(spark, sf, "orders")
    got = {
        r["r"]: r["boot_mean"]
        for r in poisson_bootstrap_means(
            o, "o_totalprice", "o_orderkey", replicas=8
        ).collect()
    }

    t = pq.read_table(f"{sf}/orders.parquet", columns=["o_orderkey", "o_totalprice"])
    keys = t["o_orderkey"].to_pylist()
    xs = [float(v) for v in t["o_totalprice"].to_pylist()]

    def weight(r, k):
        h = hashlib.md5(f"bs{r}:{k}".encode()).hexdigest()
        u = (int("0x" + h[17:32], 16) % 1_000_000) / 1_000_000.0
        for w, c in enumerate(POISSON1_CDF):
            if u < c:
                return w
        return 5

    n_w = 0.0
    for r in range(8):
        ws = [weight(r, k) for k in keys]
        n_w += sum(ws)
        want = sum(w * x for w, x in zip(ws, xs)) / sum(ws)
        assert got[r] == pytest.approx(want, rel=1e-9), r
    assert 0.8 < n_w / (8 * len(keys)) < 1.2  # mean multiplicity ~ Poisson(1)

    rows = {r["stat"]: r["value_r"] for r in REGISTRY["bootstrap_ci"].fn(spark, sf).collect()}
    assert rows["ci_lo"] <= rows["point"] <= rows["ci_hi"]
    assert rows["ci_lo"] < rows["ci_hi"]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),  # coarse scores -> many ties
            st.booleans(),
        ),
        min_size=2,
        max_size=30,
    )
)
# U/(n_pos*n_neg) = 24.5/64 = 0.3828125: an exact tie at the 7th decimal.
@example([(0, False)] * 7 + [(1, False)] + [(0, True)] * 7 + [(-1, True)])
def test_rank_auc_matches_python_model(spark, pairs):
    """Tie-aware Mann-Whitney AUC against the O(n^2) pure-python pair count
    (1 per correctly ordered pos/neg pair, 0.5 per tie), plus the accuracy
    definition, for ANY score/label multiset including heavy ties.

    The model rounds like Spark's F.round (HALF_UP on the double's decimal
    string), not like Python's round (half-even on the binary value): the
    two differ on exact ties such as 24.5/64 = 0.3828125."""
    from decimal import ROUND_HALF_UP, Decimal

    from team_126_spark.operators.relational import rank_auc

    def round6(x):
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    rows = [(float(s), 1.0 if y else 0.0) for s, y in pairs]
    df = spark.createDataFrame(rows, ["s", "y"])
    got = rank_auc(df, "s", "y").collect()[0]

    pos = [s for s, y in rows if y == 1.0]
    neg = [s for s, y in rows if y == 0.0]
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert got["n_eval"] == len(rows)
    if pos and neg:
        u = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
        assert got["auc_r"] == round6(u / (len(pos) * len(neg)))
    else:
        assert got["auc_r"] is None
    acc = sum(1.0 for s, y in rows if (1.0 if s >= 0 else 0.0) == y) / len(rows)
    assert got["acc_r"] == round6(acc)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.text(alphabet=st.sampled_from(list("xyz w")), min_size=1, max_size=20),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_token_divergence_bounds_and_self_zero(spark, docs):
    """For ANY corpus: JS in [0, 1] per source (6dp rounding slack), and a
    source identical to the whole corpus distribution scores 0 — pinned by
    running a single-source corpus, where p == q exactly."""
    import math

    from team_126_spark.operators.textops import token_divergence

    df = spark.createDataFrame(docs, ["source", "text"])
    rows = token_divergence(df, "text", "source").collect()
    for r in rows:
        assert -1e-6 <= r["js_divergence"] <= 1.0 + 1e-6, r
        assert r["n_tokens"] >= r["vocab"] >= 1

    one = df.withColumn("source", F.lit("only"))
    solo = token_divergence(one, "text", "source").collect()
    if solo:  # empty when no doc has a token
        assert solo[0]["js_divergence"] == 0.0


# small random embedding corpora: ids are distinct by construction; values
# bounded floats so norms stay finite
_vec = st.lists(
    st.floats(min_value=-4.0, max_value=4.0, allow_nan=False, width=32),
    min_size=8,
    max_size=8,
)
_corpora = st.lists(_vec, min_size=3, max_size=14)


@settings(max_examples=5, deadline=None)
@given(_corpora)
def test_semdedup_keepmin_invariants(spark, vecs):
    """For ANY corpus: (1) every kept row has no smaller-id same-cell
    neighbor at rounded cosine ≥ τ, (2) every dropped row has one
    (brute-force verified), (3) the minimum id of each cell always
    survives — keep-min can never empty a group."""
    import numpy as np

    from team_126_spark.operators.vector import (
        ivf_centroids,
        semdedup,
        with_ivf_cell,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    n_cells = min(4, len(vecs))
    tau = 0.8
    kept = {
        r["vec_id"]: r["cell"]
        for r in semdedup(df, "embedding", "vec_id", n_cells, tau).collect()
    }
    cents = ivf_centroids(df, "embedding", "vec_id", n_cells)
    full = {
        r["vec_id"]: (r["ivf_cell"], np.array(r["embedding"], dtype=np.float64))
        for r in with_ivf_cell(df, "embedding", cents).collect()
    }

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        if na == 0 or nb == 0:
            return 0.0
        return round(float(a @ b / (na * nb)), 6)

    for vid, (cell, v) in full.items():
        has_smaller_neighbor = any(
            o < vid and full[o][0] == cell and cos(full[o][1], v) >= tau
            for o in full
        )
        assert (vid not in kept) == has_smaller_neighbor, vid
    # min id per cell survives
    for cell in {c for c, _ in full.values()}:
        assert min(v for v, (c, _) in full.items() if c == cell) in kept


@settings(max_examples=5, deadline=None)
@given(texts)
def test_dsir_score_additivity_and_totality(spark, xs):
    """For ANY texts: dsir_score is total (one output row per input doc,
    no NULLs) and a doc's weight is a pure function of its normalized
    text — duplicate texts always score identically, whatever the LM."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.textops import dsir_bucket_ratios, dsir_score

    rows = [(i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # arbitrary target split: even ids define the target LM
    ratios = dsir_bucket_ratios(
        df, "text", "doc_id", is_target=F.col("doc_id") % 2 == 0
    ).localCheckpoint()
    out = {
        r["doc_id"]: (r["n_bigrams"], r["dsir_logw"])
        for r in dsir_score(df, "text", "doc_id", ratios).collect()
    }
    assert set(out) == {i for i, _ in rows}
    assert all(v is not None and w is not None for v, w in out.values())
    by_text = {}
    for i, x in rows:
        by_text.setdefault(" ".join((x or "").lower().split()), set()).add(out[i])
    assert all(len(v) == 1 for v in by_text.values())  # content-only


@settings(max_examples=5, deadline=None)
@given(texts)
def test_bpe_train_equals_sequential_reference(spark, xs):
    """For ANY corpus: bpe_train's merge table equals a pure-Python run of
    the sequential reference algorithm (Sennrich et al. 2016: occurrence-
    weighted vocab, per-round argmax pair with count-desc/(lhs, rhs)-asc
    tie-break, greedy left-to-right merge) — the winnowing-test pattern
    applied to the tokenizer trainer."""
    import re
    from collections import Counter

    from team_126_spark.operators.textops import bpe_train

    # python reference
    vocab = Counter()
    for x in xs:
        for w in " ".join((x or "").lower().split()).split(" "):
            if re.fullmatch(r"[a-z0-9]+", w or ""):
                vocab[w] += 1
    words = {w: list(w) for w in vocab}
    want = []
    for r in range(1, 5):
        pairs = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += vocab[w]
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((r, a, b, c))
        for w, syms in words.items():
            out = [syms[0]]
            for x2 in syms[1:]:
                if out[-1] == a and x2 == b:
                    out[-1] = a + b
                else:
                    out.append(x2)
            words[w] = out

    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], ["doc_id", "text"])
    got = [tuple(r) for r in bpe_train(df, "text", "doc_id", 4).collect()]
    assert got == want


@settings(max_examples=5, deadline=None)
@given(texts)
def test_duplicated_spans_invariants(spark, xs):
    """For ANY corpus: spans lie within their doc's token range, start <=
    end, span length >= k, consecutive spans of a doc are separated by
    more than k positions (maximality — otherwise they'd have merged),
    and every span's doc has at least one k-gram shared with ANOTHER
    doc."""
    from team_126_spark.functions.text import tokens as toks_fn
    from team_126_spark.operators.dedup import duplicated_spans

    k = 3
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], ["doc_id", "text"])
    n_toks = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", F.size(toks_fn(F.col("text"))).alias("n")).collect()
    }
    spans = duplicated_spans(df, "text", "doc_id", k=k, min_docs=2).collect()
    by_doc = {}
    for r in spans:
        assert 1 <= r["span_start"] <= r["span_end"] <= n_toks[r["doc_id"]]
        assert r["span_tokens"] >= k and r["n_dup_grams"] >= 1
        by_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for d, ss in by_doc.items():
        ss.sort()
        for (s1, e1), (s2, e2) in zip(ss, ss[1:]):
            # gram starts differ by > k, else one island
            assert s2 - (e1 - k + 1) > k, (d, ss)


@settings(max_examples=5, deadline=None)
@given(texts)
def test_bpe_apply_conservation(spark, xs):
    """Property: BPE encode never increases symbol count beyond chars,
    never drops below 1 symbol per word, and the per-doc sums are
    consistent (n_bpe_tokens in [n_words, n_chars])."""
    from team_126_spark.operators.textops import bpe_apply

    df = _df(spark, xs).withColumnRenamed("t", "text").withColumnRenamed("i", "doc_id")
    rows = bpe_apply(df, "text", "doc_id", n_merges=3).collect()
    for r in rows:
        assert r["n_words"] >= 1
        assert r["n_words"] <= r["n_bpe_tokens"] <= r["n_chars"]
        assert r["compression_r"] == round(r["n_chars"] / r["n_bpe_tokens"], 6)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # user
            st.integers(min_value=0, max_value=50),  # minute offset
            st.sampled_from(["a", "b", "c"]),        # event type
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_sequence_mining_matches_python_model(spark, evs):
    """Property: pair counts and user supports match a per-user Python
    replay of the same (ts, id)-ordered successor pairing."""
    import datetime as dt
    from collections import defaultdict

    from team_126_spark.operators.relational import sequence_mining

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=m), u, e) for i, (u, m, e) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    per_user = defaultdict(list)
    for i, (u, m, e) in enumerate(evs):
        per_user[u].append((m, i, e))
    pair_n = defaultdict(int)
    pair_users = defaultdict(set)
    seq_users = set()
    for u, lst in per_user.items():
        lst.sort()
        if len(lst) >= 2:
            seq_users.add(u)
        for (_, _, a), (_, _, b) in zip(lst, lst[1:]):
            pair_n[(a, b)] += 1
            pair_users[(a, b)].add(u)
    got = {
        (r["a"], r["b"]): (r["n_pairs"], r["n_users"], r["support_r"])
        for r in sequence_mining(
            df, "user_id", "ts", "event_type", "event_id", min_support=0.0
        ).collect()
    }
    want = {
        p: (pair_n[p], len(us), round(len(us) / len(seq_users), 6))
        for p, us in pair_users.items()
    }
    assert got == want


vec_elems = st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=32)
probe_elems = st.floats(min_value=-1e3, max_value=1e3, allow_nan=False)
probe_cases = st.integers(min_value=1, max_value=8).flatmap(
    lambda d: st.tuples(
        st.lists(probe_elems, min_size=d, max_size=d),
        st.lists(
            st.one_of(st.none(), st.lists(vec_elems, min_size=d, max_size=d)),
            min_size=1,
            max_size=20,
        ),
    )
)


@settings(max_examples=10, deadline=None)
@given(probe_cases)
@example(([0.0, 0.0, 0.0], [[1.0, 2.0, 3.0], None, [0.0, 0.0, 0.0]]))
@example(([1.0, -2.0, 0.5], [[0.0, 0.0, 0.0], None, [3.0, 1.0, -1.0]]))
def test_cosine_to_probe_matches_literal_array_cosine(spark, case):
    """`cosine_to_probe` (one array literal, probe norm folded on the
    driver) equals `cosine_similarity` against the per-element literal
    array bit for bit, on array<float> rows: zero probe, zero row and null
    row included, and with the row norm passed in as a column."""
    import struct

    from team_126_spark.functions.vector import cosine_similarity, cosine_to_probe, norm

    probe, rows = case
    df = spark.createDataFrame(list(enumerate(rows)), "i int, v array<float>")
    lits = F.array(*[F.lit(float(x)) for x in probe])
    v = F.col("v")
    out = df.select(
        cosine_similarity(v, lits).alias("want"),
        cosine_to_probe(v, probe).alias("got"),
        cosine_to_probe(v, probe, a_norm=norm(v)).alias("got_n"),
    ).collect()

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    for r in out:
        assert bits(r["got"]) == bits(r["want"]), (probe, r)
        assert bits(r["got_n"]) == bits(r["want"]), (probe, r)
