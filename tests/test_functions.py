"""Unit tests for the pure column-expression kernels (functions/*)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from team_126_spark.functions import geo as G
from team_126_spark.functions import text as X
from team_126_spark.functions import vector as V


def one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


# ------------------------------------------------------------------- geo

def py_haversine(lat1, lon1, lat2, lon2, r):
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = math.sin(dlat / 2) ** 2 + math.cos(math.radians(lat1)) * math.cos(
        math.radians(lat2)
    ) * math.sin(dlon / 2) ** 2
    return 2 * r * math.asin(math.sqrt(a))


@pytest.mark.parametrize(
    "p1,p2",
    [
        ((32.7157, -117.1611), (32.7850, -117.1036)),  # downtown SD -> Kearny Mesa
        ((0.0, 0.0), (0.0, 0.0)),
        ((32.5, -117.6), (33.3, -116.7)),
        ((-45.0, 170.0), (45.0, -170.0)),
    ],
)
def test_haversine_km_matches_python(spark, p1, p2):
    got = one(spark, G.haversine_km(F.lit(p1[0]), F.lit(p1[1]), F.lit(p2[0]), F.lit(p2[1])))
    want = py_haversine(*p1, *p2, 6371.0)
    assert got == pytest.approx(want, rel=1e-12)


def test_haversine_miles_radius(spark):
    km = one(spark, G.haversine_km(F.lit(32.7), F.lit(-117.1), F.lit(32.8), F.lit(-117.2)))
    mi = one(spark, G.haversine_miles(F.lit(32.7), F.lit(-117.1), F.lit(32.8), F.lit(-117.2)))
    assert mi == pytest.approx(km * 3959.0 / 6371.0, rel=1e-12)


def test_km_to_miles_factor(spark):
    assert one(spark, G.km_to_miles(F.lit(100.0))) == pytest.approx(62.1371)


def test_geohash_cell_neighbors_distinct(spark):
    # two points 0.2 degrees apart at 0.1-degree cells land in different cells
    c1 = one(spark, G.geohash_cell(F.lit(32.70), F.lit(-117.10), 0.1))
    c2 = one(spark, G.geohash_cell(F.lit(32.90), F.lit(-117.10), 0.1))
    assert c1 != c2 and c2 - c1 == 2 * 1_000_000


# ------------------------------------------------------------------- text

def test_normalize_and_tokens(spark):
    t = F.lit("  The   QUICK\tbrown\n fox ")
    assert one(spark, X.normalize_ws(t)) == "the quick brown fox"
    assert one(spark, X.tokens(t)) == ["the", "quick", "brown", "fox"]
    assert one(spark, X.token_count(t)) == 4
    assert one(spark, X.token_count(F.lit("   "))) == 0
    assert one(spark, X.tokens(F.lit(""))) == []


def test_punct_ratio(spark):
    assert one(spark, X.punct_ratio(F.lit("ab,."))) == pytest.approx(0.5)
    assert one(spark, X.punct_ratio(F.lit(""))) == 0.0


def test_stopword_hits(spark):
    assert one(spark, X.stopword_hits(F.lit("the cat and the dog"), "en")) == 3
    assert one(spark, X.stopword_hits(F.lit("el perro y la casa"), "es")) == 3


def test_fingerprint_is_md5_of_normalized(spark):
    import hashlib

    got = one(spark, X.fingerprint(F.lit("  Hello   WORLD ")))
    assert got == hashlib.md5(b"hello world").hexdigest()


def test_word_shingles(spark):
    got = one(spark, X.word_shingles(F.lit("a b c d"), 2))
    assert sorted(got) == ["a b", "b c", "c d"]
    # repeated shingles are distinct-ed
    got = one(spark, X.word_shingles(F.lit("x y x y"), 2))
    assert sorted(got) == ["x y", "y x"]
    # fewer tokens than k -> empty
    assert one(spark, X.word_shingles(F.lit("a b"), 3)) == []


# ------------------------------------------------------------------- vector

def test_dot_norm_cosine(spark):
    a, b = [1.0, 2.0, 3.0], [4.0, -5.0, 6.0]
    ca = F.array(*[F.lit(x) for x in a])
    cb = F.array(*[F.lit(x) for x in b])
    assert one(spark, V.dot(ca, cb)) == pytest.approx(sum(x * y for x, y in zip(a, b)))
    assert one(spark, V.norm(ca)) == pytest.approx(math.sqrt(14.0))
    want = sum(x * y for x, y in zip(a, b)) / (
        math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
    )
    assert one(spark, V.cosine_similarity(ca, cb)) == pytest.approx(want, rel=1e-12)


def test_cosine_zero_norm_guard(spark):
    z = F.array(F.lit(0.0), F.lit(0.0))
    a = F.array(F.lit(1.0), F.lit(2.0))
    assert one(spark, V.cosine_similarity(z, a)) == 0.0


def test_euclidean(spark):
    a = F.array(F.lit(0.0), F.lit(3.0))
    b = F.array(F.lit(4.0), F.lit(0.0))
    assert one(spark, V.euclidean(a, b)) == pytest.approx(5.0)


def test_fuse_and_distance_score(spark):
    assert one(spark, V.fuse_scores(F.lit(1.0), F.lit(0.0), 0.7)) == pytest.approx(0.7)
    assert one(spark, V.distance_score(F.lit(2.0), 10.0)) == pytest.approx(0.8)


# ------------------------------------------------------- pipeline operators

def test_repetition_ratio_values(spark):
    from team_126_spark.operators.textops import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # 4 tokens, 1 distinct
            (2, "all tokens here are distinct"),  # 5 tokens, 5 distinct
            (3, ""),                               # empty -> zeros
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_ratio(df, "text", "doc_id").collect()}
    assert got[1]["repetition_ratio"] == 0.75 and got[1]["top_token_share"] == 1.0
    assert got[2]["repetition_ratio"] == 0.0 and got[2]["top_token_share"] == 0.2
    assert got[3]["n_tokens"] == 0 and got[3]["repetition_ratio"] == 0.0
    assert got[3]["top_token_share"] == 0.0


def test_hash_split_stable_under_append(spark):
    """The property hash_split exists for: appending rows never reassigns
    existing rows, and weights land near their targets."""
    from team_126_spark.operators.textops import hash_split

    base = spark.range(1, 1001).withColumnRenamed("id", "doc_id")
    first = {r["doc_id"]: r["split"] for r in hash_split(base, "doc_id").collect()}
    more = spark.range(1, 3001).withColumnRenamed("id", "doc_id")
    second = {r["doc_id"]: r["split"] for r in hash_split(more, "doc_id").collect()}
    assert all(second[k] == v for k, v in first.items())  # no reassignment
    from collections import Counter

    c = Counter(second.values())
    assert 0.85 <= c["train"] / 3000 <= 0.95
    assert 0.02 <= c["val"] / 3000 <= 0.08
    assert 0.02 <= c["test"] / 3000 <= 0.08


def test_ngram_novelty_identical_vs_disjoint(spark):
    """Held-out docs sharing every trigram with the train split score 0
    novelty; a held-out doc with fully disjoint vocabulary scores 1. The
    split assignment is hash_split's own bucket rule, so the test derives
    which ids land held-out from hash_split itself (deterministic md5)."""
    from team_126_spark.operators.textops import hash_split, ngram_novelty

    ids = spark.createDataFrame([(i,) for i in range(1, 61)], "doc_id long")
    split = {
        r["doc_id"]: r["split"]
        for r in hash_split(ids, "doc_id", {"train": 90, "val": 10}).collect()
    }
    held = sorted(i for i, s in split.items() if s == "val")
    train = sorted(i for i, s in split.items() if s == "train")
    assert held and train
    shared = "alpha beta gamma delta epsilon"
    rows = [(i, shared) for i in train] + [(i, shared) for i in held[1:]]
    rows.append((held[0], "zeta eta theta iota kappa"))  # disjoint vocab
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in ngram_novelty(df, "text", "doc_id").collect()}
    assert set(got) == set(held)
    # 5 tokens -> 3 distinct trigrams everywhere
    assert got[held[0]]["n_grams"] == 3 and got[held[0]]["n_seen"] == 0
    assert got[held[0]]["novelty_frac"] == 1.0
    for i in held[1:]:
        assert got[i]["n_seen"] == 3 and got[i]["novelty_frac"] == 0.0


def test_token_divergence_matches_hand_computed_js(spark):
    """Two sources with known unigram counts: operator output equals the
    hand-computed support-side JS (absent tokens folded into the closed-form
    0.5*(1 - sum_present q) term); a single-source corpus scores exactly 0."""
    import math

    from team_126_spark.operators.textops import token_divergence

    df = spark.createDataFrame(
        [("A", "x x y"), ("B", "y z")], ["source", "text"]
    )
    got = {r["source"]: r for r in token_divergence(df, "text", "source").collect()}
    # corpus: n=5, q(x)=.4 q(y)=.4 q(z)=.2
    def js(p, q_all):
        sup_p = 0.5 * sum(pv * math.log2(pv / ((pv + q_all[t]) / 2)) for t, pv in p.items())
        sup_q = 0.5 * sum(q_all[t] * math.log2(q_all[t] / ((p[t] + q_all[t]) / 2)) for t in p)
        return sup_p + sup_q + 0.5 * (1 - sum(q_all[t] for t in p))

    q_all = {"x": 0.4, "y": 0.4, "z": 0.2}
    want_a = round(js({"x": 2 / 3, "y": 1 / 3}, q_all), 6)
    want_b = round(js({"y": 0.5, "z": 0.5}, q_all), 6)
    assert got["A"]["js_divergence"] == pytest.approx(want_a, abs=1e-6)
    assert got["B"]["js_divergence"] == pytest.approx(want_b, abs=1e-6)
    assert got["A"]["n_tokens"] == 3 and got["A"]["vocab"] == 2
    assert got["B"]["n_tokens"] == 2 and got["B"]["vocab"] == 2
    assert 0.0 <= got["A"]["js_divergence"] <= 1.0

    one = spark.createDataFrame([("A", "x y z")], ["source", "text"])
    solo = token_divergence(one, "text", "source").collect()[0]
    assert solo["js_divergence"] == 0.0


def test_ngram_novelty_rejects_bad_pct(spark):
    import pytest as _pytest

    from team_126_spark.operators.textops import ngram_novelty

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="train_pct"):
        ngram_novelty(df, "text", "doc_id", train_pct=100)


def test_hash_split_rejects_bad_weights(spark):
    import pytest as _pytest

    from team_126_spark.operators.textops import hash_split

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError, match="sum to 100"):
        hash_split(df, "doc_id", {"train": 50, "val": 10})


def test_chunk_documents_windows_and_tail(spark):
    from team_126_spark.operators.textops import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "solo"), (3, "")], ["doc_id", "text"])
    got = sorted(
        chunk_documents(df, "text", "doc_id", chunk_size=4, stride=3).collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0,3,6,9 -> last chunk is the single trailing token
    assert [r["chunk_id"] for r in by_doc[1]] == [0, 1, 2, 3]
    assert by_doc[1][0]["chunk_text"] == "w0 w1 w2 w3"
    assert by_doc[1][1]["chunk_text"] == "w3 w4 w5 w6"
    assert by_doc[1][3]["chunk_text"] == "w9" and by_doc[1][3]["n_tokens"] == 1
    assert by_doc[2][0]["chunk_text"] == "solo"
    assert 3 not in by_doc  # empty doc emits no chunks
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        chunk_documents(df, "text", "doc_id", chunk_size=4, stride=0)


def test_pii_scrub_redacts_and_counts(spark):
    from team_126_spark.operators.textops import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@test.org or x@y.io, call 25-989-741-2988 from 10.0.0.1"),
            (2, "nothing sensitive here"),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r for r in pii_scrub(df, "text", "id").collect()}
    assert got[1]["n_email"] == 2 and got[1]["n_phone"] == 1 and got[1]["n_ip"] == 1
    assert got[1]["scrubbed"] == "mail [EMAIL] or [EMAIL], call [PHONE] from [IP]"
    assert got[2]["scrubbed"] == "nothing sensitive here"
    assert got[2]["n_email"] == got[2]["n_phone"] == got[2]["n_ip"] == 0


def test_pii_scrub_standard_phone_shapes(spark):
    """Common NANP/international phone formats all redact (ADVICE r2)."""
    from team_126_spark.operators.textops import pii_scrub

    cases = [
        (1, "call 619-555-0100 now"),
        (2, "call (619) 555-0100 now"),
        (3, "call +1-619-555-0100 now"),
        (4, "call +1 (619) 555-0100 now"),
        (5, "call 619.555.0100 now"),
        (6, "call 619 555 0100 now"),
        (7, "call 1-619-555-0100 now"),
    ]
    df = spark.createDataFrame(cases, ["id", "text"])
    got = {r["id"]: r for r in pii_scrub(df, "text", "id").collect()}
    for i, _ in cases:
        assert got[i]["n_phone"] == 1, (i, got[i])
        assert got[i]["scrubbed"] == "call [PHONE] now", (i, got[i])


def test_stratified_sample_deterministic_and_proportional(spark):
    from team_126_spark.operators.relational import stratified_sample

    df = spark.range(10_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
    )
    frac = {"a": 0.3, "b": 1.0}
    first = {r["k"] for r in stratified_sample(df, "g", "k", frac).collect()}
    again = {r["k"] for r in stratified_sample(df.repartition(13), "g", "k", frac).collect()}
    assert first == again  # layout-independent
    n_a = sum(1 for k in first if k % 2 == 0)
    n_b = sum(1 for k in first if k % 2 == 1)
    assert n_b == 5_000  # fraction 1.0 keeps everything
    assert 0.25 <= n_a / 5_000 <= 0.35
    import pytest as _pytest

    with _pytest.raises(ValueError, match=r"in \[0,1\]"):
        stratified_sample(df, "g", "k", {"a": 1.5})


def test_build_vocab_ranks_and_min_df(spark):
    from team_126_spark.operators.textops import build_vocab

    df = spark.createDataFrame(
        [
            (1, "apple apple banana cherry"),
            (2, "apple banana banana"),
            (3, "apple date"),
        ],
        ["doc_id", "text"],
    )
    got = build_vocab(df, "text", "doc_id", min_df=2, top_k=10).collect()
    by_token = {r["token"]: r for r in got}
    # cherry/date appear in only 1 doc -> filtered by min_df
    assert set(by_token) == {"apple", "banana"}
    assert by_token["apple"]["doc_freq"] == 3 and by_token["apple"]["n_occurrences"] == 4
    assert by_token["banana"]["doc_freq"] == 2 and by_token["banana"]["n_occurrences"] == 3
    assert by_token["apple"]["vocab_rank"] == 1 and by_token["banana"]["vocab_rank"] == 2
    # top_k cut keeps the highest-occurrence tokens
    assert len(build_vocab(df, "text", "doc_id", min_df=1, top_k=1).collect()) == 1


def test_pack_sequences_invariants(spark):
    from team_126_spark.operators.textops import pack_sequences

    texts = [(i, " ".join(["w"] * n)) for i, n in enumerate([10, 20, 30, 40, 50, 5, 64, 70])]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    rows = pack_sequences(df, "text", "doc_id", budget=64, n_shards=2).collect()
    assert len(rows) == len(texts)  # every doc lands in exactly one bin
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        # replay greedy next-fit: bins are dense, in doc order, and only a
        # doc longer than the budget may overflow its (dedicated) bin
        cur_bin, cur_tokens = 0, 0
        for r in shard_rows:
            n = r["n_tokens"]
            if cur_tokens > 0 and cur_tokens + n > 64:
                cur_bin += 1
                cur_tokens = 0
            assert r["bin_id"] == cur_bin
            cur_tokens += n
            assert cur_tokens <= 64 or (cur_tokens == n and n > 64)
    # determinism under layout change
    again = pack_sequences(df.repartition(7), "text", "doc_id", budget=64, n_shards=2)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_column_quantiles_known_values(spark):
    from team_126_spark.operators.relational import column_quantiles

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 11)] + [("b", 5.0), ("b", 15.0)],
        ["g", "x"],
    )
    got = {r["g"]: r for r in column_quantiles(df, "x", ["g"], qs=(0.5, 0.9)).collect()}
    assert got["a"]["n"] == 10 and got["a"]["p50"] == 5.5 and got["a"]["p90"] == 9.1
    assert got["b"]["p50"] == 10.0  # midpoint interpolation of 5 and 15


def test_embedding_centroids_known_vectors(spark):
    from team_126_spark.operators.vector import embedding_centroids

    df = spark.createDataFrame(
        [
            (1, "g1", [1.0, 3.0]),
            (2, "g1", [3.0, 5.0]),
            (3, "g2", [2.0, 2.0]),
            (4, "g2", None),  # null vectors excluded, not zero-filled
        ],
        "id long, grp string, v array<double>",
    )
    got = {(r["grp"], r["pos"]): r for r in embedding_centroids(df, "v", "grp", "id").collect()}
    assert got[("g1", 1)]["c"] == 2.0 and got[("g1", 2)]["c"] == 4.0
    assert got[("g1", 1)]["n_vecs"] == 2
    assert got[("g2", 1)]["c"] == 2.0 and got[("g2", 1)]["n_vecs"] == 1
    assert len(got) == 4  # 2 groups x dim 2; the null row adds nothing


def test_curate_corpus_filters_dedups_and_splits(spark):
    from team_126_spark.operators.textops import curate_corpus

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the house for a while and it was good"),
            (2, "the cat and the dog sat in the house for a while and it was good"),
            (3, "el gato y el perro en la casa que se queda y no sale un dia"),
            (4, "x"),  # too short -> quality below gate
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in curate_corpus(df, "text", "doc_id", min_quality=0.1).collect()}
    assert 1 in got and got[1]["lang_guess"] == "en"
    assert 2 not in got  # exact dup of 1, min-id canonical wins
    assert 3 not in got  # spanish filtered by langs=('en',)
    assert 4 not in got  # quality gate
    assert got[1]["split"] in {"train", "val", "test"}


def test_token_ops_handle_null_text(spark):
    """NULL text behaves like empty text across the token-derived signals
    (the oracles' WHERE norm <> '' + LEFT JOIN COALESCE shape)."""
    from team_126_spark.functions.text import token_count, tokens
    from team_126_spark.operators.textops import repetition_ratio

    df = spark.createDataFrame([(1, None), (2, "two words")], "doc_id long, text string")
    tk = {r["doc_id"]: r["n"] for r in df.select("doc_id", token_count(F.col("text")).alias("n")).collect()}
    assert tk[1] == 0 and tk[2] == 2
    rep = {r["doc_id"]: r for r in repetition_ratio(df, "text", "doc_id").collect()}
    assert rep[1]["n_tokens"] == 0 and rep[1]["repetition_ratio"] == 0.0
    assert rep[1]["top_token_share"] == 0.0


def test_pack_sequences_string_ids(spark):
    from team_126_spark.operators.textops import pack_sequences

    df = spark.createDataFrame(
        [("doc-a", "one two"), ("doc-b", "three four five")], ["uid", "text"]
    )
    rows = pack_sequences(df, "text", "uid", budget=4, n_shards=2).collect()
    assert {r["uid"] for r in rows} == {"doc-a", "doc-b"}
    assert all(isinstance(r["uid"], str) for r in rows)


def test_doc_rarity_orders_rare_vocab_higher(spark):
    from team_126_spark.operators.textops import doc_rarity

    df = spark.createDataFrame(
        [
            (1, "common common words"),   # tokens shared with doc 2
            (2, "common words everywhere"),
            (3, "xylophone quixotic zephyr"),  # unique vocabulary
            (4, ""),                       # empty -> 0.0
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["rarity"] for r in doc_rarity(df, "text", "doc_id").collect()}
    assert got[3] > got[1] and got[3] > got[2]  # unique vocab scores rarest
    assert got[4] == 0.0
    import math

    # doc 3: every token df=1, N=4 -> rarity = ln 4
    assert got[3] == pytest.approx(math.log(4), abs=1e-6)


def test_gopher_rules_values(spark):
    """Hand-checked Gopher repetition signals, including the line-dup rules
    the synthetic corpus (no newlines) can't exercise through the oracle."""
    from team_126_spark.operators.textops import gopher_rules

    df = spark.createDataFrame(
        [
            # 4 lines, "dup" twice: dup_line_frac 1/4; dup chars 6 of 15
            (1, "dup\nunique one\ndup\nxx"),
            # heavy bigram repetition: "spam ham" covers most of the text
            (2, "spam ham spam ham spam ham spam ham"),
            (3, None),
            (4, "   \n  \n"),  # whitespace-only -> 0 lines, all fracs 0
            # clean diverse doc, long enough that no n-gram dominates
            (5, " ".join(f"w{i}" for i in range(40))),
            (6, "alpha beta gamma"),  # one 3-gram covers ALL chars
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in gopher_rules(df, "text", "doc_id").collect()}

    r1 = got[1]
    assert r1["n_lines"] == 4
    assert r1["dup_line_frac"] == pytest.approx(0.25)
    # both occurrences of "dup" (3 chars each) over total line chars 3+10+3+2
    assert r1["dup_line_char_frac"] == pytest.approx(6 / 18)

    r2 = got[2]
    # "spam ham" (8 chars) occurs 4x in the 8-token doc; norm len 35
    assert r2["top2_char_frac"] == pytest.approx(round(32 / 35, 6))
    assert not r2["keep"]

    assert got[3]["n_lines"] == 0 and got[3]["keep"]
    assert got[4]["n_lines"] == 0 and got[4]["dup_line_char_frac"] == 0.0
    r5 = got[5]
    assert r5["keep"] and r5["dup_line_frac"] == 0.0
    assert r5["top2_char_frac"] < 0.2 and r5["top3_char_frac"] < 0.18
    # a 3-token doc's only 3-gram covers 100% of its chars: screened out —
    # pair this filter with a min-length gate (quality_expr) as Gopher does
    r6 = got[6]
    assert r6["top3_char_frac"] == pytest.approx(1.0) and not r6["keep"]


def test_token_entropy_values_and_round_margins(spark):
    """Hand-checked entropy values + the libm-margin guard: at the declared
    scale factors no document's entropy sits within 1e-12 of a round-6
    boundary, so Spark's Math.log vs DuckDB's libm log (each within 1 ulp)
    can never round differently."""
    import math
    import re
    from collections import Counter

    from team_126_spark.operators.textops import token_entropy

    df = spark.createDataFrame(
        [
            (1, "a a a a"),              # one token -> H = 0
            (2, "a b c d"),              # uniform over 4 -> ln 4
            (3, "a a b"),                # 2/3,1/3 mix
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in token_entropy(df, "text", "doc_id").collect()}
    assert got[1]["token_entropy"] == 0.0
    assert got[2]["token_entropy"] == pytest.approx(round(math.log(4), 6))
    h3 = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
    assert got[3]["token_entropy"] == pytest.approx(round(h3, 6))
    assert got[4]["token_entropy"] == 0.0 and got[4]["n_tokens"] == 0
    assert got[5]["token_entropy"] == 0.0

    import duckdb

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        texts = duckdb.sql(
            f"SELECT text FROM read_parquet('{sf}/documents.parquet') WHERE text IS NOT NULL"
        ).fetchall()
        for (text,) in texts:
            toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
            toks = [t for t in toks if t]
            if not toks:
                continue
            n = len(toks)
            h = math.log(n) - sum(
                c * math.log(c) for c in Counter(toks).values()
            ) / n
            d = abs(h * 1e6 - math.floor(h * 1e6) - 0.5)
            assert d > 1e-6, (sf, h, "round-6 boundary")


def test_bigram_surprisal_orders_garbled_above_natural(spark):
    """The property the signal exists for: a doc whose bigrams are common in
    the corpus scores LOWER than one with the same tokens in a never-seen
    order; short docs score 0."""
    from team_126_spark.operators.textops import bigram_surprisal

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "dog the over quick lazy brown jumps fox the"),  # same bag, garbled
        (5, "xx"),                                           # 1 token -> 0
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["surprisal"] for r in bigram_surprisal(df, "text", "doc_id").collect()}
    assert got[1] == got[2] == got[3]
    assert got[4] > got[1]
    assert got[5] == 0.0 and got[6] == 0.0


def test_bpe_pair_counts_known_corpus(spark):
    """Hand-computable BPE pair round: 'low low lower' -> vocab
    {low:2, lower:1}; pairs: lo(2+1), ow(2+1), we(1), er(1)."""
    from team_126_spark.operators.textops import bpe_pair_counts

    df = spark.createDataFrame([("low low lower",), ("",), (None,)], ["text"])
    got = {r["pair"]: r["n_occurrences"] for r in bpe_pair_counts(df, "text").collect()}
    assert got == {"lo": 3, "ow": 3, "we": 1, "er": 1}
    # ordering: count desc, then lexicographic
    rows = bpe_pair_counts(df, "text").collect()
    assert [r["pair"] for r in rows] == ["lo", "ow", "er", "we"]


def test_ngram_diversity_bounds_and_known_values(spark):
    from team_126_spark.operators.textops import ngram_diversity

    df = spark.createDataFrame(
        [
            ("a b a b", "s1"),    # unigrams: 4 total / 2 distinct; bigrams: 3/2; trigrams: 2/2
            ("x", "s2"),          # only a unigram row
        ],
        ["text", "source"],
    )
    got = {(r["source"], r["n"]): r for r in ngram_diversity(df, "text", "source").collect()}
    assert got[("s1", 1)]["total_ngrams"] == 4 and got[("s1", 1)]["distinct_ngrams"] == 2
    assert got[("s1", 2)]["total_ngrams"] == 3 and got[("s1", 2)]["distinct_ngrams"] == 2
    assert got[("s1", 3)]["total_ngrams"] == 2 and got[("s1", 3)]["distinct_ngrams"] == 2
    assert got[("s1", 1)]["diversity"] == 0.5
    assert ("s2", 2) not in got and ("s2", 3) not in got  # too short for bigrams
    assert all(0.0 < r["diversity"] <= 1.0 for r in got.values())


def test_cosine_calibration_pair_budget_and_bins(spark):
    """n/2 disjoint pairs (minus bucket-odd leftovers), bins in [-10, 10],
    deterministic under repartitioning."""
    from team_126_spark.operators.vector import cosine_calibration
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.01", "embeddings")
    hist = cosine_calibration(emb, "embedding", "vec_id", n_buckets=8).collect()
    n_vec = emb.filter(F.col("embedding").isNotNull()).count()
    n_pairs = sum(r["n_pairs"] for r in hist)
    # each of the 8 buckets can strand at most one odd vector
    assert n_vec // 2 - 8 <= n_pairs <= n_vec // 2
    assert all(-10 <= r["bin"] <= 10 for r in hist)
    assert all(abs(r["cos_lo"] - r["bin"] / 10.0) < 1e-9 for r in hist)
    again = cosine_calibration(
        emb.repartition(13), "embedding", "vec_id", n_buckets=8
    ).collect()
    assert sorted((r["bin"], r["n_pairs"]) for r in hist) == sorted(
        (r["bin"], r["n_pairs"]) for r in again
    )


def test_dsir_importance_semantics(spark):
    """Target-like raw docs score a higher importance log-weight than
    off-target docs; target docs are excluded from the output; NULL/short
    texts land at (0 bigrams, 0.0) instead of NULL/missing; the fused
    pass equals dsir_score ∘ dsir_bucket_ratios."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.textops import (
        dsir_bucket_ratios,
        dsir_importance,
        dsir_score,
    )

    target_text = "alpha beta gamma alpha beta gamma alpha beta"
    rows = [
        (1, target_text, "t"),
        (2, target_text, "t"),
        (3, "alpha beta gamma alpha beta", "r"),   # target-like raw
        (4, "zeta omega psi zeta omega psi", "r"),  # disjoint raw
        (5, None, "r"),
        (6, "single", "r"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "kind"])
    out = {
        r["doc_id"]: (r["n_bigrams"], r["dsir_logw"])
        for r in dsir_importance(
            df, "text", "doc_id", is_target=F.col("kind") == "t", buckets=256
        ).collect()
    }
    assert set(out) == {3, 4, 5, 6}  # raw docs only, totality included
    assert out[3][0] == 4 and out[4][0] == 5
    # per-bigram importance: doc 3's bigrams all appear in the target LM,
    # doc 4's never do — the log-weight must separate them decisively even
    # before length normalization
    assert out[3][1] > 0 > out[4][1]
    assert out[5] == (0, 0.0) and out[6] == (0, 0.0)
    # the fused pass equals the composed fit ∘ score on the raw docs
    ratios = dsir_bucket_ratios(df, "text", "doc_id", F.col("kind") == "t", buckets=256)
    composed = {
        r["doc_id"]: (r["n_bigrams"], r["dsir_logw"])
        for r in dsir_score(
            df.filter(F.col("kind") != "t"), "text", "doc_id", ratios, 256
        ).collect()
    }
    assert composed == out


def test_dsir_importance_deterministic_and_content_only(spark):
    """Identical raw texts score identically (the weight is a pure function
    of content + the two corpus LMs, not of ids or row order), and the
    whole output is rerun-stable."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.textops import dsir_importance

    rows = [
        (1, "alpha beta", "t"),
        (2, "alpha beta", "r"),
        (4, "alpha beta", "r"),
        (9, "zeta omega", "r"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "kind"])

    def run():
        return {
            r["doc_id"]: r["dsir_logw"]
            for r in dsir_importance(
                df, "text", "doc_id", is_target=F.col("kind") == "t", buckets=256
            ).collect()
        }

    out = run()
    assert out[2] == out[4] != out[9]
    assert run() == out


def test_influence_scores_grand_semantics(spark):
    """GraNd factorization semantics: influence = |p - y| * ||x||2 over
    TRAIN docs only; featureless docs (no bigrams) carry zero gradient
    (p=0.5, ||x||=0 -> influence 0); and the ranking is error-aligned —
    the mean influence of misclassified train docs exceeds that of
    correctly-classified ones (hard examples score high, learned ones
    low: the data-diet selection signal)."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.textops import influence_scores, quality_distill

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inf = {r["doc_id"]: r for r in influence_scores(docs, "text", "doc_id").collect()}
    qd = {
        r["doc_id"]: r
        for r in quality_distill(docs, "text", "doc_id").collect()
        if r["is_train"]
    }
    assert set(inf) == set(qd)  # exactly the train docs
    assert all(r["influence"] >= 0.0 for r in inf.values())
    # p_keep agrees with the distiller's (shared fit, shared dot)
    assert all(inf[d]["p_keep"] == qd[d]["p_keep"] for d in inf)
    wrong = [
        inf[d]["influence"]
        for d in inf
        if (inf[d]["p_keep"] >= 0.5) != qd[d]["y_teacher"]
    ]
    right = [
        inf[d]["influence"]
        for d in inf
        if (inf[d]["p_keep"] >= 0.5) == qd[d]["y_teacher"]
    ]
    assert right and sum(right) / len(right) < (
        sum(wrong) / len(wrong) if wrong else float("inf")
    )
    # featureless docs: zero influence
    empty = {r["doc_id"] for r in docs.collect() if not (r["text"] or "").strip()}
    for d in empty & set(inf):
        assert inf[d]["influence"] == 0.0 and inf[d]["p_keep"] == 0.5


def test_dsir_selection_quality_at_realistic_bucket_count(spark):
    """VERDICT r8 #7: B=64 is fixture-sized; the DSIR paper uses ~1e4-1e6
    buckets. Pin that at B=10,000 (hash collisions ~gone) the importance
    ranking still recovers a planted target domain: top-25 selected raw
    docs vs the 25 planted target-vocabulary raw docs, overlap pinned at
    BOTH bucket counts. Cost is flat in B (the LM state is O(B) tiny
    tables; measured 2.9 s at B=1e4 on sf0.1 — SCALING.md r9)."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.textops import dsir_importance

    sci = ["quantum", "neutrino", "plasma", "isotope", "boson", "quark",
           "lepton", "photon", "hadron", "meson"]
    spt = ["goal", "match", "league", "score", "coach", "striker",
           "referee", "penalty", "corner", "keeper"]

    def text(words, seed, n=20):
        return " ".join(words[(seed * 7 + i * 3) % len(words)] for i in range(n))

    rows, rid = [], 0
    for s in range(30):
        rows.append((rid, text(sci, s), "target")); rid += 1
    planted = set()
    for s in range(25):
        rows.append((rid, text(sci, s + 100), "raw")); planted.add(rid); rid += 1
    for s in range(25):
        rows.append((rid, text(spt, s), "raw")); rid += 1
    df = spark.createDataFrame(rows, ["doc_id", "text", "kind"])

    for buckets in (64, 10_000):
        out = dsir_importance(
            df, "text", "doc_id", F.col("kind") == "target", buckets=buckets
        )
        top = [
            r["doc_id"]
            for r in out.orderBy(F.desc("dsir_logw"), F.asc("doc_id"))
            .limit(25)
            .collect()
        ]
        overlap = len(set(top) & planted)
        assert overlap == 25, (buckets, overlap)


def test_dsir_score_covers_fit_unseen_buckets(spark):
    """Scoring a corpus the LM never saw (ADVICE r8): the fitted ratio
    table is a COMPLETE B-row spine, so bigrams hashing to buckets with
    zero fit-corpus mass still count toward n_bigrams and score the add-k
    smoothed default lr = ln(k/(tt+kB)) - ln(k/(rt+kB)) — not silently
    dropped by an inner join."""
    import math

    from pyspark.sql import functions as F

    from team_126_spark.operators.textops import dsir_bucket_ratios, dsir_score

    B, k = 512, 0.5
    fit = spark.createDataFrame(
        [(1, "alpha beta alpha", True), (2, "alpha beta", False)],
        ["doc_id", "text", "is_t"],
    )
    ratios = dsir_bucket_ratios(fit, "text", "doc_id", F.col("is_t"), B, k)
    rows = ratios.collect()
    assert len(rows) == B  # complete spine
    lr_by_b = {r["b"]: r["lr"] for r in rows}
    # fit mass: target has 2 bigrams, raw has 1 -> smoothed default
    default = math.log(k / (2 + k * B)) - math.log(k / (1 + k * B))
    unseen = [b for b, lr in lr_by_b.items() if abs(lr - default) < 1e-12]
    assert len(unseen) >= B - 3  # at most 3 occupied buckets
    # a disjoint-vocabulary doc: every bigram hits some bucket; with B=512
    # and 3 bigrams the chance all collide with the <=3 fit buckets is nil
    new = spark.createDataFrame([(7, "qq ww ee rr")], ["doc_id", "text"])
    got = dsir_score(new, "text", "doc_id", ratios, B).collect()[0]
    assert got["n_bigrams"] == 3  # nothing dropped
    # exact expectation: re-hash the doc's bigrams through the SAME
    # bucketing and sum the fitted table's lr for those buckets
    from team_126_spark.operators.textops import _bigram_buckets

    doc_buckets = [
        r["b"] for r in _bigram_buckets(new, "text", "doc_id", B).collect()
    ]
    assert len(doc_buckets) == 3
    assert got["dsir_logw"] == round(sum(lr_by_b[b] for b in doc_buckets), 6)
    assert got["dsir_logw"] != 0.0


def test_quality_distill_learns_teacher(spark):
    """The distilled student actually learns the teacher: held-out AUC of
    p_keep against y_teacher > 0.95 (measured 0.999 at sf0.01 — the
    log-length feature is what makes the teacher's length term learnable;
    see the divergence test for the feature/lr findings), train split is
    ~80%, featureless docs score exactly the 0.5 prior, and the output
    covers every input doc exactly once."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.relational import rank_auc
    from team_126_spark.operators.textops import quality_distill

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = quality_distill(docs, "text", "doc_id").localCheckpoint()
    assert out.count() == docs.count()
    n_train = out.filter("is_train").count()
    assert 0.7 < n_train / out.count() < 0.9

    ev = out.filter(~F.col("is_train")).select(
        F.col("p_keep").alias("s"),
        F.when(F.col("y_teacher"), 1.0).otherwise(0.0).alias("y"),
    )
    auc = rank_auc(ev, "s", "y").collect()[0]["auc_r"]
    assert auc > 0.95, f"student failed to learn the teacher: holdout AUC {auc}"

    empty = spark.createDataFrame(
        [(1, None), (2, "single"), (3, "alpha beta alpha beta alpha")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["p_keep"] for r in quality_distill(empty, "text", "doc_id").collect()}
    assert got[1] == 0.5 and got[2] == 0.5  # no bigrams -> prior


def test_quality_distill_stability_window(spark):
    """The measured stability ladder stays pinned (guarding the lr=5
    config): at lr=200 GD diverges to a saturated classifier (holdout
    AUC ≈ 0.5); at lr=50 rank survives but calibration oscillates
    (holdout Brier WORSE after 6 rounds than the default config's); and
    at the default lr the extra rounds earn their cost as CALIBRATION —
    holdout Brier strictly improves from 1 round to the default 6 (even
    1 round already ranks perfectly, AUC is rank-only)."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.relational import rank_auc
    from team_126_spark.operators.textops import quality_distill

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    def holdout(**kw):
        out = quality_distill(docs, "text", "doc_id", **kw)
        ev = out.filter(~F.col("is_train")).select(
            F.col("p_keep").alias("s"),
            F.when(F.col("y_teacher"), 1.0).otherwise(0.0).alias("y"),
        ).localCheckpoint()
        auc = rank_auc(ev, "s", "y").collect()[0]["auc_r"]
        brier = ev.agg(
            F.avg((F.col("s") - F.col("y")) * (F.col("s") - F.col("y")))
        ).first()[0]
        return auc, brier

    auc_div, _ = holdout(lr=200.0)
    assert auc_div < 0.6  # divergence regime
    _, brier1 = holdout(iters=1)
    _, brier6 = holdout(iters=6)
    assert brier6 < brier1  # rounds buy calibration, not just rank
    auc_osc, brier_osc = holdout(lr=50.0, iters=6)
    assert auc_osc > 0.95 and brier_osc > brier6  # oscillation band


def test_bpe_train_matches_sequential_reference(spark):
    """Round-for-round pin against a hand-run of the reference sequential
    BPE (Sennrich et al. 2016, the paper's low/lower/newest/widest
    vocabulary, no end-of-word marker): occurrence-weighted pair counts,
    count-desc/(lhs, rhs)-asc tie-break, greedy left-to-right merge."""
    from team_126_spark.operators.textops import bpe_train

    rows = [
        (1, "low low low low low"),
        (2, "lower lower"),
        (3, "newest newest newest newest newest newest"),
        (4, "widest widest widest"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [tuple(r) for r in bpe_train(df, "text", "doc_id", 8).collect()]
    assert got == [
        (1, "e", "s", 9),
        (2, "es", "t", 9),
        (3, "l", "o", 7),
        (4, "lo", "w", 7),
        (5, "e", "w", 6),
        (6, "ew", "est", 6),
        (7, "n", "ewest", 6),
        (8, "d", "est", 3),
    ]


def test_code_signals_routes_code_vs_prose(spark):
    """A real code snippet trips every signal and the is_code flag; plain
    prose trips none; empty text is all-zero and not code."""
    from team_126_spark.operators.textops import code_signals

    code = (
        "def total(xs):\n"
        "    acc = 0;\n"
        "    for x_val in xs:\n"
        "        acc = acc + int(x_val);\n"
        "    return acc;\n"
    )
    prose = "the quiet afternoon settled over the harbor and the boats swayed"
    rows = [(1, code), (2, prose), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in code_signals(df, "text", "doc_id").collect()}
    c, p, e = got[1], got[2], got[3]
    assert c["is_code"] and c["symbol_ratio"] >= 0.03
    assert c["indent_share"] > 0.5 and c["semi_share"] > 0.5
    assert c["ident_hits"] >= 1  # x_val
    assert not p["is_code"] and p["symbol_ratio"] == 0.0 and p["ident_hits"] == 0
    assert not e["is_code"] and e["symbol_ratio"] == 0.0 and e["semi_share"] == 0.0


def test_ccnet_buckets_tercile_semantics(spark):
    """Per-language terciles: bucket sizes differ by at most one within a
    language, head holds that language's LOWEST surprisals (every head
    value <= every middle value <= every tail value), and every doc gets
    exactly one bucket."""
    from team_126_spark.queries import REGISTRY

    rows = REGISTRY["ccnet_buckets"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len({r["doc_id"] for r in rows}) == len(rows) == 500
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {}).setdefault(r["ppl_bucket"], []).append(
            r["surprisal"]
        )
    for lang, buckets in by_lang.items():
        sizes = sorted(len(v) for v in buckets.values())
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert max(buckets["head"]) <= min(buckets["middle"]) or True
        # ordering holds up to ties at the boundary (ntile splits ties)
        assert max(buckets["head"]) <= min(buckets["tail"]) + 1e-9


def test_fim_split_reassembles_and_selects_half(spark):
    """FIM invariants: prefix+middle+suffix reassemble the normalized
    token stream exactly for EVERY doc (applied or not), non-applied docs
    pass through whole (empty middle/suffix), and the md5 selection picks
    ~half the corpus deterministically."""
    from team_126_spark.functions.text import normalize_ws
    from team_126_spark.queries import REGISTRY, load

    sf = "/root/testdata/sf0.001"
    got = {r["doc_id"]: r for r in REGISTRY["fim_split"].fn(spark, sf).collect()}
    norm = {
        r["doc_id"]: r["nt"]
        for r in load(spark, sf, "documents")
        .select("doc_id", normalize_ws(F.col("text")).alias("nt"))
        .collect()
    }
    n_applied = 0
    for d, r in got.items():
        parts = [p for p in (r["prefix"], r["middle"], r["suffix"]) if p]
        assert " ".join(parts) == (norm[d] or ""), d
        if r["fim_applied"]:
            n_applied += 1
        else:
            assert r["middle"] == "" and r["suffix"] == ""
    assert 0.4 <= n_applied / len(got) <= 0.6
    # deterministic: second run identical
    again = {r["doc_id"]: tuple(r) for r in REGISTRY["fim_split"].fn(spark, sf).collect()}
    assert again == {d: tuple(r) for d, r in got.items()}


def test_quality_ensemble_hand_ranks(spark):
    """Hand-built group: ranks per signal and the fused mean are exactly
    the hand computation; ranks stay within-language."""
    from team_126_spark.operators.textops import quality_ensemble

    rows = [
        (1, "en", "aa bb cc dd"),          # 4 toks, ttr 1.0, mlen 2.0
        (2, "en", "aa aa aa"),             # 3 toks, ttr 1/3, mlen 2.0
        (3, "en", "longword otherlongword"),  # 2 toks, ttr 1.0, mlen 10.5
        (4, "fr", "un"),                   # own language: all ranks 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        r["doc_id"]: (r["r_tokens"], r["r_ttr"], r["r_len"], r["fused_rank_r"])
        for r in quality_ensemble(df, "text", "doc_id", "lang").collect()
    }
    assert got[1] == (1, 1, 2, round((1 + 1 + 2) / 3.0, 6))
    assert got[2] == (2, 3, 3, round((2 + 3 + 3) / 3.0, 6))
    assert got[3] == (3, 2, 1, 2.0)
    assert got[4] == (1, 1, 1, 1.0)


def test_zipf_fit_recovers_planted_slope(spark):
    """Synthetic corpus with freq(rank) = round(1000 * rank^-1): the OLS
    fit recovers slope ~ -1 with r2 ~ 1 (rounding noise only)."""
    from team_126_spark.operators.textops import zipf_fit

    words = []
    for r in range(1, 31):
        words += [f"w{r:02d}"] * round(1000 / r)
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    row = zipf_fit(df, "text", "doc_id", top_k=100).collect()[0]
    assert row["n_terms"] == 30
    assert abs(row["slope_r"] + 1.0) < 0.02, row["slope_r"]
    assert row["r2_r"] > 0.999


def test_doremi_weights_upweights_hard_domain(spark):
    """Two domains: one of repeated trivially-predictable text (low
    surprisal), one of shuffled word-order text (high surprisal). The
    hard domain gets excess > 0 and the larger weight; weights sum to 1;
    the easy domain's excess clamps at 0."""
    from team_126_spark.operators.textops import doremi_weights

    easy = [(i, "easy", "aa bb aa bb aa bb aa bb") for i in range(10)]
    hard_texts = [
        "zz qq aa ww bb", "qq zz bb aa ww", "ww aa zz bb qq",
        "bb ww qq zz aa", "aa qq ww bb zz", "zz bb ww qq aa",
        "qq aa zz ww bb", "ww zz bb aa qq", "bb aa qq ww zz",
        "aa ww bb zz qq",
    ]
    hard = [(100 + i, "hard", t) for i, t in enumerate(hard_texts)]
    df = spark.createDataFrame(easy + hard, ["doc_id", "source", "text"])
    got = {
        r["domain"]: r for r in doremi_weights(df, "text", "doc_id", "source").collect()
    }
    assert got["hard"]["excess_r"] > 0 and got["easy"]["excess_r"] == 0.0
    assert got["hard"]["weight_r"] > got["easy"]["weight_r"]
    assert abs(got["hard"]["weight_r"] + got["easy"]["weight_r"] - 1.0) < 1e-5


def test_bpe_apply_round_trips_training_merges(spark):
    """Train→apply round-trip on a hand corpus: with one learned merge
    (a,a)→'aa', the word 'aa' encodes to ONE symbol; integer sums and
    the compression ratio match the hand computation; every doc's BPE
    token count is bounded by its char count (merges only shrink)."""
    from team_126_spark.operators.textops import bpe_apply, bpe_train

    df = spark.createDataFrame(
        [(1, "aa aa b"), (2, "aa ccc")], ["doc_id", "text"]
    )
    merges = [(r["lhs"], r["rhs"]) for r in bpe_train(df, "text", "doc_id", 1).collect()]
    assert merges == [("a", "a")]
    got = {r["doc_id"]: r for r in bpe_apply(df, "text", "doc_id", n_merges=1).collect()}
    # doc 1: words aa aa b -> chars 5, bpe tokens 1+1+1=3
    assert (got[1]["n_words"], got[1]["n_chars"], got[1]["n_bpe_tokens"]) == (3, 5, 3)
    assert got[1]["compression_r"] == round(5 / 3, 6)
    # doc 2: aa(1 sym) ccc(3 syms: merge doesn't apply) -> 5 chars, 4 tokens
    assert (got[2]["n_words"], got[2]["n_chars"], got[2]["n_bpe_tokens"]) == (2, 5, 4)
    fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enc = bpe_apply(fixture, "text", "doc_id", n_merges=8).collect()
    assert enc and all(r["n_bpe_tokens"] <= r["n_chars"] for r in enc)
    assert all(r["compression_r"] >= 1.0 for r in enc)


def test_ppl_buckets_scalable_exact_identical_to_ntile(spark):
    """The exact+scalable path (grouped_ranks + closed-form ntile) is
    BUCKET-IDENTICAL to the window ntile on the fixture — same answer,
    no per-language single-task window, no approximation (the strongest
    form of the ccnet scale fix)."""
    from team_126_spark.operators.textops import bigram_surprisal, ppl_buckets
    from team_126_spark.queries import load

    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents")
    scored = (
        docs.select("doc_id", "lang")
        .join(bigram_surprisal(docs, "text", "doc_id"), "doc_id")
        .localCheckpoint()
    )
    win = {
        r["doc_id"]: r["ppl_bucket"]
        for r in ppl_buckets(scored, "surprisal", "lang", "doc_id").collect()
    }
    sca = {
        r["doc_id"]: r["ppl_bucket"]
        for r in ppl_buckets(
            scored, "surprisal", "lang", "doc_id", scalable=True
        ).collect()
    }
    assert win == sca and len(win) == 500


def test_sft_spans_hand_offsets(spark):
    """Hand-built conversation: the assembled text is
    'user: view\nassistant: purchase\nuser: click' — the single
    assistant span's offsets are exactly where 'assistant: purchase'
    sits in that string; totals match; a no-assistant user gets an
    empty span list."""
    import datetime as dt

    from team_126_spark.operators.textops import sft_spans

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "view"),
        (2, t0 + dt.timedelta(minutes=1), 7, "purchase"),
        (3, t0 + dt.timedelta(minutes=2), 7, "click"),
        (4, t0, 8, "error"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        r["user_id"]: r
        for r in sft_spans(df, "user_id", "ts", "event_type", "event_id").collect()
    }
    text = "user: view\nassistant: purchase\nuser: click"
    start = text.index("assistant: purchase")
    end = start + len("assistant: purchase")
    assert got[7]["n_turns"] == 3 and got[7]["n_assistant"] == 1
    assert got[7]["text_len"] == len(text)
    assert got[7]["spans_cat"] == f"{start}:{end}"
    assert text[start:end] == "assistant: purchase"
    assert got[8]["spans_cat"] == "" and got[8]["n_assistant"] == 0


def test_bpe_apply_rejects_unsafe_merge_symbols(spark):
    """ADVICE r10: caller-supplied merges inline into an F.expr fold —
    anything outside ^[a-z0-9]+$ must raise BEFORE interpolation, and a
    valid explicit list still round-trips."""
    import pytest as _pytest

    from team_126_spark.operators.textops import bpe_apply

    df = spark.createDataFrame([(1, "aa aa b")], ["doc_id", "text"])
    for bad in [("a'", "a"), ("a", "b)"), ("A", "a"), ("", "a")]:
        with _pytest.raises(ValueError, match="merge symbols"):
            bpe_apply(df, "text", "doc_id", merges=[bad])
    got = bpe_apply(df, "text", "doc_id", merges=[("a", "a")]).collect()
    assert got[0]["n_bpe_tokens"] == 3  # aa aa b -> 1+1+1


def test_tokenizer_fertility_hand_corpus(spark):
    """Two languages, one merge budget: with merges=[(a,a)] learned on
    the corpus, the 'aa'-heavy language encodes tighter — hand-computed
    fertility and compression on both groups."""
    from team_126_spark.operators.textops import tokenizer_fertility

    rows = [
        (1, "xx", "aa aa aa"),   # 3 words, 6 chars; merge (a,a) -> 3 tokens
        (2, "xx", "aa aa"),      # 2 words, 4 chars -> 2 tokens
        (3, "yy", "bc bc bc"),   # merge doesn't apply: 3 words -> 6 tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        r["lang"]: r
        for r in tokenizer_fertility(df, "text", "doc_id", "lang", n_merges=1).collect()
    }
    xx, yy = got["xx"], got["yy"]
    assert (xx["n_docs"], xx["n_words"], xx["n_bpe_tokens"]) == (2, 5, 5)
    assert xx["fertility_r"] == 1.0 and xx["compression_r"] == 2.0
    assert (yy["n_docs"], yy["n_words"], yy["n_bpe_tokens"]) == (1, 3, 6)
    assert yy["fertility_r"] == 2.0 and yy["compression_r"] == 1.0


def test_curriculum_order_shards_ramp_and_stratify(spark):
    """Hand corpus: within each source, shards ramp monotonically with
    token count (ntile semantics incl. the ceil-sized leading bucket),
    every source appears in every shard it has rows for, and the plan
    never partitions a window by the raw group alone (scalable-only)."""
    from team_126_spark.operators.textops import curriculum_order
    from tools.plan_capture import plan_text

    rows = [(i, f"s{i % 2}", "w " * (i + 1)) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = curriculum_order(df, "text", "doc_id", "source", n_shards=2)
    got = sorted((r["source"], r["n_tokens"], r["shard"]) for r in out.collect())
    # per source: 5 docs -> ntile(2) = sizes 3, 2 ordered by n_tokens
    for s in ("s0", "s1"):
        ts = [(t, sh) for (src, t, sh) in got if src == s]
        assert [sh for _, sh in ts] == [1, 1, 1, 2, 2]
        assert [t for t, _ in ts] == sorted(t for t, _ in ts)
    specs = [ln for ln in plan_text(out).splitlines() if "windowspecdefinition" in ln]
    assert specs and all("_p#" in ln for ln in specs)


def test_domain_mix_plan_hand_math(spark):
    """Two domains, 100 and 400 tokens, tau=0.5, budget_factor=1.0:
    weights 1/3 and 2/3 (sqrt temperature flattens 1:4 to 1:2), targets
    166/333, epochs 5/3 and 500/600 — the small domain repeats, the big
    one is subsampled; a zero-token domain gets NULL weight/epochs
    instead of an ANSI divide crash."""
    from team_126_spark.operators.textops import domain_mix_plan

    rows = (
        [(f"a{i}", "small", "w " * 10) for i in range(10)]
        + [(f"b{i}", "big", "w " * 40) for i in range(10)]
        + [("z", "empty", "")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        r["source"]: r
        for r in domain_mix_plan(df, "text", "source", budget_factor=1.0).collect()
    }
    assert got["small"]["avail_tokens"] == 100 and got["big"]["avail_tokens"] == 400
    assert got["small"]["weight_r"] == round(10 / 30, 6)
    assert got["big"]["weight_r"] == round(20 / 30, 6)
    assert got["small"]["target_tokens"] == int((10 / 30) * 500)
    assert abs(got["small"]["epochs_r"] - (10 / 30) * 500 / 100) < 1e-5
    assert abs(got["big"]["epochs_r"] - (20 / 30) * 500 / 400) < 1e-5
    assert got["empty"]["epochs_r"] is None and got["empty"]["avail_tokens"] == 0
