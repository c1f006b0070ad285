"""Property tests for the dedup family: the xxhash64-based paths (MinHash,
SimHash, LSH) can't be mirrored in DuckDB, so THIS is their correctness
gate (the driver only row-counts them)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from team_126_spark.operators import dedup as D


def test_exact_dedup_normalizes_ws_and_case(docs_df):
    got = {r["canonical_id"]: r["n_dups"] for r in D.exact_dedup(docs_df, "text", "doc_id").collect()}
    # 1, 2 and 6 collapse to one canonical doc; 3, 4, 5 remain
    assert got == {1: 3, 3: 1, 4: 1, 5: 1}


def test_ngram_jaccard_pairs_values(docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs_df, "text", "doc_id", k=3, threshold=0.2).collect()
    }
    # exact dups -> jaccard 1.0 in every combination of {1,2,6}
    assert got[(1, 2)] == 1.0 and got[(1, 6)] == 1.0 and got[(2, 6)] == 1.0
    # near-dup (one word differs): 9 tokens -> 7 shingles, 6 shared, union 8
    assert got[(1, 3)] == pytest.approx(6 / 8)
    # disjoint docs never appear
    assert not any(4 in p or 5 in p for p in got)


def test_minhash_signature_properties(docs_df):
    sigs = {r["doc"]: r["signature"] for r in D.minhash_signatures(docs_df, "text", "doc_id").collect()}
    assert len(sigs[1]) == D.N_MINHASH
    assert sigs[1] == sigs[2] == sigs[6]  # identical text -> identical signature
    # near-dup: most positions agree, but not all
    agree = sum(1 for x, y in zip(sigs[1], sigs[3]) if x == y)
    assert 0 < agree < D.N_MINHASH
    assert 5 not in sigs  # empty doc produces no signature


def test_minhash_lsh_finds_near_dups(docs_df):
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in D.minhash_lsh_pairs(docs_df, "text", "doc_id").collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.4 < got[(1, 3)] <= 1.0
    assert not any(4 in p for p in got)


def test_simhash_hamming_locality(docs_df):
    sh = {r["doc"]: r["simhash"] for r in D.simhash64(docs_df, "text", "doc_id").collect()}
    assert sh[1] == sh[2] == sh[6]

    def hamming(x, y):
        return bin((x ^ y) & (2**64 - 1)).count("1")

    assert hamming(sh[1], sh[3]) < hamming(sh[1], sh[4])


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    return spark.createDataFrame(rows, "id int, vec array<double>")


def test_embedding_neardup_exact(vecs):
    got = [(r["id_a"], r["id_b"]) for r in D.embedding_neardup_exact(vecs, "vec", "id", 0.95).collect()]
    assert got == [(1, 2)]


def test_embedding_neardup_lsh_subset_of_exact(vecs):
    exact = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_exact(vecs, "vec", "id", 0.95).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_lsh(vecs, "vec", "id", dim=4, threshold=0.95).collect()}
    assert lsh <= exact
    assert (1, 2) in lsh  # near-identical vectors share every sign bit


def test_embedding_neardup_lsh_recall_at_weak_threshold(spark):
    """Bounded weak-similarity measurement (threshold 0.4, 3 planes x 8
    tables) on the sf0.01 corpus: sign-LSH cannot prune down here, so this
    stays a pytest-only recall gate (>= 0.8 of exact pairs) rather than a
    declared query — the declared query operates in the 0.9 pruning regime
    (VERDICT r2 #2). Deterministic."""
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.01", "embeddings").cache()
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_neardup_exact(emb, "embedding", "vec_id", threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_neardup_lsh(
            emb, "embedding", "vec_id", dim=64, threshold=0.4, n_planes=3, n_tables=8
        ).collect()
    }
    emb.unpersist()
    assert lsh <= exact  # verify step is exact -> never a false positive
    assert len(lsh & exact) / len(exact) >= 0.8, (len(lsh), len(exact))


def test_embedding_neardup_lsh_exact_in_pruning_regime(spark):
    """The declared operating point (threshold 0.9, default 8x4 config) on
    the planted-clique corpus: OR-amplified recall on ≈0.998-cosine pairs is
    ~1-2e-4 miss per pair, and measured output EQUALS the exact all-pairs
    answer — the property the declared query's exact-SQL oracle relies on."""
    from team_126_spark.queries import _planted_neardup_corpus
    from team_126_spark.tables import table

    corpus = _planted_neardup_corpus(
        table(spark, "/root/testdata/sf0.001", "embeddings")
    ).cache()
    exact = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in D.embedding_neardup_exact(corpus, "embedding", "vec_id", 0.9).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in D.embedding_neardup_lsh(
            corpus, "embedding", "vec_id", dim=64, threshold=0.9
        ).collect()
    }
    corpus.unpersist()
    assert len(exact) == 48  # 16 bases x 3-clique
    assert lsh == exact


def test_embedding_neardup_lsh_ignores_null_and_zero_vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, None),
        (4, [0.0, 0.0, 0.0, 0.0]),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id int, vec array<double>")
    got = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_lsh(df, "vec", "id", dim=4, threshold=0.9).collect()}
    assert got == {(1, 2)}  # null/zero rows neither pair up nor crash


def test_decontaminate_flags_overlapping_eval_docs(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta"),        # both shingles in train
            (11, "totally novel held out words"),  # zero overlap
            (12, "three four five nine ten"),      # partial: 1 of 3 shingles
            (13, "ab"),                            # < k tokens -> no shingles
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in D.decontaminate(train, ev, "text", "doc_id", k=3, threshold=0.5).collect()
    }
    assert got[10]["n_shingles"] == 2 and got[10]["n_overlap"] == 2
    assert got[10]["overlap_ratio"] == 1.0 and got[10]["contaminated"]
    assert got[11]["n_overlap"] == 0 and not got[11]["contaminated"]
    assert got[12]["n_shingles"] == 3 and got[12]["n_overlap"] == 1
    assert not got[12]["contaminated"]
    assert got[13]["n_shingles"] == 0 and got[13]["overlap_ratio"] == 0.0
    assert not got[13]["contaminated"]
    # md5 family agrees with the default on overlap counts (family-agnostic op)
    md5 = {
        r["doc_id"]: r["n_overlap"]
        for r in D.decontaminate(train, ev, "text", "doc_id", k=3, hash_fn="md5").collect()
    }
    assert md5 == {d: got[d]["n_overlap"] for d in got}


def test_dedup_components_transitive_clusters(spark):
    """{1-2, 2-3} chains into one cluster labeled by the min id; isolated
    pair keeps its own; fixpoint is layout-independent."""
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (7, 9), (9, 8), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_id"] for r in D.dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7, 20: 20, 21: 20}
    again = {r["id"]: r["cluster_id"] for r in D.dedup_components(pairs.repartition(5)).collect()}
    assert again == got


def test_dedup_components_checkpoints_only_id_and_label(spark):
    """Each round's checkpoint stores (id, label) alone: the convergence
    counter reads `_old` before the projection, so the result's plan scans
    no `_old` column."""
    pairs = spark.createDataFrame([(2, 3), (1, 2), (7, 9)], "id_a long, id_b long")
    plan = D.dedup_components(pairs)._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "_old" not in plan


def test_dedup_components_long_chain_log_rounds(spark):
    """A 60-hop chain (diameter > the old one-hop max_iter=25) converges in
    O(log diameter) rounds thanks to pointer doubling, with correct labels —
    the pathological shape the plain loop silently mislabeled."""
    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    stats = {}
    got = {
        r["id"]: r["cluster_id"]
        for r in D.dedup_components(pairs, max_iter=12, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}
    # 2 one-hop rounds + ~log2(60) doubling rounds + slack — not 60
    assert stats["rounds"] <= 11, stats


def test_dedup_components_raises_when_unconverged(spark):
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="convergence not confirmed"):
        D.dedup_components(pairs, max_iter=2)


def test_dedup_components_validates_params(spark):
    import pytest as _pytest

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    # ADVICE r3: max_iter<=0 used to fall through to a misleading
    # "None labels still changing" error — now rejected up front
    with _pytest.raises(ValueError, match="max_iter"):
        D.dedup_components(pairs, max_iter=0)


def test_cluster_split_never_separates_near_dups(spark):
    """The leakage guarantee: both endpoints of every near-dup pair land in
    the SAME split (assignment is a pure function of the shared cluster)."""
    from team_126_spark.operators.textops import hash_split
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comps = D.dedup_components(pairs)
    split = hash_split(comps.select("id", "cluster_id"), "cluster_id").select(
        "id", "split"
    )
    a = split.withColumnRenamed("id", "id_a").withColumnRenamed("split", "split_a")
    b = split.withColumnRenamed("id", "id_b").withColumnRenamed("split", "split_b")
    joined = pairs.join(a, "id_a").join(b, "id_b")
    assert joined.filter(F.col("split_a") != F.col("split_b")).count() == 0


def test_dedup_family_leaves_no_cached_data(spark, docs_df):
    """Signatures and components edges are lazy localCheckpoints, not
    persists: after the dedup family runs, the session's cache manager is
    empty, so a repeat call cannot silently read an earlier call's data."""
    spark.catalog.clearCache()
    D.minhash_lsh_pairs(docs_df, "text", "doc_id").collect()
    D.dedup_components(
        D.minhash_lsh_pairs(docs_df, "text", "doc_id", threshold=0.2)
    ).collect()
    D.lsh_blocking_eval(docs_df, "text", "doc_id").collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_quadratic_baselines_guarded(spark):
    """The exact O(n^2) oracle paths refuse oversized inputs with a pointer
    to the LSH scale path (VERDICT r3 #3); max_rows=None opts out."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(5)],
        "doc_id long, text string",
    )
    with _pytest.raises(RuntimeError, match="minhash_lsh_pairs"):
        D.ngram_jaccard_pairs(docs, "text", "doc_id", max_rows=3)
    assert D.ngram_jaccard_pairs(docs, "text", "doc_id", max_rows=None).count() > 0

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0, float(i)]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(RuntimeError, match="embedding_neardup_lsh"):
        D.embedding_neardup_exact(emb, "embedding", "vec_id", max_rows=3)
    assert (
        D.embedding_neardup_exact(emb, "embedding", "vec_id", threshold=0.0).count() > 0
    )


def test_bloom_filter_membership_properties(spark):
    """No false negatives ever (every inserted key probes True); absent keys
    probe mostly False with the deterministic md5 FP rate; NULL keys probe
    False; bad sizing is rejected."""
    from team_126_spark.operators.bloom import bloom_build, bloom_probe

    train = spark.range(0, 300).selectExpr("CAST(id AS STRING) AS k")
    bloom = bloom_build(train, "k", m_bits=1 << 15, k=4)
    # the filter table is tiny and bounded: at most m_bits/32 rows
    assert bloom.count() <= (1 << 15) // 32

    # every inserted key is found
    hits = bloom_probe(train, bloom, "k", m_bits=1 << 15, k=4)
    assert hits.filter("NOT maybe_member").count() == 0

    # absent keys: deterministic false positives, few of them
    absent = spark.range(10_000, 11_000).selectExpr("CAST(id AS STRING) AS k")
    fp1 = bloom_probe(absent, bloom, "k", m_bits=1 << 15, k=4)
    n_fp = fp1.filter("maybe_member").count()
    assert n_fp <= 10, n_fp  # expected ~0 at 300 keys / 32k bits
    again = bloom_probe(absent, bloom, "k", m_bits=1 << 15, k=4)
    assert again.filter("maybe_member").count() == n_fp  # deterministic

    nulls = spark.createDataFrame([(None,), ("5",)], "k string")
    got = {r["k"]: r["maybe_member"] for r in bloom_probe(nulls, bloom, "k", 1 << 15, 4).collect()}
    assert got[None] is False and got["5"] is True

    import pytest as _pytest

    with _pytest.raises(ValueError, match="m_bits"):
        bloom_build(train, "k", m_bits=100)


def test_minhash_lsh_probe_matches_cross_boundary_pairs(spark):
    """The incremental probe over a pre-signed corpus finds EXACTLY the
    full-corpus LSH pairs that cross the new/corpus boundary — appending a
    batch via probe loses nothing vs re-running pairwise LSH from scratch."""
    from team_126_spark.tables import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    new = docs.filter("source = 'src0'")
    corpus = docs.filter("source <> 'src0'")
    corpus_sigs = D.minhash_signatures(corpus, "text", "doc_id", k=3).filter(
        "signature IS NOT NULL"
    )
    probe = {
        (r["new_id"], r["corpus_id"]): r["est_jaccard"]
        for r in D.minhash_lsh_probe(
            new, corpus_sigs, "text", "doc_id", k=3, threshold=0.3
        ).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    full = D.minhash_lsh_pairs(docs, "text", "doc_id", k=3, threshold=0.3).collect()
    crossing = {}
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if (a in new_ids) != (b in new_ids):
            n, c = (a, b) if a in new_ids else (b, a)
            crossing[(n, c)] = r["est_jaccard"]
    assert probe == crossing
    # an explicitly materialized band index gives the identical answer
    banded = D.banded_signatures(corpus_sigs)
    again = {
        (r["new_id"], r["corpus_id"]): r["est_jaccard"]
        for r in D.minhash_lsh_probe(
            new, corpus_sigs, "text", "doc_id", k=3, threshold=0.3, corpus_banded=banded
        ).collect()
    }
    assert again == probe


def test_minhash_lsh_probe_replay_safe(spark):
    """Checkpoint-replay semantics of the streaming ingest index: probing
    a corpus that (a) already contains the new batch's own docs (a batch
    replayed after its index write landed) and (b) carries duplicated sig
    rows (a legacy non-idempotent append) emits NO self-pairs and NO
    duplicate pair rows — the exact pair set of the clean corpus."""
    from team_126_spark.tables import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    new = docs.filter("source = 'src0'")
    corpus_sigs = D.minhash_signatures(docs, "text", "doc_id", k=3).filter(
        "signature IS NOT NULL"
    )
    # expected: probe against the self-containing index ONCE (replay
    # emits intra-batch pairs between DIFFERENT docs — only exact
    # self-matches are dropped)
    want = sorted(
        (r["new_id"], r["corpus_id"], r["est_jaccard"])
        for r in D.minhash_lsh_probe(
            new, corpus_sigs, "text", "doc_id", k=3, threshold=0.3
        ).collect()
    )
    # dirty index: every sig row twice (a legacy non-idempotent append)
    dirty = corpus_sigs.unionByName(corpus_sigs)
    got_rows = D.minhash_lsh_probe(
        new, dirty, "text", "doc_id", k=3, threshold=0.3
    ).collect()
    got = sorted((r["new_id"], r["corpus_id"], r["est_jaccard"]) for r in got_rows)
    assert len(got) == len(set((a, b) for a, b, _ in got))  # no dup pairs
    assert all(a != b for a, b, _ in got)  # no self-matches
    assert got == want  # probing the dirty index loses/invents nothing


def test_banded_signatures_rejects_non_divisor_bands(spark, docs_df):
    import pytest as _pytest

    sigs = D.minhash_signatures(docs_df, "text", "doc_id")
    with _pytest.raises(ValueError, match="divide"):
        D.banded_signatures(sigs, bands=12)
    with _pytest.raises(ValueError, match="divide"):
        D.minhash_lsh_pairs(docs_df, "text", "doc_id", bands=12)


def test_bloom_probe_rejects_mismatched_geometry(spark):
    import pytest as _pytest

    from team_126_spark.operators.bloom import bloom_build, bloom_probe

    train = spark.range(0, 50).selectExpr("CAST(id AS STRING) AS key")
    bloom = bloom_build(train, "key", m_bits=1 << 15, k=4)
    # embedded params make explicit args optional...
    hits = bloom_probe(train, bloom, "key")
    assert hits.filter("NOT maybe_member").count() == 0
    # ...and a mismatch raises instead of silently false-negating
    with _pytest.raises(ValueError, match="m_bits"):
        bloom_probe(train, bloom, "key", m_bits=1 << 20)
    with _pytest.raises(ValueError, match="k="):
        bloom_probe(train, bloom, "key", k=6)


def test_simhash_pairs_pigeonhole_complete(spark, docs_df):
    """Pigeonhole banding is EXACT for the Hamming metric (unlike MinHash's
    probabilistic bands): the banded join recovers every pair within
    max_hamming — verified against brute-force over all fingerprints —
    and no pair beyond the threshold leaks through the refine."""
    sh = {r["doc"]: r["simhash"] for r in D.simhash64(docs_df, "text", "doc_id").collect()}

    def hamming(x, y):
        return bin((x ^ y) & (2**64 - 1)).count("1")

    for d in (0, 3, 8):
        want = {
            (a, b): hamming(sh[a], sh[b])
            for a in sh for b in sh if a < b and hamming(sh[a], sh[b]) <= d
        }
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in D.simhash_pairs(docs_df, "text", "doc_id", max_hamming=d).collect()
        }
        assert got == want, d

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hamming"):
        D.simhash_pairs(docs_df, "text", "doc_id", max_hamming=64)


def test_segment_dedup_keeps_first_occurrence_and_rebuilds(spark):
    from team_126_spark.operators.textops import segment_dedup

    rows = [
        (1, "a b c d x y z w"),            # segs: "a b c d", "x y z w"
        (2, "a b c d p q r s"),            # "a b c d" dup of doc1 seg0
        (3, "p q r s a b c d"),            # both segs are dups
        (4, "u v"),                        # short doc, unique partial seg
        (5, ""),                           # zero tokens -> no output row
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in segment_dedup(df, "text", "doc_id", seg_tokens=4).collect()
    }
    # doc1 holds the first occurrence of "a b c d" -> untouched
    assert out[1]["text"] == "a b c d x y z w"
    assert out[1]["n_removed"] == 0
    # doc2 loses the duplicated head segment, keeps its unique tail
    assert out[2]["text"] == "p q r s"
    assert (out[2]["n_kept"], out[2]["n_removed"]) == (1, 1)
    # doc3: "p q r s" first occurred at doc2 pos 4; "a b c d" at doc1 -> all gone
    assert out[3]["text"] == ""
    assert (out[3]["n_kept"], out[3]["n_removed"]) == (0, 2)
    assert out[4]["text"] == "u v"
    assert 5 not in out


def test_segment_dedup_max_freq_tolerates_copies(spark):
    from team_126_spark.operators.textops import segment_dedup

    rows = [(i, "same four token run") for i in range(1, 4)]  # 3 copies, 4-token seg + "run"
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["text"]
        for r in segment_dedup(df, "text", "doc_id", seg_tokens=4, max_freq=3).collect()
    }
    assert all(t == "same four token run" for t in out.values())
    strict = {
        r["doc_id"]: r["text"]
        for r in segment_dedup(df, "text", "doc_id", seg_tokens=4, max_freq=1).collect()
    }
    # doc1 keeps everything; docs 2-3 lose BOTH segments ("same four token" and "run")
    assert strict[1] == "same four token run"
    assert strict[2] == "" and strict[3] == ""


def test_segment_dedup_validates_params(spark):
    import pytest

    from team_126_spark.operators.textops import segment_dedup

    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        segment_dedup(df, "text", "doc_id", seg_tokens=0)
    with pytest.raises(ValueError):
        segment_dedup(df, "text", "doc_id", max_freq=0)


def test_boilerplate_report_ranks_repeated_segments(spark):
    from team_126_spark.operators.textops import boilerplate_report

    rows = [
        (1, "x y z w a b c d"),
        (2, "x y z w p q r s"),
        (3, "x y z w a b c d"),
        (4, "unique words only here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = boilerplate_report(df, "text", "doc_id", seg_tokens=4, top=10).collect()
    assert [(r["segment"], r["sites"], r["docs"]) for r in out] == [
        ("x y z w", 3, 3),
        ("a b c d", 2, 2),
    ]


def test_segment_dedup_identity_on_unique_corpus(spark):
    """When no segment repeats, segment_dedup must be a lossless
    round-trip: output text == whitespace-normalized input, zero removals
    — including the short final segment."""
    from team_126_spark.functions.text import normalize_ws
    from team_126_spark.operators.textops import segment_dedup

    rows = [
        (1, "  alpha   beta gamma\tdelta epsilon  "),
        (2, "one two three four five six seven"),
        (3, "lone"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    expect = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", normalize_ws(F.col("text")).alias("n")).collect()
    }
    for seg in (2, 3, 16):
        out = segment_dedup(df, "text", "doc_id", seg_tokens=seg).collect()
        assert {r["doc_id"]: r["text"] for r in out} == expect
        assert all(r["n_removed"] == 0 for r in out)


def test_simhash_relational_matches_arrow_kernel(spark):
    """The r4 hash-aggregable simhash (64 conditional ±1 sums + codegen bit
    assembly) must be bit-identical to the retained Arrow reference kernel
    (functions/sketch.simhash_from_hashes) on both hash families."""
    from team_126_spark.functions.sketch import simhash_from_hashes
    from team_126_spark.functions.text import token_hash, tokens
    from team_126_spark.operators.dedup import simhash64

    rows = [(i, f"tok{i % 7} alpha beta {i} gamma tok{i % 3} " * (1 + i % 4)) for i in range(60)]
    rows.append((60, "single"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for fam in ("xxhash64", "md5"):
        ref = (
            df.select(
                F.col("doc_id").alias("doc"),
                F.explode(tokens(F.col("text"))).alias("t"),
            )
            .select("doc", token_hash(F.col("t"), fam).alias("h"))
            .groupBy("doc")
            .agg(simhash_from_hashes(F.collect_list("h")).alias("ref"))
        )
        got = simhash64(df, "text", "doc_id", hash_fn=fam)
        joined = got.join(ref, "doc")
        assert joined.count() == 61
        assert joined.filter(F.col("simhash") != F.col("ref")).count() == 0, fam


def test_segment_dedup_doc_scope_keeps_cross_doc_copies(spark):
    from team_126_spark.operators.textops import segment_dedup

    rows = [
        (1, "a b a b c d"),   # "a b" repeats WITHIN doc 1
        (2, "a b x y"),       # "a b" also in doc 2 - untouched by doc scope
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    doc = {r["doc_id"]: r for r in segment_dedup(df, "text", "doc_id", seg_tokens=2, scope="doc").collect()}
    assert doc[1]["text"] == "a b c d" and doc[1]["n_removed"] == 1
    assert doc[2]["text"] == "a b x y" and doc[2]["n_removed"] == 0
    # corpus scope would also strip doc 2's copy
    corp = {r["doc_id"]: r for r in segment_dedup(df, "text", "doc_id", seg_tokens=2).collect()}
    assert corp[2]["text"] == "x y"
    import pytest

    with pytest.raises(ValueError, match="scope"):
        segment_dedup(df, "text", "doc_id", scope="global")


def test_redact_spans_cuts_covered_tokens(spark):
    from team_126_spark.operators.dedup import contamination_spans, redact_spans

    train = spark.createDataFrame([(100, "secret eval answer key here")], ["doc_id", "text"])
    ev = spark.createDataFrame(
        [
            (1, "intro text secret eval answer key here outro text"),  # one 5-window hit x2 offsets
            (2, "totally clean document with fresh words"),
            (3, "secret eval answer key here"),                        # fully covered
            (4, ""),                                                   # zero tokens -> no row
        ],
        ["doc_id", "text"],
    )
    spans = contamination_spans(train, ev, "text", "doc_id", k=5)
    out = {r["doc_id"]: r for r in redact_spans(ev, spans, "text", "doc_id", k=5).collect()}
    # doc 1: windows starting at 2 and 3 ("secret...here" is 5 tokens at idx 2..6)
    assert out[1]["text"] == "intro text outro text"
    assert out[1]["n_redacted"] == 5
    assert out[2]["text"] == "totally clean document with fresh words"
    assert out[2]["n_redacted"] == 0
    assert out[3]["text"] == "" and out[3]["n_kept"] == 0 and out[3]["n_redacted"] == 5
    assert 4 not in out


def test_redact_spans_overlapping_spans_union(spark):
    from team_126_spark.operators.dedup import redact_spans

    ev = spark.createDataFrame([(1, "a b c d e f g h")], ["doc_id", "text"])
    spans = spark.createDataFrame([(1, 0), (1, 2)], ["doc_id", "pos"])  # cover 0-2 and 2-4
    out = redact_spans(ev, spans, "text", "doc_id", k=3).collect()[0]
    assert out["text"] == "f g h"
    assert out["n_redacted"] == 5 and out["n_kept"] == 3
    import pytest

    with pytest.raises(ValueError, match="k must be"):
        redact_spans(ev, spans, "text", "doc_id", k=0)


def test_exact_dedup_first_bounds_lsh_pairs(spark):
    """A clique of m exact copies emits m(m-1)/2 LSH candidate pairs — the
    quadratic-output hazard no banding dial can fix; exact_dedup FIRST
    collapses the clique (the composed-chain pipeline order)."""
    from team_126_spark.operators.dedup import exact_dedup, minhash_lsh_pairs

    m = 200
    clique = [(i, "the same exact duplicated document text appears here") for i in range(m)]
    unique = [(1000 + i, f"wholly distinct document number {i} with words {i * 7} and {i * 13}")
              for i in range(50)]
    docs = spark.createDataFrame(clique + unique, ["doc_id", "text"])

    raw = minhash_lsh_pairs(docs, "text", "doc_id", k=3, bands=16, threshold=0.9)
    assert raw.count() >= m * (m - 1) // 2  # the clique alone is quadratic

    groups = exact_dedup(docs, "text", "doc_id")
    survivors = docs.join(
        groups.select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi"
    )
    assert survivors.count() == 1 + 50
    after = minhash_lsh_pairs(survivors, "text", "doc_id", k=3, bands=16, threshold=0.9)
    assert after.count() == 0  # clique collapsed; uniques share no bands


def test_contrastive_pairs_semantics(spark):
    """Positives are the LSH pairs verbatim; negatives are deterministic
    under repartitioning and never equal the anchor."""
    from team_126_spark.operators.dedup import contrastive_pairs, minhash_lsh_pairs
    from team_126_spark.tables import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    out = contrastive_pairs(docs, "text", "doc_id", threshold=0.3).collect()
    assert out, "sf0.001 corpus has planted near-dups; triples expected"
    pos = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.3).collect()
    }
    assert {(r["anchor"], r["positive"]) for r in out} <= pos
    assert all(r["negative"] != r["anchor"] for r in out)
    again = contrastive_pairs(docs.repartition(7), "text", "doc_id", threshold=0.3).collect()
    key = lambda r: (r["anchor"], r["positive"], r["negative"])  # noqa: E731
    assert sorted(map(key, out)) == sorted(map(key, again))


def test_inverted_index_band_cap_and_numeric_order(spark):
    """min_df/max_df band prunes rare + stopword terms; postings cap
    truncates the stored list but df still counts every doc; doc_ids sort
    NUMERICALLY (2 before 10), not lexicographically."""
    from team_126_spark.operators.textops import inverted_index

    rows = [(i, "common alpha" if i < 12 else "common beta") for i in range(1, 15)]
    # "common" in all 14 docs (df ratio 1.0 > 0.8 -> stopword-pruned),
    # "alpha" in docs 1..11 (df 11), "beta" in 12..14 (df 3 < min_df 2? no:
    # min_df=2 keeps it; cap postings at 2).
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["term"]: r
        for r in inverted_index(
            df, "text", "doc_id", min_df=2, max_df_ratio=0.8, cap_postings=2
        ).collect()
    }
    assert "common" not in got  # above the max_df band
    assert got["beta"]["df"] == 3 and got["beta"]["postings_csv"] == "12,13"
    assert got["alpha"]["df"] == 11 and got["alpha"]["postings_csv"] == "1,2"

    with pytest.raises(ValueError, match="min_df"):
        inverted_index(df, "text", "doc_id", min_df=0)
    with pytest.raises(ValueError, match="max_df_ratio"):
        inverted_index(df, "text", "doc_id", max_df_ratio=0.0)
    with pytest.raises(ValueError, match="cap_postings"):
        inverted_index(df, "text", "doc_id", cap_postings=0)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("max_dist", [1, 2])
def test_fuzzy_pairs_exact_recall_vs_bruteforce(spark, max_dist):
    """Deletion-neighborhood blocking must find EVERY pair within the edit
    distance (SymSpell completeness) — compared against a brute-force DP
    over the full dictionary, including insert/delete/substitute cases and
    short strings whose whole neighborhood collapses."""
    from team_126_spark.operators.dedup import fuzzy_pairs

    names = [
        "red widget", "red widgets", "bed widget", "red wdget", "redwidget",
        "blue bolt", "blue belt", "glue belt", "bolt", "bolts", "bot", "b",
        "anvil", "anvils", "anviles", "gear", "gears", "shear",
    ]
    df = spark.createDataFrame([(n,) for n in names] * 2, "p string")  # dup rows
    got = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in fuzzy_pairs(df, "p", max_dist=max_dist).collect()
    }
    want = {
        (a, b): _lev(a, b)
        for a in names
        for b in names
        if a < b and _lev(a, b) <= max_dist
    }
    assert got == want

    with pytest.raises(ValueError, match="max_dist"):
        fuzzy_pairs(df, "p", max_dist=3)


def test_lsh_blocking_eval_recall_on_exact_dups(docs_df):
    """The exact-dup clique {1,2,6} shares every band, so blocking recall at
    a threshold only those pairs reach is exactly 1.0; the scalar columns
    agree with the corpus (5 signable docs -> 10 possible pairs)."""
    got = {
        r["threshold"]: r
        for r in D.lsh_blocking_eval(
            docs_df, "text", "doc_id", k=3, bands=16, thresholds=(0.2, 0.8)
        ).collect()
    }
    assert set(got) == {0.2, 0.8}
    hi = got[0.8]
    # truth at 0.8: the three exact-dup pairs (jaccard 1.0); (1,3)-family
    # near-dups sit at 0.75
    assert hi["n_truth"] == 3 and hi["n_hit"] == 3 and hi["recall"] == 1.0
    lo = got[0.2]
    assert lo["n_truth"] == 6 and lo["n_hit"] >= 3
    # n_cand is threshold-independent; doc 5 is empty -> 5 signable docs
    assert lo["n_cand"] == hi["n_cand"] >= 3
    assert lo["reduction_ratio"] == 1.0 - lo["n_cand"] / 10.0
    assert lo["precision"] == round(lo["n_hit"] / lo["n_cand"], 6)


def test_lsh_blocking_eval_empty_truth(spark):
    """No pair reaches min(thresholds) -> empty output (every row derives
    from a truth pair), not a crash."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "zeta eta theta iota")],
        ["doc_id", "text"],
    )
    assert D.lsh_blocking_eval(df, "text", "doc_id").count() == 0


def test_semdedup_planted_cliques(spark):
    """SemDeDup over the planted near-dup corpus: every base row is kept
    (base max cosine ≈0.51 < 0.9), every dropped row has a smaller-id
    same-cell neighbor at rounded cosine ≥ 0.9 (brute-force verified), the
    minimum id of a near-dup group is never dropped, and the result is
    rerun-stable."""
    import numpy as np

    from team_126_spark.operators.vector import semdedup
    from team_126_spark.queries import _planted_neardup_corpus
    from team_126_spark.tables import table

    corpus = _planted_neardup_corpus(
        table(spark, "/root/testdata/sf0.001", "embeddings")
    )
    kept = semdedup(corpus, "embedding", "vec_id", n_cells=16, threshold=0.9)
    rows = kept.collect()
    kept_ids = {r["vec_id"] for r in rows}
    cell_of = {r["vec_id"]: r["cell"] for r in rows}

    all_rows = corpus.collect()
    base_ids = {r["vec_id"] for r in all_rows if r["vec_id"] < 10_000_000}
    assert base_ids <= kept_ids  # no base row near-dups another base row
    dropped = {r["vec_id"] for r in all_rows} - kept_ids
    assert dropped and dropped <= {
        r["vec_id"] for r in all_rows if r["vec_id"] >= 10_000_000
    }

    # brute-force justification for each drop: the assignment is needed for
    # dropped rows too, so recompute cells for the full corpus
    from team_126_spark.operators.vector import ivf_centroids, with_ivf_cell

    cents = ivf_centroids(corpus, "embedding", "vec_id", 16)
    full = {
        r["vec_id"]: (r["ivf_cell"], np.array(r["embedding"], dtype=np.float64))
        for r in with_ivf_cell(corpus, "embedding", cents).collect()
    }
    for d in dropped:
        cell_d, v_d = full[d]
        justified = False
        for other, (cell_o, v_o) in full.items():
            if other < d and cell_o == cell_d:
                cos = float(
                    v_o @ v_d / (np.linalg.norm(v_o) * np.linalg.norm(v_d))
                )
                if round(cos, 6) >= 0.9:
                    justified = True
                    break
        assert justified, f"dropped {d} has no smaller same-cell neighbor"
    # kept rows carry their assignment cell
    for vid, cell in cell_of.items():
        assert cell == full[vid][0]

    again = {r["vec_id"] for r in semdedup(
        corpus, "embedding", "vec_id", n_cells=16, threshold=0.9
    ).collect()}
    assert again == kept_ids


def test_semdedup_threshold_bounds(spark):
    """threshold > 1 keeps everything (cosine ≤ 1); threshold -1 keeps
    exactly one row per cell (everything pairs with everything)."""
    from team_126_spark.operators.vector import semdedup
    from team_126_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.filter("embedding IS NOT NULL").count()
    lax = semdedup(emb, "embedding", "vec_id", n_cells=8, threshold=1.5)
    assert lax.count() == n
    strict = semdedup(emb, "embedding", "vec_id", n_cells=8, threshold=-1.0)
    got = strict.collect()
    cells = {r["cell"] for r in got}
    assert len(got) == len(cells)  # one survivor per non-empty cell


def _winnow_reference(tokens_list, k, w):
    """Brute-force Schleimer et al. winnowing: k-gram md5_low60 hashes,
    every window of w hashes selects its minimum (rightmost tie)."""
    import hashlib

    grams = [
        " ".join(tokens_list[i : i + k]) for i in range(len(tokens_list) - k + 1)
    ]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[17:32], 16) for g in grams
    ]
    out = set()
    for j in range(0, len(hs) - w + 1):
        win = hs[j : j + w]
        m = min(win)
        rightmost = max(i for i, h in enumerate(win) if h == m)
        out.add((j + rightmost + 1, m))  # 1-based gram pos
    return out


def test_winnow_fingerprints_matches_reference(spark):
    """The distributed winnowing equals the paper's sequential algorithm
    exactly on real corpus docs (positions AND hashes), and the guarantee
    holds: two docs sharing a token run of length >= w+k-1 share a
    selected fingerprint."""
    from team_126_spark.functions.text import normalize_ws
    from team_126_spark.operators.dedup import winnow_fingerprints

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter("doc_id < 40 AND text IS NOT NULL")
        .select("doc_id", "text")
    )
    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in winnow_fingerprints(docs, "text", "doc_id", k=3, w=4).collect()
    }
    want = set()
    for r in docs.select("doc_id", normalize_ws(F.col("text")).alias("t")).collect():
        toks = (r["t"] or "").split()
        for pos, h in _winnow_reference(toks, 3, 4):
            want.add((r["doc_id"], pos, h))
    assert got == want and len(got) > 0

    # guarantee: a planted shared run of w+k-1 = 6 tokens is always caught
    shared = "q1 q2 q3 q4 q5 q6"
    pair = spark.createDataFrame(
        [(1, "aa bb " + shared + " cc"), (2, shared + " zz yy xx ww")],
        ["doc_id", "text"],
    )
    fps = winnow_fingerprints(pair, "text", "doc_id", k=3, w=4).collect()
    h1 = {r["fp"] for r in fps if r["doc_id"] == 1}
    h2 = {r["fp"] for r in fps if r["doc_id"] == 2}
    assert h1 & h2, "shared 6-token run produced no shared fingerprint"

    # short docs (< w+k-1 tokens) emit nothing rather than crashing
    tiny = spark.createDataFrame([(9, "a b c d"), (10, None)], ["doc_id", "text"])
    assert winnow_fingerprints(tiny, "text", "doc_id", k=3, w=4).count() == 0


def test_duplicated_spans_recovers_full_run(spark):
    """ExactSubstr guarantee at minimum match length k: a shared token
    run of length L >= k between two docs is recovered as ONE maximal
    span covering exactly that run in each doc; unique content flags
    nothing; two shared runs separated by more than k unique tokens stay
    separate spans; and a run shared only WITHIN one doc (repetition,
    not cross-doc duplication) does not flag at min_docs=2."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.dedup import duplicated_spans

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks
    run2 = "pack my box with five dozen jugs"  # 7 toks
    rows = [
        # doc 1: unique prefix (3) + shared run at positions 4..13
        (1, "alpha beta gamma " + shared),
        # doc 2: shared run at 1..10 + unique + run2 at 17..23
        (2, shared + " uniq1 uniq2 uniq3 uniq4 uniq5 uniq6 " + run2),
        # doc 3: run2 at 1..7
        (3, run2),
        # doc 4: fully unique
        (4, "zephyr quartz vixen jackdaws my sphinx of black onyx"),
        # doc 5: internal repetition only (same 5-gram twice, one doc)
        (5, "r1 r2 r3 r4 r5 x y z r1 r2 r3 r4 r5"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["n_dup_grams"]
        for r in duplicated_spans(df, "text", "doc_id", k=5, min_docs=2).collect()
    }
    # doc1: span 4..13 (10 tokens, 6 flagged grams)
    # doc2: spans 1..10 and 17..23; doc3: 1..7 (3 grams)
    assert got == {
        (1, 4, 13): 6,
        (2, 1, 10): 6,
        (2, 17, 23): 3,
        (3, 1, 7): 3,
    }


def test_edit_distance_pairs_blocking_and_uniqueness(spark):
    """Hand-built corpus: a one-word-substitution near-dup pair is found
    (dist = edit distance of the substituted word), a pair straddling a
    length-bucket boundary is still found via the adjacent-bucket probe,
    a far pair is absent, every pair is emitted exactly ONCE, and
    cross-language pairs never form."""
    from team_126_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "en", "the quick brown fox jumps over the lazy dog today"),
        (2, "en", "the quick brown fox jumps over the lazy cat today"),  # ~3 edits
        # 14 tokens vs 11 -> bucket 2 vs 2? craft: 9 tokens vs 11 tokens
        (3, "en", "alpha beta gamma delta epsilon zeta eta theta iota"),
        (4, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa xx"),
        (5, "en", "completely different text with nothing in common at all"),
        (6, "fr", "the quick brown fox jumps over the lazy dog today"),  # wrong lang
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in edit_distance_pairs(
            df, "text", "doc_id", lang_col="lang", max_dist=10, len_bucket=5
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 3  # dog -> cat
    # docs 3 (9 tokens, bucket 1) and 4 (11 tokens, bucket 2): adjacent
    # buckets, 9 appended chars -> dist 9 <= 10
    assert (3, 4) in got and got[(3, 4)] == 9
    assert not any(5 in p for p in got)
    assert not any(6 in p for p in got)  # language block
    assert len(got) == len(set(got))  # emitted once each


def test_dedup_consolidate_merges_provenance(spark):
    """Hand-built corpus with one exact-dup cluster across two sources:
    the kept row is the lowest id, n_copies counts the cluster, and the
    provenance concat is the sorted distinct union; whitespace/case
    variants of the same content consolidate (fingerprint = normalized
    md5); singletons pass through."""
    from team_126_spark.operators.dedup import dedup_consolidate

    rows = [
        (3, "srcB", "en", "Hello   WORLD"),
        (1, "srcA", "en", "hello world"),
        (2, "srcA", "fr", "hello world"),
        (9, "srcC", "en", "something else"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "lang", "text"])
    got = {
        r["keep_id"]: (r["n_copies"], r["source_cat"], r["lang_cat"])
        for r in dedup_consolidate(df, "text", "doc_id", ("source", "lang")).collect()
    }
    assert got == {
        1: (3, "srcA|srcB", "en|fr"),
        9: (1, "srcC", "en"),
    }


def test_edit_distance_pairs_two_bucket_gap_found_and_guard(spark):
    """ADVICE r10: the ±1 probe missed pairs whose token counts differ by
    more than len_bucket. With len_bucket=2, max_dist=3: 'ab cd ef'
    (3 tokens, bucket 1) vs 'a b c d e f' (6 tokens, bucket 3) are 3
    space-inserts apart — two buckets apart, found only by the widened
    ±ceil(max_dist/len_bucket)=±2 probe. VERDICT r10 #3: the per-block
    density guard refuses a planted dense block BEFORE any pair forms,
    and max_block_rows=None opts out."""
    import pytest as _pytest

    from team_126_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "en", "ab cd ef"), (2, "en", "a b c d e f")],
        ["doc_id", "lang", "text"],
    )
    got = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in edit_distance_pairs(
            df, "text", "doc_id", lang_col="lang", max_dist=3, len_bucket=2
        ).collect()
    }
    assert got == {(1, 2): 3}

    dense = spark.createDataFrame(
        [(i, "en", f"xx yy zz w{i % 7}") for i in range(30)],
        ["doc_id", "lang", "text"],
    )
    with _pytest.raises(RuntimeError, match="max_block_rows"):
        edit_distance_pairs(
            dense, "text", "doc_id", lang_col="lang", max_block_rows=10
        )
    ok = edit_distance_pairs(
        dense, "text", "doc_id", lang_col="lang", max_block_rows=None
    )
    assert ok.count() > 0  # opt-out runs the dense block


def test_soft_dedup_weights_cluster_sizes(spark):
    """Hand-built corpus: a 3-copy cluster (case/whitespace variants of
    one content) gets weight 1/3 on every member, singletons get 1.0,
    and alpha=0.5 gives n^(-1/2)."""
    from team_126_spark.operators.dedup import soft_dedup_weights

    rows = [
        (1, "hello world"),
        (2, "Hello   WORLD"),
        (3, "hello world"),
        (4, "something else"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in soft_dedup_weights(df, "text", "doc_id").collect()}
    assert {d: got[d]["n_copies"] for d in got} == {1: 3, 2: 3, 3: 3, 4: 1}
    assert got[1]["weight_r"] == round(1 / 3, 6) and got[4]["weight_r"] == 1.0
    half = {
        r["doc_id"]: r["weight_r"]
        for r in soft_dedup_weights(df, "text", "doc_id", alpha=0.5).collect()
    }
    assert half[1] == round(3 ** -0.5, 6) and half[4] == 1.0
    # the reweighted corpus sums clusters to ~cluster_count at alpha=1
    # (up to the per-row 6dp round: 3 * 0.333333 + 1)
    assert abs(sum(r["weight_r"] for r in got.values()) - 2.0) < 1e-5
