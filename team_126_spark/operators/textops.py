"""Text-analysis operators over a documents table (north-star surface +
reference parity for searchable-text / regex extraction).

All pure column expressions — the whole pipeline stays inside whole-stage
codegen; nothing here shuffles except the explicit groupBys.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    char_count,
    fingerprint,
    normalize_ws,
    punct_ratio,
    stopword_hits,
    token_count,
    tokens,
)
from ..metrics import materialize


def text_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc quality metrics: chars, tokens, avg token length, punct ratio,
    uppercase ratio, digit ratio — the standard pre-training quality signals."""
    t = F.col(text_col)
    n_chars = char_count(t)
    n_tokens = token_count(t)
    digits = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(
            F.when(n_tokens == 0, F.lit(0.0)).otherwise(
                F.length(normalize_ws(t)).cast("double") / n_tokens
            ),
            6,
        ).alias("avg_token_len"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(digits.cast("double") / F.greatest(n_chars, F.lit(1)), 6).alias("digit_ratio"),
    )


def quality_expr(t, toks=None) -> "F.Column":
    """The quality formula in ONE place (quality_score, curate_corpus, and
    their oracles must agree): length sweet-spot × low punctuation, rounded.

    Pass `toks` (a pre-materialized token array column) to reuse an
    existing tokenization — size(toks) == token_count(t) by definition, so
    the arithmetic is identical either way (the tokenize-once path for
    pipelines that already carry the array)."""
    n_tokens = F.size(toks).cast("bigint") if toks is not None else token_count(t)
    len_score = F.least(n_tokens.cast("double") / 50.0, F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(t) * 5.0)
    return F.round(len_score * punct_penalty, 6)


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Scalar quality score in [0,1]: length sweet-spot × low punctuation.
    Deterministic arithmetic only → oracle-checkable."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        quality_expr(t).alias("quality"),
    )


def lang_hit_expr(toks_col: "F.Column", lang: str) -> "F.Column":
    """Stopword-hit count for `lang` over an already-materialized token
    array (shared by language_id and curate_corpus)."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks_col, lambda t: F.array_contains(words, t))).cast("bigint")


def lang_guess_expr(hits: dict) -> "F.Column":
    """Greatest-hits argmax with deterministic tie order en>es>fr>de; 'und'
    when no evidence. `hits` maps lang -> its hit-count Column."""
    best = F.greatest(*hits.values())
    guess = F.lit("und")
    for lang in reversed(list(STOPWORDS)):  # reversed → earlier langs win ties
        guess = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(guess)
    return guess


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-evidence language ID over {en,es,fr,de}; 'und' when no
    evidence. Greatest-hits argmax with deterministic tie order en>es>fr>de.

    Tokenization (regex normalize + split — the expensive part at 100 TB)
    runs ONCE per row: the token array and then the four hit counts are
    materialized in separate projections, and CollapseProject keeps them
    separate rather than re-inlining the expensive subtree into every
    consumer (SPARK-36718). The round-1 formulation inlined stopword_hits
    over the raw text 8×; this one measured ~3× faster at sf0.1."""
    toks_df = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    hits_df = toks_df.select(
        F.col(id_col),
        *[lang_hit_expr(F.col("_toks"), lang).alias(f"hits_{lang}") for lang in STOPWORDS],
    )
    hits = {lang: F.col(f"hits_{lang}") for lang in STOPWORDS}
    return hits_df.select(
        F.col(id_col),
        *[hits[lang] for lang in STOPWORDS],
        lang_guess_expr(hits).alias("lang_guess"),
    )


def doc_fingerprints(
    df: DataFrame, text_col: str, id_col: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """md5 content fingerprint + 32-bit rolling (polynomial) hash of tokens.

    The rolling hash is a left fold  h = (h*31 + hash32(token)) mod 2^32 —
    order-sensitive (unlike the md5 of normalized text) so it distinguishes
    permuted documents with equal token sets. hash32 is the low 32 bits of
    the token_hash family: pmod(xxhash64, 2^32) by default, or low-32-bit
    md5 with hash_fn='md5' — the oracle-checkable family DuckDB reproduces."""
    from ..functions.text import token_hash

    def hash32(tok):
        return F.pmod(token_hash(tok, hash_fn), F.lit(2**32))

    rolling = F.aggregate(
        tokens(F.col(text_col)),
        F.lit(0).cast("long"),
        lambda acc, tok: (acc * 31 + hash32(tok)) % F.lit(2**32),
    )
    return df.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("fingerprint"),
        rolling.alias("rolling_hash"),
    )


def repetition_ratio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Repetition quality signal: fraction of tokens that are repeats of an
    earlier token (1 - distinct/total), and the most-frequent-token share —
    the standard boilerplate/spam filters in pre-training pipelines (high
    values flag keyword-stuffed or template pages).

    Pure column expressions over one tokenization — no shuffle, no UDF."""
    toks_df = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n = F.size(F.col("_toks"))
    n_distinct = F.size(F.array_distinct(F.col("_toks")))
    # max token frequency = longest equal-run in the SORTED array: one
    # O(n log n) sort + one linear fold per row (the per-distinct-token
    # scan would be O(n²) on pathological docs — exactly the ones this
    # signal exists to catch).
    max_freq = F.aggregate(
        F.array_sort(F.col("_toks")),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(acc["prev"] == t, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"] == t, acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_share = F.when(n == 0, F.lit(0.0)).otherwise(max_freq.cast("double") / n)
    return toks_df.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        F.round(
            F.when(n == 0, F.lit(0.0)).otherwise(1.0 - n_distinct.cast("double") / n), 6
        ).alias("repetition_ratio"),
        F.round(top_share, 6).alias("top_token_share"),
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment: md5 of the id maps each row
    to a bucket in [0,100); `weights` name→percent intervals partition the
    range ({'train': 90, 'val': 5, 'test': 5} default).

    The split is a PURE FUNCTION of the id — stable under reruns, joins,
    repartitioning, and incremental appends (new rows never move old rows
    between splits), which is the property that matters when the corpus is
    100 TB and the split must be reproducible across pipeline versions.
    No shuffle: one hash + one CASE per row."""
    weights = weights or {"train": 90, "val": 5, "test": 5}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100, got {weights}")
    from ..functions.text import md5_low60

    bucket = F.pmod(md5_low60(F.col(id_col).cast("string")), F.lit(100))
    expr = F.lit(None).cast("string")
    hi = 100
    for name, pct in reversed(list(weights.items())):
        lo = hi - pct
        expr = F.when((bucket >= lo) & (bucket < hi), F.lit(name)).otherwise(expr)
        hi = lo
    return df.withColumn("split", expr)


def ngram_novelty(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    train_pct: int = 90,
) -> DataFrame:
    """Held-out n-gram novelty: split the corpus train/heldout with the same
    md5-bucket rule as `hash_split` (pure function of the id), then score
    each held-out doc by the fraction of its distinct k-word shingles that
    appear in NO train doc — the standard memorization / split-leakage audit
    run before trusting a validation loss (a heldout doc with novelty ~0 is
    effectively IN the train set).

    Scale shape: the train gram set is a map-side-distinct on a slim 60-bit
    gram hash (8 B/key instead of the ~20 B shingle string); scoring is one
    left equi-join gram→train-set followed by a per-doc partial agg. No
    quadratic anywhere — cost ∝ total shingle count, exactly like the
    MinHash signing pass. Hash collisions (≈n²/2^61) can only mark a novel
    gram as seen, identically in the DuckDB twin (same md5 family both
    sides). Held-out docs with < k tokens emit no grams and are absent from
    the output (mirrored by the oracle's unnest).

    Output: (id_col, n_grams, n_seen, novelty_frac), one row per held-out
    doc with >= 1 shingle.
    """
    if not 0 < train_pct < 100:
        raise ValueError(f"train_pct must be in (0, 100), got {train_pct}")
    from ..functions.text import md5_low60, word_shingles
    from ..tables import spread

    bucket = F.pmod(md5_low60(F.col(id_col).cast("string")), F.lit(100))
    grams = (
        spread(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            (bucket < train_pct).alias("is_train"),
            F.explode(word_shingles(F.col(text_col), k)).alias("gram"),
        )
        .select("doc", "is_train", md5_low60(F.col("gram")).alias("gh"))
    )
    train_grams = grams.filter(F.col("is_train")).select("gh").distinct()
    held = grams.filter(~F.col("is_train")).drop("is_train")
    seen = held.join(train_grams.withColumn("_seen", F.lit(1)), "gh", "left")
    return (
        seen.groupBy("doc")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("_seen"), F.lit(0))).cast("bigint").alias("n_seen"),
        )
        .withColumn(
            "novelty_frac",
            F.round(F.lit(1.0) - F.col("n_seen") / F.col("n_grams"), 6),
        )
        .select(F.col("doc").alias(id_col), "n_grams", "n_seen", "novelty_frac")
    )


def token_divergence(
    df: DataFrame,
    text_col: str,
    source_col: str,
    baseline_df: DataFrame | None = None,
) -> DataFrame:
    """Per-source Jensen-Shannon divergence (base-2, in [0,1]) between the
    source's unigram distribution and a reference unigram distribution —
    the whole-corpus distribution of `df` itself by default, or an external
    `baseline_df` (the streaming drift-monitor shape: each incoming batch
    scored against a static baseline corpus).

    Scale shape: one tokenize+groupBy builds (source, token) counts; the
    reference token counts either ROLL UP from that table (self-baseline,
    no second scan) or come from one pass over `baseline_df`; the JS sum
    runs entirely on the (source, token) SUPPORT — reference tokens absent
    from a source contribute the closed form 0.5·(1 − Σ_present q(t))
    (their m = q/2, so q·log2(q/m) = q), and source tokens absent from the
    reference contribute 0.5·p symmetrically — eliminating the
    |sources|×|vocab| expansion a naive KL join needs. One single-row
    reference-total broadcast (pinned in the cartesian allowlist);
    everything else is partial-agg groupBys + equi-joins on the token key.
    Hot stopword tokens are the skew risk; AQE skew splitting applies, and
    the per-(source,token) pre-aggregation bounds any one key's rows by
    n_sources. Fully disjoint vocabularies score exactly 1.0.

    Output: (source, n_tokens, vocab, js_divergence), js rounded 6dp.
    """
    from ..functions.text import tokens as _tokens

    toks = df.select(
        F.col(source_col).alias("source"),
        F.explode(_tokens(F.col(text_col))).alias("tok"),
    )
    st = toks.groupBy("source", "tok").agg(F.count("*").cast("bigint").alias("c_st"))
    s_tot = st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("n_s"))
    if baseline_df is None:
        ref = st
    else:
        ref = (
            baseline_df.select(F.explode(_tokens(F.col(text_col))).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").cast("bigint").alias("c_st"))
        )
    t_tot = ref.groupBy("tok").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    total = ref.agg(F.sum("c_st").cast("bigint").alias("n"))
    j = (
        st.join(t_tot, "tok", "left")
        .join(s_tot, "source")
        .crossJoin(F.broadcast(total))
    )
    p = F.col("c_st") / F.col("n_s")
    q = F.col("c_t") / F.col("n")
    m = (p + q) / F.lit(2.0)
    in_ref = F.col("c_t").isNotNull()
    # p-side: tokens missing from the reference have m = p/2 -> p*log2(2) = p
    p_term = F.when(in_ref, p * F.log2(p / m)).otherwise(p)
    q_term = F.when(in_ref, q * F.log2(q / m)).otherwise(F.lit(0.0))
    return (
        j.groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.count("*").cast("bigint").alias("vocab"),
            F.round(
                F.lit(0.5) * F.sum(p_term)
                + F.lit(0.5) * F.sum(q_term)
                + F.lit(0.5) * (F.lit(1.0) - F.sum(F.coalesce(q, F.lit(0.0)))),
                6,
            ).alias("js_divergence"),
        )
        .select("source", "n_tokens", "vocab", "js_divergence")
    )


def chunk_documents(
    df: DataFrame, text_col: str, id_col: str, chunk_size: int = 32, stride: int = 24
) -> DataFrame:
    """Sliding-window token chunking: overlapping windows of `chunk_size`
    tokens every `stride` tokens — the standard context-window preparation
    step for training/RAG corpora. Docs with zero tokens emit no chunks;
    the final chunk may be shorter than `chunk_size`.

    Generator op (§2.9 family): one tokenization, one explode over the
    start offsets — row expansion is ~n_tokens/stride per doc, no shuffle,
    no UDF. Output rows carry (doc, chunk_id, n_tokens, chunk_text)."""
    if stride <= 0 or chunk_size <= 0:
        raise ValueError(f"chunk_size and stride must be positive, got {chunk_size}, {stride}")
    toks_df = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n = F.size(F.col("_toks"))
    exploded = toks_df.filter(n > 0).select(
        F.col(id_col),
        F.col("_toks"),
        F.explode(F.sequence(F.lit(0), n - 1, F.lit(stride))).alias("_start"),
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_size)
    return exploded.select(
        F.col(id_col),
        (F.col("_start") / stride).cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def build_vocab(
    df: DataFrame, text_col: str, id_col: str, min_df: int = 2, top_k: int = 1000
) -> DataFrame:
    """Vocabulary construction (tokenizer-training prep): per token, document
    frequency and total occurrences; tokens seen in >= `min_df` docs ranked
    by occurrences (ties broken by token text) and cut to `top_k`.

    Plan shape: explode tokens → ONE groupBy(token) computing both counts
    (count_distinct gets its own expand, both partially aggregated map-side;
    shuffle carries per-token partial state, uniform token-hash keys) →
    min_df filter → global top-k via TakeOrderedAndProject. The final rank
    window runs on <= top_k rows — bounded, documented single task."""
    from ..tables import spread

    tok = spread(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("token")
    )
    agg = tok.groupBy("token").agg(
        F.count_distinct("doc").cast("bigint").alias("doc_freq"),
        F.count("*").cast("bigint").alias("n_occurrences"),
    )
    top = (
        agg.filter(F.col("doc_freq") >= min_df)
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return top.withColumn("vocab_rank", F.row_number().over(w).cast("bigint"))


def doc_rarity(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Unigram-LM quality proxy: mean negative log document-frequency of a
    doc's DISTINCT tokens — the cheap perplexity stand-in pipelines use to
    rank docs by how unusual their vocabulary is (high rarity = rare words;
    empty docs score 0.0).

    Two aggregate passes over one exploded scan: token→DF table, corpus
    size as a broadcast scalar (the doc_tfidf pattern — no driver collect),
    join DF back onto the doc's tokens (Catalyst broadcasts the DF table
    when small; at 100 TB it shuffles as an equi-join on the uniform
    token key), then one partial-aggregated avg per doc."""
    from ..tables import spread

    tok = spread(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token"),
    )
    dfreq = tok.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    n_docs = df.agg(F.count("*").cast("double").alias("n_docs"))
    per_doc = (
        tok.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc")
        .agg(F.round(F.avg(-F.log(F.col("df") / F.col("n_docs"))), 6).alias("rarity"))
    )
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("rarity"), F.lit(0.0)).alias("rarity"),
        )
    )


def ngram_counts(
    df: DataFrame, text_col: str, id_col: str, n: int = 2, min_count: int = 2, top_k: int = 1000
) -> DataFrame:
    """Corpus n-gram frequency table: occurrences and document frequency per
    word n-gram — the language-model-side analysis feeding contamination
    screens and boilerplate lexicons (build_vocab's n-gram generalization;
    counts DISTINCT n-grams per doc since word_shingles dedupes per row).

    Same plan as build_vocab: explode → one groupBy(ngram) with map-side
    partials → min_count filter → TakeOrderedAndProject top-k."""
    from ..functions.text import word_shingles
    from ..tables import spread

    grams = spread(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), n)).alias("ngram"),
    )
    # word_shingles dedupes per doc, so a plain count IS the doc frequency
    agg = grams.groupBy("ngram").agg(F.count("*").cast("bigint").alias("doc_freq"))
    return (
        agg.filter(F.col("doc_freq") >= min_count)
        .orderBy(F.desc("doc_freq"), F.asc("ngram"))
        .limit(top_k)
    )


def bpe_pair_counts(df: DataFrame, text_col: str, top_n: int = 50) -> DataFrame:
    """One BPE merge round: the frequency of every adjacent character pair
    across the corpus, weighted by word occurrence — the inner loop of
    byte-pair-encoding tokenizer training (Sennrich et al. 2016), whose
    highest-count pair becomes the next merge rule.

    Scale shape — the trick that makes tokenizer training corpus-size-
    independent per round: the corpus FIRST collapses to its word-frequency
    vocabulary (one token explode + one groupBy — the only pass that
    touches the 100 TB), then pair extraction and counting run over the
    VOCAB (≪ corpus, ~zipf-bounded); iterating rounds re-symbolizes the
    vocab table only, never re-reading the corpus. The 2-char substring
    inside the transform lambda is interpreted, but over vocab rows that
    cost is noise. Output: (pair, n_occurrences), count-desc, ties to the
    lexicographically first pair.
    """
    from ..functions.text import tokens

    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    word = F.col("w")
    pairs = F.when(
        F.length(word) < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(word) - 1),
            lambda i: F.substring(word, i, 2),
        )
    )
    return (
        vocab.select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(top_n)
    )


def ngram_diversity(
    df: DataFrame, text_col: str, source_col: str, max_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-source n-gram diversity report: for n = 1..max_n, total n-gram
    occurrences, distinct n-grams, and their ratio (the type-token ratio
    generalized to n-grams) — the one-page memorization/templating signal a
    corpus audit prints: a source whose trigram diversity collapses is
    boilerplate or near-duplicate spam even when exact dedup passes.

    One scan per n (column-pruned to text+source); the distinct count runs
    over the n-gram's 64-bit HASH, not the string — the first cut shuffled
    every distinct gram string through the count_distinct expansion and
    measured super-linear on an idle box (exponent 1.27, 4.4 s → 25.8 s at
    100k→400k docs); hashing cuts the distinct-shuffle row width from ~40 B
    strings to 8 B ints (14.2 s at 400k, measured under box load 16-21, so
    treat as an upper bound — interleaved A/B under that load put hashed
    ≤ string on every run). Hash collisions undercount distincts by
    < n²/2⁶⁵ (zero at any real corpus size), and because both engines hash
    IDENTICALLY (md5_low60 family), the declared query's DuckDB twin
    matches exactly even if one occurred.
    n-grams built with the zip-shifted-slice windows (token_windows), never
    per-element slicing. Output: (source, n, total_ngrams, distinct_ngrams,
    diversity) with diversity rounded to 6 places for the cross-engine cut.
    """
    from ..functions.text import token_hash, token_windows, tokens

    toks = tokens(F.col(text_col))
    parts = [
        df.select(
            F.col(source_col).alias("source"),
            F.lit(n).alias("n"),
            F.explode(token_windows(toks, n)).alias("gram"),
        ).select("source", "n", token_hash(F.col("gram"), hash_fn).alias("gh"))
        for n in range(1, max_n + 1)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("source", "n")
        .agg(
            F.count("*").cast("bigint").alias("total_ngrams"),
            F.count_distinct("gh").cast("bigint").alias("distinct_ngrams"),
        )
        .withColumn(
            "diversity",
            F.round(F.col("distinct_ngrams") / F.col("total_ngrams"), 6),
        )
    )


def pack_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    budget: int = 64,
    n_shards: int = 8,
    cost: Column | None = None,
) -> DataFrame:
    """Greedy next-fit sequence packing: within deterministic md5 shards,
    stream docs in id order and append each to the current bin unless its
    tokens would push the bin past `budget` — then open a new bin. A doc
    longer than `budget` gets a bin of its own. The packing every training
    pipeline runs to fill fixed context windows without splitting documents.

    `cost` overrides the default whitespace token count with an arbitrary
    per-row cost expression — the multimodal interleaved-document shape,
    where each image/audio segment occupies a FIXED patch-token budget in
    the context window (e.g. tokens + 64 × n_images); the packing
    machinery is cost-agnostic, only the cost model changes.

    The scan-with-reset state (running bin total) is not expressible as a
    plain window function, so each shard packs in one `applyInPandas` call —
    the canonical stateful escape hatch. Shards are the parallelism unit:
    at 100 TB, n_shards scales with the cluster and each shard's pack is a
    linear scan over (id, n_tokens) pairs only — no text moves through the
    shuffle. Output: (id, shard, bin_id, n_tokens)."""
    from ..functions.text import md5_low60, token_count

    base = df.select(
        F.col(id_col),
        F.pmod(md5_low60(F.col(id_col).cast("string")), F.lit(n_shards)).alias("shard"),
        (cost if cost is not None else token_count(F.col(text_col)))
        .cast("bigint")
        .alias("n_tokens"),
    )
    # id keeps its source type (string/int32 ids must not be declared bigint)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, shard bigint, bin_id bigint, n_tokens bigint"

    def pack(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bin_ids, cur_bin, cur_tokens = [], 0, 0
        for n in pdf["n_tokens"]:
            if cur_tokens > 0 and cur_tokens + n > budget:
                cur_bin += 1
                cur_tokens = 0
            bin_ids.append(cur_bin)
            cur_tokens += n
        pdf["bin_id"] = bin_ids
        return pdf[[id_col, "shard", "bin_id", "n_tokens"]]

    return base.groupBy("shard").applyInPandas(pack, schema)


def curate_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """The end-to-end curation pipeline every pre-training corpus runs,
    composed from this module's signals in ONE scan: quality gate →
    language filter → exact dedup (canonical = min id per fingerprint) →
    deterministic train/val/test split.

    Single-pass design: all per-row signals (quality, language evidence,
    fingerprint) come from one staged projection over one read — chaining
    the individual operators would re-scan the corpus once per signal
    (three joins Catalyst cannot fuse, since common-subexpression
    elimination does not cross self-join scans). The only shuffles are the
    dedup window (keyed by uniform md5) and nothing else; the split is a
    pure hash predicate."""
    t = F.col(text_col)
    # Tokenize ONCE (the doc_langid lesson): quality derives its token count
    # from the materialized array via quality_expr's toks path, not from a
    # second normalize+split of the raw text.
    staged = df.select(
        F.col(id_col),
        tokens(t).alias("_toks"),
        t.alias("_text"),
        fingerprint(t).alias("fingerprint"),
    )
    staged = staged.select(
        F.col(id_col),
        F.col("_toks"),
        quality_expr(F.col("_text"), toks=F.col("_toks")).alias("quality"),
        F.col("fingerprint"),
    )
    hits_df = staged.select(
        F.col(id_col),
        "quality",
        "fingerprint",
        *[lang_hit_expr(F.col("_toks"), lang).alias(f"_h_{lang}") for lang in STOPWORDS],
    )
    hits = {lang: F.col(f"_h_{lang}") for lang in STOPWORDS}
    signals = hits_df.select(
        F.col(id_col), "quality", "fingerprint", lang_guess_expr(hits).alias("lang_guess")
    )
    kept = signals.filter(
        (F.col("quality") >= min_quality) & F.col("lang_guess").isin(*langs)
    )
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    deduped = (
        kept.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    return hash_split(deduped, id_col, weights).select(
        id_col, "quality", "lang_guess", "fingerprint", "split"
    )


# PII categories → (regex, placeholder). Patterns restricted to syntax with
# identical semantics in Java regex (Spark) and RE2 (DuckDB): character
# classes, bounded repeats, \b word boundaries — no backrefs, no lookaround,
# and no \s (Java's \s includes \x0B, RE2's does not — use [-. ] explicitly).
#
# Phone alternatives, most-specific first (both engines use leftmost-first
# alternation): +1 (619) 555-0100 | +1-619-555-0100 | (619) 555-0100 |
# 619-555-0100 / 619.555.0100 / 619 555 0100 | legacy 4-group 12-345-678-9012.
_PHONE_ALTS = (
    r"\+?1[-. ]?\(\d{3}\) ?\d{3}[-. ]\d{4}",
    r"\+?1[-. ]\d{3}[-. ]\d{3}[-. ]\d{4}",
    r"\(\d{3}\) ?\d{3}[-. ]\d{4}",
    r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    r"\b\d{2,3}-\d{3}-\d{3}-\d{4}\b",
)
PII_PATTERNS = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "phone": ("|".join(_PHONE_ALTS), "[PHONE]"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
}


def pii_scrub(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Redact emails, phone numbers, and IPv4 addresses with typed
    placeholders and count each category (counts over the ORIGINAL text;
    redaction applies email → phone → ip, so an earlier replacement cannot
    manufacture a later match). Pure regexp_count/regexp_replace column
    expressions — whole-stage codegen, no shuffle."""
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, (pat, _) in PII_PATTERNS.items()
    ]
    scrubbed = t
    for name, (pat, placeholder) in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, pat, placeholder)
    return df.select(F.col(id_col), scrubbed.alias("scrubbed"), *counts)


def searchable_text(df: DataFrame, cols: list[str], out: str = "searchable_text") -> DataFrame:
    """Lowercase concat of columns (P3; convert_housing_to_json.py:49)."""
    return df.withColumn(out, F.lower(F.concat_ws(" ", *[F.col(c) for c in cols])))


def quality_gate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group quality gate: keep documents at or above their group's
    median quality score — the relative-threshold curation step (absolute
    thresholds misfire when sources differ in style). One scan computes the
    quality signal; the per-group median is aggregated then BROADCAST back,
    so the gate costs one groupBy shuffle on the (low-cardinality) group
    key plus a broadcast hash join. The median is F.percentile (exact,
    the DuckDB quantile_cont twin).
    """
    q = df.select(
        F.col(id_col), F.col(group_col), quality_expr(F.col(text_col)).alias("quality")
    )
    med = q.groupBy(group_col).agg(
        F.round(F.percentile("quality", F.lit(0.5)), 6).alias("src_median")
    )
    return (
        q.join(F.broadcast(med), group_col)
        .filter(F.col("quality") >= F.col("src_median"))
        .select(F.col(id_col), F.col(group_col), "quality", "src_median")
    )


def _top_ngram_cover(toks, n: int):
    """Max over distinct word n-grams of occurrences × characters — the
    numerator of the Gopher top-n-gram character fraction. Computed per row
    as one O(g log g) array_sort + one linear fold (run lengths in the
    sorted n-gram array ARE the occurrence counts), never a per-distinct
    rescan: pathological repetitive docs are exactly the input this signal
    must survive."""
    from ..functions.text import token_windows

    grams = token_windows(toks, n)
    return F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(acc["prev"] == g, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                (
                    F.when(acc["prev"] == g, acc["run"] + 1).otherwise(F.lit(1))
                    * F.length(g)
                ).cast("bigint"),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def gopher_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top2_char_frac: float = 0.20,
    max_top3_char_frac: float = 0.18,
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): duplicate-
    line fraction, duplicate-line CHARACTER fraction, and the characters
    covered by the most-covering word 2-gram / 3-gram — the document-level
    boilerplate/template screens every pre-training curation stack runs
    after token-level repetition_ratio.

    All five signals are pure column expressions — no shuffle, no UDF,
    embarrassingly parallel at 100 TB (a per-row filter, the cheapest kind
    of operator there is). Duplicate-line char mass uses the same
    sorted-fold trick as repetition_ratio (runs in the sorted line array =
    occurrence counts). Fractions are rounded to 6 before thresholding so
    the keep flag is oracle-stable.

    STAGED projections, deliberately: the folds are non-codegen interpreted
    expressions, and referencing one twice (its output column AND the keep
    conjunction) re-evaluates the whole fold — the naive single-select
    version measured 31 s at sf0.1 vs ~1 s staged (same doc_langid lesson,
    SPARK-36718: CollapseProject refuses to duplicate non-cheap
    expressions, so explicit stages are what keeps each fold evaluated
    once)."""
    t = F.col(text_col)
    lines = F.when(t.isNull(), F.array().cast("array<string>")).otherwise(
        # NB: lambda, not bare F.trim — trim's optional second parameter
        # makes transform() pass the element INDEX as the trim-character set
        F.filter(F.transform(F.split(t, "\n"), lambda l: F.trim(l)), lambda l: l != "")
    )
    # stage 0: parse once — lines array + token array
    staged = df.select(F.col(id_col), lines.alias("_lines"), tokens(t).alias("_toks"))
    lns, toks = F.col("_lines"), F.col("_toks")
    # chars in lines that occur >= 2 times, counting EVERY occurrence: on a
    # sorted array a run's 2nd element retro-charges the 1st (2×len), later
    # elements charge themselves (1×len)
    dup_chars = F.aggregate(
        F.array_sort(lns),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).cast("bigint").alias("dup"),
        ),
        lambda acc, l: F.struct(
            l.alias("prev"),
            F.when(acc["prev"] == l, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            (
                acc["dup"]
                + F.when(
                    acc["prev"] == l,
                    F.when(acc["run"] == 1, 2 * F.length(l)).otherwise(F.length(l)),
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("dup"),
        ),
        lambda acc: acc["dup"],
    )
    # stage 1: every fold/scan evaluated exactly once into scalar columns
    raw = staged.select(
        F.col(id_col),
        F.size(lns).cast("bigint").alias("n_lines"),
        F.size(F.array_distinct(lns)).cast("bigint").alias("_n_distinct"),
        F.aggregate(lns, F.lit(0).cast("bigint"), lambda a, l: a + F.length(l)).alias(
            "_line_chars"
        ),
        dup_chars.alias("_dup_chars"),
        F.length(F.array_join(toks, " ")).alias("_norm_chars"),
        _top_ngram_cover(toks, 2).alias("_cover2"),
        _top_ngram_cover(toks, 3).alias("_cover3"),
    )
    frac = lambda num, den: F.round(  # noqa: E731
        F.when(den > 0, F.least(F.lit(1.0), num.cast("double") / den)).otherwise(0.0), 6
    )
    # stage 2: cheap arithmetic over the scalars
    fracs = raw.select(
        F.col(id_col),
        F.col("n_lines"),
        frac(F.col("n_lines") - F.col("_n_distinct"), F.col("n_lines")).alias(
            "dup_line_frac"
        ),
        frac(F.col("_dup_chars"), F.col("_line_chars")).alias("dup_line_char_frac"),
        frac(F.col("_cover2"), F.col("_norm_chars")).alias("top2_char_frac"),
        frac(F.col("_cover3"), F.col("_norm_chars")).alias("top3_char_frac"),
    )
    return fracs.withColumn(
        "keep",
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("top2_char_frac") <= max_top2_char_frac)
        & (F.col("top3_char_frac") <= max_top3_char_frac),
    )


def token_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Shannon entropy of each document's token distribution (nats) — the
    vocabulary-diversity quality signal: keyword-stuffed/template pages
    score near 0, diverse prose scores near ln(n_distinct). Complements
    repetition_ratio (which only sees the TOP token) with the whole
    distribution.

    Pure per-row computation, no shuffle: H = ln(n) − (Σ c·ln c)/n where
    the run lengths of the SORTED token array are the per-token counts c —
    the same one-fold trick as repetition_ratio/_top_ngram_cover, O(n log
    n) per row. Empty docs → 0.0. Rounded to 6; cross-engine libm-log ulp
    margins are pinned by a boundary test (test_functions.py).
    """
    toks_df = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n = F.size(F.col("_toks"))
    # fold state: (prev token, current run, accumulated Σ c·ln c); closing a
    # run adds run·ln(run) — the final run is closed in the finish lambda
    clogc = F.aggregate(
        F.array_sort(F.col("_toks")),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("double").alias("run"),
            F.lit(0.0).alias("acc"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(acc["prev"] == t, acc["run"] + 1).otherwise(F.lit(1.0)).alias("run"),
            (
                acc["acc"]
                + F.when(
                    (acc["prev"] != t) & (acc["run"] > 0),
                    acc["run"] * F.log(acc["run"]),
                ).otherwise(F.lit(0.0))
            ).alias("acc"),
        ),
        lambda acc: acc["acc"]
        + F.when(acc["run"] > 0, acc["run"] * F.log(acc["run"])).otherwise(F.lit(0.0)),
    )
    h = F.when(n == 0, F.lit(0.0)).otherwise(
        F.log(n.cast("double")) - clogc / n.cast("double")
    )
    return toks_df.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        F.round(h, 6).alias("token_entropy"),
    )


def bigram_surprisal(
    df: DataFrame, text_col: str, id_col: str, k_smooth: float = 0.5
) -> DataFrame:
    """Bigram-LM surprisal: −mean ln P(tokᵢ | tokᵢ₋₁) under an add-k
    smoothed bigram model fit on the corpus ITSELF — the step up from
    doc_rarity's unigram view: it scores word-ORDER plausibility, so
    shuffled/garbled text scores high even when every word is common (the
    cheap stand-in for KenLM perplexity filtering in curation stacks).

    P = (c(prev,tok) + k) / (c(prev,·) + k·V), V = corpus vocabulary size.
    Plan: one exploded bigram scan → two count tables (bigram, prefix) —
    both partial-aggregated on uniform keys — joined back onto the doc's
    bigram occurrences, vocab as a broadcast scalar (the doc_rarity
    pattern, no driver collect), one avg per doc. Docs with < 2 tokens
    score 0.0.

    Bigram construction is slice + arrays_zip — ALL codegen-native. The
    previous `transform(sequence, i -> element_at…)` form ran on the
    interpreted higher-order-function path per element (the same pitfall
    SCALING.md's map-only-sketch negative result documents) and measured
    10× slower at 400k docs (357s → 34s) for identical output.
    """
    from ..tables import spread

    t = tokens(F.col(text_col))
    n = F.size(t)
    zipped = F.arrays_zip(
        F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(n - 1, F.lit(0))),
    )
    big = spread(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(zipped).alias("bg")
    ).select("doc", F.col("bg.0").alias("prev"), F.col("bg.1").alias("tok"))
    c2 = big.groupBy("prev", "tok").agg(F.count("*").cast("double").alias("c2"))
    c1 = big.groupBy("prev").agg(F.count("*").cast("double").alias("c1"))
    vocab = df.select(
        F.explode(tokens(F.col(text_col))).alias("token")
    ).agg(F.count_distinct("token").cast("double").alias("v"))
    p = (F.col("c2") + k_smooth) / (F.col("c1") + k_smooth * F.col("v"))
    per_doc = (
        big.join(c2, ["prev", "tok"])
        .join(c1, "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc")
        .agg(F.round(F.avg(-F.log(p)), 6).alias("surprisal"))
    )
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("surprisal"), F.lit(0.0)).alias("surprisal"),
        )
    )


def doc_segments(
    df: DataFrame, text_col: str, id_col: str, seg_tokens: int = 16
) -> DataFrame:
    """Consecutive non-overlapping `seg_tokens`-token segments per doc
    (the final one may be short): (id, start, segment). The shared
    segmentation under segment_dedup and boilerplate_report — one
    tokenization + one explode, rows ∝ tokens/seg_tokens, no shuffle.
    Zero-token docs emit no rows (the oracles' WHERE norm <> '' shape)."""
    if seg_tokens <= 0:
        raise ValueError(f"seg_tokens must be positive, got {seg_tokens}")
    toks_df = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n = F.size(F.col("_toks"))
    return (
        toks_df.filter(n > 0)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), n - 1, F.lit(seg_tokens))).alias("start"),
            F.col("_toks"),
        )
        .select(
            F.col(id_col),
            F.col("start"),
            F.array_join(F.slice(F.col("_toks"), F.col("start") + 1, seg_tokens), " ").alias(
                "segment"
            ),
        )
    )


def boilerplate_report(
    df: DataFrame, text_col: str, id_col: str, seg_tokens: int = 16, top: int = 20
) -> DataFrame:
    """The diagnostic companion to segment_dedup: the `top` most repeated
    k-token segments corpus-wide with total site count and distinct-doc
    spread — what segment_dedup WOULD remove, surfaced for human review
    (navigation chrome, license blocks, templated headers). Deterministic
    order: (sites desc, docs desc, segment) — ties can't reshuffle the
    page between runs. One groupBy with map-side partials + a
    TakeOrderedAndProject top-k; never materializes the full ranking."""
    segs = doc_segments(df, text_col, id_col, seg_tokens)
    return (
        segs.groupBy("segment")
        .agg(
            F.count("*").alias("sites"),
            F.count_distinct(id_col).alias("docs"),
        )
        .filter(F.col("sites") > 1)
        .orderBy(F.col("sites").desc(), F.col("docs").desc(), F.col("segment"))
        .limit(top)
    )


def segment_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_tokens: int = 16,
    max_freq: int = 1,
    scope: str = "corpus",
) -> DataFrame:
    """Segment-level exact dedup (C4 / Lee et al. 2022 line dedup,
    generalized to fixed-size token segments because the corpus has no
    newlines): split every doc into consecutive non-overlapping
    `seg_tokens`-token segments, and for any segment text occurring at
    more than `max_freq` (doc, position) sites corpus-wide, keep ONLY its
    globally-first occurrence (lexicographic min over (doc_id, start)) and
    drop every other copy; rebuild each doc's text from the surviving
    segments in order.

    `scope="doc"` restricts the frequency count and the first-occurrence
    rule to WITHIN each document (C4 also dedups lines per page before the
    corpus pass): a segment repeated inside one doc keeps its earliest
    position there, but identical segments in different docs are never
    touched — the grouping key gains the doc id, so the shuffle is finer
    and strictly cheaper than the corpus pass.

    This is the sub-document counterpart of exact_dedup (whole-doc) and
    contamination_spans (train-vs-eval): boilerplate headers, navigation
    chrome, and license blocks vanish from every doc but one while the
    unique prose around them survives.

    Scale shape: one explode (rows ∝ tokens/seg_tokens), one groupBy on
    the segment text (equi-shuffle, map-side combined), one equi-join back,
    one groupBy on the doc key — never doc × doc. At 100 TB you would
    group on xxhash64(seg) and carry the text only on the probe side to
    slim the shuffle; the text-keyed form here is the exact-oracle family
    (same trade as md5-vs-xxhash64 in the sketch ops).

    Zero-token docs emit no row (the oracles' `WHERE norm <> ''` shape);
    docs whose every segment was dropped come back with text = '' so the
    removal is visible, not silent. Output: (id, text, n_kept, n_removed).
    """
    if max_freq < 1:
        raise ValueError(f"max_freq must be >= 1, got {max_freq}")
    if scope not in ("corpus", "doc"):
        raise ValueError(f"scope must be 'corpus' or 'doc', got {scope!r}")
    segs = doc_segments(df, text_col, id_col, seg_tokens).withColumnsRenamed(
        {"start": "_start", "segment": "_seg"}
    )
    group_keys = ["_seg"] if scope == "corpus" else [id_col, "_seg"]
    freq = segs.groupBy(*group_keys).agg(
        F.count("*").alias("_freq"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("_start").alias("s"))).alias("_first"),
    )
    joined = segs.join(freq, group_keys)
    kept = (F.col("_freq") <= max_freq) | (
        (F.col(id_col) == F.col("_first.d")) & (F.col("_start") == F.col("_first.s"))
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(kept, F.struct(F.col("_start"), F.col("_seg"))))
                    ),
                    lambda x: x["_seg"],
                ),
                " ",
            ).alias("text"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, 0).otherwise(1)).cast("bigint").alias("n_removed"),
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_df: int = 5,
    max_df_ratio: float = 0.2,
    cap_postings: int = 100,
) -> DataFrame:
    """Build a bounded inverted index (term -> document frequency + posting
    list) — the IR primitive behind keyword search, BM25 candidates, and
    n-gram decontamination audits.

    Scale shape (the part that matters at 100 TB): document frequencies are
    computed FIRST on slim (term, doc_id) distinct pairs, the stopword band
    [min_df, max_df_ratio * n_docs] prunes terms via one broadcast-scalar
    filter, and only the SURVIVING terms' postings are ranked — a
    row_number window bounds every posting list to `cap_postings` BEFORE the
    collect_list, so no reducer ever materializes a stopword's full posting
    list. The n_docs scalar rides a broadcast single-row aggregate (no
    driver collect). Postings are emitted as a comma-joined ASC string —
    deterministic, oracle-hashable, and the on-disk shape a posting shard
    would take anyway.

    Returns (term, df, postings_csv); df counts ALL matching docs even when
    the stored postings are capped.
    """
    if min_df < 1:
        raise ValueError(f"inverted_index: min_df must be >= 1, got {min_df}")
    if not 0.0 < max_df_ratio <= 1.0:
        raise ValueError(
            f"inverted_index: max_df_ratio must be in (0, 1], got {max_df_ratio}"
        )
    if cap_postings < 1:
        raise ValueError(
            f"inverted_index: cap_postings must be >= 1, got {cap_postings}"
        )
    dt = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    dfreq = dt.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    n_docs = df.agg(F.count("*").cast("double").alias("n_docs"))
    kept = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") >= min_df)
            & (F.col("df") <= F.col("n_docs") * max_df_ratio)
        )
        .select("term", "df")
    )
    w = Window.partitionBy("term").orderBy(F.asc("doc_id"))
    postings = (
        dt.join(kept.select("term"), "term", "left_semi")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap_postings)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_csv")
        )
    )
    return kept.join(postings, "term")


def _bigram_buckets(
    df: DataFrame, text_col: str, id_col: str, buckets: int, is_target=None
):
    """(doc, bucket) rows — one per bigram occurrence: codegen-native
    slice + arrays_zip bigrams (never transform(sequence, element_at), the
    interpreted-HOF pitfall), md5-low32 bucketing. A boolean `is_target`
    Column over df rides through the same explode as `is_t`, giving
    (doc, is_t, bucket) rows."""
    from ..functions.text import md5_low32
    from ..tables import spread

    t = tokens(F.col(text_col))
    n = F.size(t)
    zipped = F.arrays_zip(
        F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(n - 1, F.lit(0))),
    )
    carry = {"doc": F.col(id_col)}
    if is_target is not None:
        carry["is_t"] = is_target
    exploded = spread(df, id_col).select(
        *[c.alias(name) for name, c in carry.items()], F.explode(zipped).alias("bg")
    )
    return exploded.select(
        *carry,
        F.pmod(
            md5_low32(F.concat_ws(" ", F.col("bg.0"), F.col("bg.1"))),
            F.lit(buckets),
        ).alias("b"),
    )


def _dsir_log_ratios(counts: DataFrame, buckets: int, k_smooth: float) -> DataFrame:
    """The `buckets`-row add-k log-ratio table lr(b) = ln p_target(b) −
    ln p_raw(b) from (is_t, b, c) bigram counts: a complete bucket spine
    left-joined to the target and raw bucket sums, totals from a
    single-partition window over the B-row table."""
    tb = counts.filter(F.col("is_t")).groupBy("b").agg(F.sum("c").alias("tc"))
    rb = counts.filter(~F.col("is_t")).groupBy("b").agg(F.sum("c").alias("rc"))
    # complete bucket spine: every bucket id gets a row (and thereby the
    # smoothed default log-ratio) even if no fit bigram hashed to it
    spine = counts.sparkSession.range(buckets).select(F.col("id").alias("b"))
    merged = (
        spine.join(tb, "b", "left")
        .join(rb, "b", "left")
        .select(
            "b",
            F.coalesce("tc", F.lit(0.0)).alias("tc"),
            F.coalesce("rc", F.lit(0.0)).alias("rc"),
        )
    )
    w = Window.partitionBy(F.lit(1))
    kb = float(k_smooth) * buckets
    return merged.select(
        "b",
        (
            F.log(F.col("tc") + F.lit(float(k_smooth)))
            - F.log(F.sum("tc").over(w) + F.lit(kb))
            - F.log(F.col("rc") + F.lit(float(k_smooth)))
            + F.log(F.sum("rc").over(w) + F.lit(kb))
        ).alias("lr"),
    )


def dsir_bucket_ratios(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target,
    buckets: int = 64,
    k_smooth: float = 0.5,
) -> DataFrame:
    """The FIT half of DSIR (see dsir_importance): the ≤`buckets`-row
    log-ratio table lr(b) = ln p_target(b) − ln p_raw(b) with add-k
    smoothed hashed-bigram bucket probabilities — target docs are the
    rows where `is_target` holds, raw docs the rest. Fit ONCE over the
    reference corpora, then dsir_score any number of corpora/streams
    against it (the broadcastable model artifact — O(buckets) rows, a
    constant). Totals come from a single-partition window over the
    bucket table: bounded by B, crossJoin-free.

    The table is COMPLETE: exactly `buckets` rows, one per bucket id (a
    range spine left-joined to the observed counts), so a bucket no
    fit-corpus bigram hashed to still carries its add-k smoothed default
    lr = ln(k/(tt+kB)) - ln(k/(rt+kB)). That makes dsir_score's bucket
    join total: a NEW corpus/stream whose bigrams hit fit-unseen buckets
    gets the smoothed value the model implies instead of silently
    dropping those bigrams from both dsir_logw and n_bigrams (ADVICE
    r8)."""
    # one exploded scan, flag carried through the explode instead of a
    # join back onto the corpus
    counts = (
        _bigram_buckets(df, text_col, id_col, buckets, is_target)
        .groupBy("is_t", "b")
        .agg(F.count("*").cast("double").alias("c"))
    )
    return _dsir_log_ratios(counts, buckets, k_smooth)


def dsir_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ratios: DataFrame,
    buckets: int = 64,
) -> DataFrame:
    """The SCORE half of DSIR: per-doc log w = Σ_b c(b)·lr(b) against a
    fitted `ratios` table (dsir_bucket_ratios). Map-only per doc plus one
    broadcast join on the bucket id and one partial-aggregated sum —
    batch-boundary-free, so the streaming surface
    (pipeline.stream_dsir_score) scores micro-batches with the IDENTICAL
    plan and values. Docs with < 2 tokens score (0 bigrams, 0.0). The
    bucket join is TOTAL because the fitted table carries all `buckets`
    ids (dsir_bucket_ratios' spine) — bigrams from fit-unseen buckets
    score the smoothed default instead of being dropped (ADVICE r8)."""
    db = (
        _bigram_buckets(df, text_col, id_col, buckets)
        .groupBy("doc", "b")
        .agg(F.count("*").cast("double").alias("c"))
    )
    per_doc = (
        db.join(F.broadcast(ratios), "b")
        .groupBy("doc")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(F.col("c") * F.col("lr")), 6).alias("dsir_logw"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0).cast("bigint")).alias("n_bigrams"),
            F.coalesce("dsir_logw", F.lit(0.0)).alias("dsir_logw"),
        )
    )


def dsir_importance(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target,
    buckets: int = 64,
    k_smooth: float = 0.5,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection via
    Importance Resampling", arXiv:2302.03169): score every RAW document by
    how target-domain-like its hashed-bigram profile is —
    log w(d) = Σ_b c_d(b) · [ln p_target(b) − ln p_raw(b)], with add-k
    smoothed bucket probabilities over `buckets` md5-hashed bigram buckets.
    Feed the weights to relational.weighted_resample (exp(logw/T) or a
    rank-cap) to importance-resample a target-matched pre-training subset —
    the data-recipe step UPSTREAM of corpus_mix/temperature_mix, selecting
    by CONTENT instead of provenance. This is dsir_bucket_ratios (fit) ∘
    dsir_score (score) over one corpus; use the halves directly to fit
    once and score many corpora/streams.

    `is_target` is a boolean Column over df marking the target-domain docs
    (e.g. F.col("source") == "src0"); they define p_target and are excluded
    from the scored output. Output: (doc_id, n_bigrams, dsir_logw) for
    every raw doc — docs with < 2 tokens score 0.0 over 0 bigrams.

    Scale shape — hashing is what makes DSIR 100 TB-able: ONE bigram
    explode (slice + arrays_zip, codegen-native) → per-(doc, is_target,
    bucket) partial-aggregated counts, checkpointed and consumed by BOTH
    halves (guide §1.2 — before r12 the fit's target/raw branches and the
    score pass each re-ran the full tokenize+explode: three corpus scans,
    visible as three Generate-on-Scan pipelines in
    plans/r12/dsir_resample_before.txt). The fit aggregates that table to
    two ≤`buckets`-row bucket tables merged with a single-partition window
    for totals (B is a CONSTANT ≤ ~1e6 — the whole LM state is O(B), never
    O(vocab²)); the B-row log-ratio table broadcast-joins back onto the
    same per-doc counts and one partial-aggregated sum per doc finishes.
    Exact-identical to the two-pass fit∘score composition: the per-(doc,
    bucket) counts are integers (their double sums are exact), is_target
    is functionally dependent on the doc, and the bigram/bucket expression
    is shared code. No quadratic anywhere; md5-family bucketing keeps
    every intermediate DuckDB-reproducible (swap xxhash64 in production,
    the sketch-family precedent). Fit-once/score-many callers (and the
    streaming surface) keep using dsir_bucket_ratios + dsir_score."""
    db = materialize(  # three consumers: target fit, raw fit, score
        _bigram_buckets(df, text_col, id_col, buckets, is_target)
        .groupBy("doc", "is_t", "b")
        .agg(F.count("*").cast("double").alias("c"))
    )
    ratios = _dsir_log_ratios(db, buckets, k_smooth)
    per_doc = (
        db.filter(~F.col("is_t"))
        .join(F.broadcast(ratios), "b")
        .groupBy("doc")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(F.col("c") * F.col("lr")), 6).alias("dsir_logw"),
        )
    )
    return (
        df.filter(~is_target)
        .select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0).cast("bigint")).alias("n_bigrams"),
            F.coalesce("dsir_logw", F.lit(0.0)).alias("dsir_logw"),
        )
    )


def quality_distill(
    df: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int = 64,
    lr: float = 5.0,
    iters: int = 6,
    teacher_min: float = 1.0,
    train_pct: int = 80,
) -> DataFrame:
    """Quality-classifier distillation (the CCNet / GPT-3 curation
    pattern, fastText stand-in): train a linear classifier on hashed-
    bigram proportions + a log-length feature + a bias to MIMIC an
    expensive teacher label — here the quality_expr heuristic thresholded
    at `teacher_min` — then score every document with the cheap student.
    In production the teacher is an LLM judgment or a curated positive
    set scored on a sample; the student is what actually runs over the
    100 TB (one hash pass + a B-row broadcast dot product per doc — no
    teacher cost at scale).

    Feature design matters more than tuning here (measured): bucket
    PROPORTIONS alone are length-invariant, and the teacher's length
    sweet-spot is invisible to them — holdout AUC stalls ≈0.55 at any
    (lr, iters, B). Adding i=B: ln(1+n_bigrams)/5 and i=B+1: bias lifts
    holdout AUC to ~1.0. Full-batch GD then has a real stability ladder
    (all pinned in tests): lr=5 improves CALIBRATION monotonically with
    rounds (holdout Brier 0.234 → 0.229 over 6), lr 10–50 still ranks
    (AUC ~1.0) but oscillates into mis-calibration (Brier worsens with
    rounds), lr=200 diverges to a saturated 0.5 — rank survives
    overshoot long before probabilities do.

    Split: md5-bucket(id) < `train_pct` of 100 trains (rerun/append/
    layout-stable, the hash_split rule); EVERY doc is scored. Output:
    (id, is_train, y_teacher, p_keep) — p_keep = σ(round(w·x, 9))
    rounded 6dp, 0.5 for docs with no bigrams (no evidence → prior; the
    length/bias features attach only to docs with ≥1 bigram so the
    prior path stays score-free).

    Scale shape: features are per-(doc, bucket) COUNT PROPORTIONS (the
    same O(B)-state hashing that makes dsir_importance scale — no vocab
    explosion); training runs relational.logreg_gd — per round two
    partial-aggregated groupBys and a dim-row broadcast, no driver
    collect; scoring is one broadcast join + per-doc sum. Every float
    step has a DuckDB twin (md5 buckets, round-12 weights per round,
    round-9 dot, round-6 p)."""
    base, exall, train_ids, w = _distill_fit(
        df, text_col, id_col, buckets, lr, iters, teacher_min, train_pct
    )
    score = (
        exall.join(F.broadcast(w), "i")
        .groupBy("rid")
        .agg(F.round(F.sum(F.col("x") * F.col("w")), 9).alias("s"))
    )
    return (
        base.join(score, base[id_col] == score["rid"], "left")
        .select(
            F.col(id_col),
            "is_train",
            "y_teacher",
            F.coalesce(
                F.round(1.0 / (1.0 + F.exp(-F.col("s"))), 6), F.lit(0.5)
            ).alias("p_keep"),
        )
    )


def _distill_fit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int,
    lr: float,
    iters: int,
    teacher_min: float,
    train_pct: int,
):
    """Shared fit of the distillation stack (quality_distill and
    influence_scores): teacher labels + md5 split (`base`), the
    per-(doc, feature) table `exall` (bucket proportions, log-length,
    bias — checkpointed, reused by every GD round and by scoring),
    the train (rid, y) table, and the logreg_gd weight table."""
    from ..functions.text import md5_low60
    from ..operators.relational import logreg_gd

    # checkpoint (r12, guide §1.2): `base` — a corpus scan + teacher
    # quality_expr (tokenize + punct ratio) + md5 split — feeds train_ids,
    # which is REBUILT for every GD round's err-join broadcast AND the
    # train semi-join AND the final scoring join: without the cut the
    # text-processing pass re-ran ~(iters + 2) times per query. The
    # materialized table is 3 slim columns per doc.
    base = materialize(df.select(
        F.col(id_col),
        (quality_expr(F.col(text_col)) >= F.lit(float(teacher_min))).alias(
            "y_teacher"
        ),
        (
            F.pmod(
                md5_low60(F.concat(F.col(id_col).cast("string"), F.lit(":qd"))),
                F.lit(100),
            )
            < train_pct
        ).alias("is_train"),
    ))
    cnt = (
        _bigram_buckets(df, text_col, id_col, buckets)
        .groupBy("doc", "b")
        .agg(F.count("*").cast("double").alias("c"))
    )
    tot = cnt.groupBy("doc").agg(F.sum("c").alias("n"))
    prop = cnt.join(tot, "doc").select(
        F.col("doc").alias("rid"),
        F.col("b").alias("i"),
        (F.col("c") / F.col("n")).alias("x"),
    )
    lenf = tot.select(
        F.col("doc").alias("rid"),
        F.lit(buckets).cast("bigint").alias("i"),
        (F.log(F.lit(1.0) + F.col("n")) / 5.0).alias("x"),
    )
    bias = tot.select(
        F.col("doc").alias("rid"),
        F.lit(buckets + 1).cast("bigint").alias("i"),
        F.lit(1.0).alias("x"),
    )
    # Bare checkpoint, NO rid pre-partitioning: r11 added spread(..., "rid")
    # here claiming per-GD-round exchange reuse, but the runtime receipt
    # (r12, executed-plan shuffle bytes at sf0.1; `python bench.py
    # quality_distill_score` reads them today) shows IDENTICAL total shuffle
    # bytes with and without it (2.61 MiB either way) — each round's
    # groupBy(rid) already collapses the triples to per-rid partial
    # aggregates map-side before its exchange, so there is no corpus-sized
    # re-shuffle to save, and the spread only ADDED a full-triple exchange
    # (the driver measured it ×1.31 slower with 8-vs-32-core anti-scaling).
    # reused by every GD round (dot + gradient) + scoring
    exall = materialize(prop.unionByName(lenf).unionByName(bias))
    train_ids = base.filter(F.col("is_train")).select(
        F.col(id_col).alias("rid"),
        F.when(F.col("y_teacher"), 1.0).otherwise(0.0).alias("y"),
    )
    ex = exall.join(train_ids.select("rid"), "rid", "left_semi")
    w = logreg_gd(
        df.sparkSession, ex, train_ids, dim=buckets + 2, lr=lr, iters=iters
    )
    return base, exall, train_ids, w


def influence_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int = 64,
    lr: float = 5.0,
    iters: int = 6,
    teacher_min: float = 1.0,
    train_pct: int = 80,
) -> DataFrame:
    """Per-example influence proxy for data selection — the GraNd score
    of Paul et al. 2021 ("Deep Learning on a Data Diet",
    arXiv:2107.07075): for logistic regression the per-example gradient
    is (p − y)·x, so its norm factors EXACTLY into |p − y| · ‖x‖₂ — no
    second training pass, no per-example autograd. High-influence
    examples (confidently-wrong or hard) are what curriculum/pruning
    keeps; near-zero influence = already-learned or featureless, the
    prunable mass. This turns the distilled quality student
    (quality_distill's fit, shared via _distill_fit) into a
    training-data SELECTION signal rather than a gate.

    Output: one row per TRAIN doc — (id, p_keep, influence) with
    influence = round(|p − y| · sqrt(round(Σx², 9)), 6); docs with no
    features score p=0.5 and ‖x‖=0 → influence 0 (no evidence, no
    gradient). Scale shape identical to the distiller: O(B) model state,
    two partial-agg groupBys per doc (dot and ‖x‖²), a (B+2)-row
    broadcast — the whole selection signal is one more aggregate over
    the checkpointed feature table. Full round-for-round DuckDB twin
    (queries._influence_oracle_sql)."""
    base, exall, train_ids, w = _distill_fit(
        df, text_col, id_col, buckets, lr, iters, teacher_min, train_pct
    )
    score = (
        exall.join(F.broadcast(w), "i")
        .groupBy("rid")
        .agg(F.round(F.sum(F.col("x") * F.col("w")), 9).alias("s"))
    )
    xnorm = exall.groupBy("rid").agg(F.round(F.sum(F.col("x") * F.col("x")), 9).alias("ss"))
    p = F.coalesce(F.round(1.0 / (1.0 + F.exp(-F.col("s"))), 6), F.lit(0.5))
    return (
        train_ids.join(score, "rid", "left")
        .join(xnorm, "rid", "left")
        .select(
            F.col("rid").alias(id_col),
            p.alias("p_keep"),
            F.round(
                F.abs(p - F.col("y"))
                * F.sqrt(F.coalesce(F.col("ss"), F.lit(0.0))),
                6,
            ).alias("influence"),
        )
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_merges: int = 8,
) -> DataFrame:
    """BPE merge-rule induction (Sennrich, Haddow & Birch, ACL 2016,
    arXiv:1508.07909) at the VOCABULARY level — the original algorithm's
    trick and the 100 TB one: the corpus is scanned ONCE to build
    (distinct word, occurrence count); every merge round then runs over
    the vocab table, whose size is |vocab|, not corpus tokens. Words are
    the lowercase-normalized whitespace tokens restricted to
    ^[a-z0-9]+$ (plain char-BPE within words, no end-of-word marker —
    the restriction also keeps every symbol free of the oracle's fold
    delimiter). Per round: adjacent symbol-pair counts weighted by word
    count (one bounded explode + partial agg), the argmax pair
    (count desc, then (left, right) lexicographic — deterministic), and
    a left-to-right array fold replacing every adjacent (left, right)
    with the merged symbol, exactly the greedy re-tokenization of the
    reference implementation.

    Driver state is ONE pair per round (the kmeans-centroid precedent);
    the vocab table is localCheckpointed per round so plan depth stays
    linear in rounds (the logreg_gd/pagerank rule). Returns the merge
    TABLE (round, lhs, rhs, pair_count) — the model artifact a
    tokenizer applies — with a full unrolled round-for-round DuckDB
    twin (queries.q_tokenizer_bpe_train). Rounds stop early if no
    adjacent pair remains."""
    merges, _ = _bpe_train_full(df, text_col, n_merges, need_vocab=False)
    return df.sparkSession.createDataFrame(
        merges, "round int, lhs string, rhs string, pair_count bigint"
    )


def _bpe_fold_sql(a: str, b: str) -> str:
    """Greedy left-to-right (a,b)→'ab' fold over a `syms` array column.
    Symbols must match ^[a-z0-9]+$ (bpe_train guarantees it; bpe_apply
    validates caller-supplied merges) so literal inlining is safe."""
    return (
        f"aggregate(slice(syms, 2, greatest(size(syms)-1, 0)), "
        f"slice(syms, 1, 1), "
        f"(acc, x) -> CASE WHEN element_at(acc, -1) = '{a}' AND x = '{b}' "
        f"THEN concat(slice(acc, 1, size(acc)-1), array('{a}{b}')) "
        f"ELSE concat(acc, array(x)) END)"
    )


def _bpe_train_full(df: DataFrame, text_col: str, n_merges: int, need_vocab: bool):
    """Shared BPE trainer: returns (merges list, final folded vocab or None).

    r11 optimization (guide §1.2 "don't compute things twice"): the vocab
    table now carries `word` through every fold so bpe_apply(merges=None)
    can reuse the FINAL trained vocab directly instead of replaying all
    n_merges folds (each a vocab-wide pass + checkpoint) over a second
    vocab build — the fold work runs once, not twice. With
    need_vocab=False the LAST round's fold is skipped outright: bpe_train
    alone returns only the merge rules, and nothing reads the vocab the
    old code materialized after the final merge."""
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    # `word` rides along only when the caller wants the folded vocab back
    # (bpe_apply reuse); train-only callers keep the original slim rows
    keep = ("word", "cnt") if need_vocab else ("cnt",)
    syms_df = materialize(words.select(*keep, F.split("word", "").alias("syms")))
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, n_merges + 1):
        pairs = (
            syms_df.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms)-2),"
                        " i -> struct(syms[i] AS a, syms[i+1] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("c"))
        )
        top = (
            pairs.orderBy(F.desc("c"), F.asc("a"), F.asc("b")).limit(1).collect()
        )
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((r, a, b, c))
        if not need_vocab and r == n_merges:
            break  # nothing reads the post-final-merge vocab
        syms_df = materialize(syms_df.select(*keep, F.expr(_bpe_fold_sql(a, b)).alias("syms")))
    return merges, (syms_df if need_vocab else None)


def code_signals(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Code-vs-prose routing signals — the corpus-separation step a
    code-LM pipeline runs before language-specific filters (The Stack /
    StarCoder preprocessing shape): per doc, the RAW-text structural
    ratios prose essentially never exhibits together —
      * symbol_ratio: share of chars in the code-symbol class
        {}[]();=<>&|      (operators, brackets, terminators)
      * indent_share: share of non-empty lines starting with >= 2 spaces
        or a tab (block structure; measured on RAW text — normalization
        would destroy it)
      * semi_share: share of non-empty lines ending in ; { or }
      * ident_hits: count of snake_case / camelCase identifier tokens
    and the routing flag is_code = symbol_ratio >= 0.03 AND
    (semi_share >= 0.2 OR indent_share >= 0.3 OR ident_hits >= 3).
    All counts are regexp_replace length differences (codegen, one text
    pass, no explode) — map-only at any scale; ratios rounded 6dp with
    empty-text guards. Thresholds are the knobs; the SIGNALS are the
    product (route, then tune per corpus)."""
    raw = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(raw)
    sym = n_chars - F.length(F.regexp_replace(raw, r"[{}\[\]();=<>&|]", ""))
    # non-empty lines; DuckDB twin splits identically on \n
    lines = F.filter(F.split(raw, "\n"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines)
    indented = F.size(F.filter(lines, lambda x: x.rlike(r"^(  |\t)")))
    semi = F.size(F.filter(lines, lambda x: x.rlike(r"[;{}]\s*$")))
    ident = F.size(
        F.filter(
            F.split(F.trim(raw), r"\s+"),
            lambda t: t.rlike(r"^[a-z]+(_[a-z0-9]+)+$")
            | t.rlike(r"^[a-z]+([A-Z][a-z0-9]+)+$"),
        )
    )
    symbol_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        F.round(sym.cast("double") / n_chars, 6)
    )
    indent_share = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        F.round(indented.cast("double") / n_lines, 6)
    )
    semi_share = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        F.round(semi.cast("double") / n_lines, 6)
    )
    return df.select(
        F.col(id_col),
        symbol_ratio.alias("symbol_ratio"),
        indent_share.alias("indent_share"),
        semi_share.alias("semi_share"),
        ident.cast("bigint").alias("ident_hits"),
        (
            (symbol_ratio >= 0.03)
            & ((semi_share >= 0.2) | (indent_share >= 0.3) | (ident >= 3))
        ).alias("is_code"),
    )


def ppl_buckets(
    scored: DataFrame,
    score_col: str,
    lang_col: str,
    id_col: str,
    scalable: bool = False,
) -> DataFrame:
    """Per-LANGUAGE perplexity terciles (the CCNet head/middle/tail cut,
    Wenzek et al. 2020) over an already-scored table — the bucketing stage
    of q_ccnet_buckets, factored out so the cut strategy is a dial
    (VERDICT r9 #1).

    Default: ntile(3) over a per-language window ordered by
    (score, id) — the oracle-mirrorable total order, but each language's
    ENTIRE row set moves through ONE task (a window partition is a task),
    so a dominant language at 100 TB funnels ~the whole corpus through a
    single executor sort.

    `scalable=True`: the same ntile WITHOUT the per-language
    single-task window — `relational.grouped_ranks` (range-partitioned
    two-level per-group rank, task-sized window partitions) plus the
    closed-form ntile from rank and group count, ntile(k) =
    ((rank−1)·k) // n + 1 (reproduces SQL ntile's ceil-sized leading
    buckets exactly). Pinned bucket-identical to the window ntile in
    pytest — the strongest form of the VERDICT r9 #1 fix: same answer,
    no funnel, no approximation. This is the plan the declared
    `ccnet_buckets` query ships (VERDICT r10 #1).

    NULL language keys form their own bucket group on both paths (the
    join back to the counts is null-SAFE — ADVICE r10)."""
    s, lg = F.col(score_col), F.col(lang_col)
    if scalable:
        from .relational import grouped_ranks

        base = materialize(scored)
        ranked = grouped_ranks(
            base, lang_col, [s.asc(), F.col(id_col).asc()], out="_rk"
        )
        counts = base.groupBy(lg.alias("_lang")).agg(F.count("*").alias("_n"))
        nt = ((F.col("_rk") - 1) * 3 / F.col("_n")).cast("int") + 1
        bucket = F.when(nt == 1, "head").when(nt == 2, "middle").otherwise("tail")
        return (
            ranked.join(F.broadcast(counts), lg.eqNullSafe(F.col("_lang")))
            .select(*scored.columns, bucket.alias("ppl_bucket"))
        )
    nt = F.ntile(3).over(Window.partitionBy(lg).orderBy(s.asc(), F.col(id_col).asc()))
    bucket = F.when(nt == 1, "head").when(nt == 2, "middle").otherwise("tail")
    return scored.select(*scored.columns, bucket.alias("ppl_bucket"))


def quality_ensemble(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    scalable: bool = False,
) -> DataFrame:
    """Multi-signal quality RANK FUSION (the FineWeb/Dolma pattern:
    several weak quality filters, each noisy alone, fused by rank so no
    single signal's scale dominates): per group (language/source), each
    doc is ranked under three independent signals — token count (longer
    is richer), type-token ratio (distinct/total — repetition-resistant),
    and mean token length (stub/fragment screen) — and the fused score is
    the mean of its three ranks. Rank fusion beats z-score averaging on
    heavy-tailed signals because ranks are scale-free and outlier-robust.

    Plan shape: ONE tokenize pass computes all three signals (the
    curate_corpus lesson); three row_number windows all PARTITIONED by
    the group key (parallel across groups); ranks are integers so the
    fused mean is exact before its one 6dp round. A group-partitioned
    window still moves each GROUP through one task — at 100 TB a
    dominant language funnels its whole row set through one executor
    sort (the ccnet_buckets finding) — so `scalable=True` swaps every
    window for `relational.grouped_ranks` (range-partitioned two-level
    per-group rank: window partitions are task-sized by construction),
    which is EXACT, not approximate — pinned identical output in
    pytest. The declared `quality_ensemble` query ships the scalable
    plan (VERDICT r10 #1: no declared plan funnels a dominant language
    through one task).
    Output: (id, group, n_tokens, ttr_r, mean_len_r, r_tokens, r_ttr,
    r_len, fused_rank_r) — lower fused rank = higher ensemble
    quality."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    t = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        t.alias("_t"),
    ).select(
        F.col(id_col),
        "grp",
        F.size("_t").cast("bigint").alias("n_tokens"),
        F.when(F.size("_t") > 0, F.size(F.array_distinct("_t")) / F.size("_t"))
        .otherwise(F.lit(0.0))
        .alias("_ttr"),
        F.when(
            F.size("_t") > 0,
            F.aggregate(
                F.col("_t"), F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
            )
            / F.size("_t"),
        )
        .otherwise(F.lit(0.0))
        .alias("_mlen"),
    )

    if scalable:
        from .relational import grouped_ranks

        base = materialize(base)
        ranked = base
        for col, out in (
            ("n_tokens", "r_tokens"), ("_ttr", "r_ttr"), ("_mlen", "r_len")
        ):
            rk = grouped_ranks(
                base.select(id_col, "grp", col),
                "grp",
                [F.desc(col), F.asc(id_col)],
                out=out,
            ).select(id_col, out)
            ranked = ranked.join(rk, id_col)
        return ranked.select(
            F.col(id_col),
            F.col("grp").alias(group_col),
            "n_tokens",
            F.round("_ttr", 6).alias("ttr_r"),
            F.round("_mlen", 6).alias("mean_len_r"),
            "r_tokens",
            "r_ttr",
            "r_len",
        ).withColumn(
            "fused_rank_r",
            F.round((F.col("r_tokens") + F.col("r_ttr") + F.col("r_len")) / 3.0, 6),
        )

    def rank(col):
        return F.row_number().over(
            Window.partitionBy("grp").orderBy(F.desc(col), F.asc(id_col))
        )

    return base.select(
        F.col(id_col),
        F.col("grp").alias(group_col),
        "n_tokens",
        F.round("_ttr", 6).alias("ttr_r"),
        F.round("_mlen", 6).alias("mean_len_r"),
        rank("n_tokens").cast("bigint").alias("r_tokens"),
        rank("_ttr").cast("bigint").alias("r_ttr"),
        rank("_mlen").cast("bigint").alias("r_len"),
    ).withColumn(
        "fused_rank_r",
        F.round((F.col("r_tokens") + F.col("r_ttr") + F.col("r_len")) / 3.0, 6),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_k: int = 100,
) -> DataFrame:
    """Zipf-law fit over the corpus token frequency spectrum: OLS of
    ln(freq) on ln(rank) for the top_k terms — slope ≈ −1 is healthy
    natural text; a flat slope flags template/boilerplate corpora and a
    cliff flags tokenizer damage. The one-row corpus diagnostic every
    curation dashboard wants next to doc_entropy's per-doc view.

    Scale shape: the frequency table is one partial-aggregated groupBy;
    ranking rides skew_report's UNCONDITIONALLY bounded top-k (per-
    partition WindowGroupLimit prefilter — no single-task sort even over
    a billion-term vocabulary); the regression folds over ONE
    rank-sorted top_k-element array (bounded by the knob), left-to-right
    — the deterministic-summation-order trick from the BPE/PCA oracles.
    Output: (n_terms, slope_r, intercept_r, r2_r)."""
    from .relational import skew_report
    from ..functions.text import tokens

    tok = df.select(F.explode(tokens(F.col(text_col))).alias("t"))
    ranked = skew_report(tok, "t", top_k=top_k).select(
        "rank", F.log("rank").alias("x"), F.log("cnt").alias("y")
    )
    arr = ranked.agg(
        F.array_sort(F.collect_list(F.struct("rank", "x", "y"))).alias("_a")
    )
    zero = F.struct(
        F.lit(0.0).alias("n"), F.lit(0.0).alias("sx"), F.lit(0.0).alias("sy"),
        F.lit(0.0).alias("sxx"), F.lit(0.0).alias("syy"), F.lit(0.0).alias("sxy"),
    )
    sums = F.aggregate(
        F.col("_a"),
        zero,
        lambda a, e: F.struct(
            (a["n"] + 1).alias("n"),
            (a["sx"] + e["x"]).alias("sx"),
            (a["sy"] + e["y"]).alias("sy"),
            (a["sxx"] + e["x"] * e["x"]).alias("sxx"),
            (a["syy"] + e["y"] * e["y"]).alias("syy"),
            (a["sxy"] + e["x"] * e["y"]).alias("sxy"),
        ),
    )
    n, sx, sy = sums["n"], sums["sx"], sums["sy"]
    sxx, syy, sxy = sums["sxx"], sums["syy"], sums["sxy"]
    cov, varx = n * sxy - sx * sy, n * sxx - sx * sx
    vary = n * syy - sy * sy
    # degenerate spectra (< 2 terms, or zero rank/count variance) fit
    # nothing: NULL, not an ANSI divide-by-zero (empty-fixture sweep)
    ok = (n >= 2) & (varx != 0)
    slope = F.when(ok, cov / varx)
    return arr.select(
        n.cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("slope_r"),
        F.round(F.when(ok, (sy - slope * sx) / n), 6).alias("intercept_r"),
        F.round(
            F.when(ok & (vary != 0), (cov * cov) / (varx * vary)), 6
        ).alias("r2_r"),
    )


def doremi_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    domain_col: str,
    eta: float = 1.0,
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023,
    arXiv:2305.10429, the proxy-loss form): domains whose texts the
    corpus-fit LM finds HARDER than the corpus average get upweighted —
    excess loss marks under-represented/under-learned domains, the
    opposite dial from temperature_mix's pure count-based smoothing.
    Loss proxy is the add-0.5 bigram surprisal (the doc_surprisal /
    ccnet_buckets family); excess_s = max(0, avg_s − corpus_avg);
    weight_s ∝ exp(eta · excess_s), softmax-normalized over domains.

    Determinism: per-doc surprisals are 6dp-rounded, per-domain sums run
    over DECIMAL(18,6) (exact, order-independent — the attribution
    precedent), and only the final per-domain ratios round to 6dp; the
    softmax denominator sums one value per DOMAIN (domain count is a
    data invariant, broadcast back as a single-row aggregate).
    Output: (domain, n_docs, avg_surprisal_r, excess_r, weight_r)."""
    sur = bigram_surprisal(df, text_col, id_col)
    per = (
        df.select(F.col(id_col), F.col(domain_col).alias("domain"))
        .join(sur, id_col)
        .select("domain", F.col("surprisal").cast("decimal(18,6)").alias("_s"))
    )
    # one row per DOMAIN: checkpoint so the three downstream consumers
    # (total, excess, softmax denominator) reuse it instead of re-running
    # the surprisal model fit per branch (plan audit: 124 → ~30 exchanges)
    dom = materialize(per.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_s").alias("_sum"),
    ))
    tot = dom.agg(
        F.sum("_sum").alias("_tsum"), F.sum("n_docs").alias("_tn")
    )
    scored = dom.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        (F.col("_sum").cast("double") / F.col("n_docs")).alias("_avg"),
        (F.col("_tsum").cast("double") / F.col("_tn")).alias("_base"),
    ).select(
        "domain",
        "n_docs",
        "_avg",
        F.greatest(F.lit(0.0), F.col("_avg") - F.col("_base")).alias("_ex"),
    )
    denom = scored.agg(
        F.sum(F.exp(F.lit(float(eta)) * F.col("_ex"))).alias("_z")
    )
    return scored.crossJoin(F.broadcast(denom)).select(
        "domain",
        "n_docs",
        F.round("_avg", 6).alias("avg_surprisal_r"),
        F.round("_ex", 6).alias("excess_r"),
        F.round(F.exp(F.lit(float(eta)) * F.col("_ex")) / F.col("_z"), 6).alias(
            "weight_r"
        ),
    )


def bpe_apply(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]] | None = None,
    n_merges: int = 8,
) -> DataFrame:
    """Apply learned BPE merge rules to ENCODE the corpus — the other
    half of the tokenizer loop (`bpe_train` induces the rules; every
    training pipeline then encodes 100 TB with them). Sennrich-style
    apply: each merge rule replays over the vocabulary in learned order
    with the SAME greedy left-to-right fold training used, so
    train→apply round-trips exactly.

    Vocab-level like training (the 100 TB trick): rules apply to the
    DISTINCT-word table (|vocab| rows, localCheckpointed per rule so
    plan depth stays linear), and per-doc token counts come from one
    equi-join of the doc→word explode onto the encoded vocab — the
    corpus is scanned once, the fold never touches corpus-scale rows.
    `merges=None` trains the rules in place via bpe_train (driver holds
    n_merges pairs — bounded). All emitted sums are integers; the
    chars-per-BPE-token compression ratio is one division rounded 6dp.
    Output: (id, n_words, n_chars, n_bpe_tokens, compression_r) for
    docs with ≥ 1 alnum word."""
    trained_vocab = None
    if merges is None:
        # train in place AND keep the trained fold state: the trainer's
        # vocab after all n_merges folds IS the encoded vocab this apply
        # pass needs (same word source: explode(tokens) + the rlike gate,
        # deduped; same folds in the same order), so reusing it skips a
        # second vocab build plus n_merges replay folds — the fold work
        # runs once, not twice (r11, guide §1.2)
        rules, trained_vocab = _bpe_train_full(
            df, text_col, n_merges, need_vocab=True
        )
        merges = [(a, b) for _, a, b, _ in rules]
    else:
        # merge symbols are inlined into an F.expr fold below; bpe_train
        # guarantees ^[a-z0-9]+$ but a CALLER-supplied list must be
        # validated before literal interpolation (ADVICE r10 — a quote
        # or SQL metacharacter would break or inject the expression; the
        # hard_negatives_scoped assign-dial validation precedent)
        bad = [
            p
            for p in merges
            for s in p
            if not isinstance(s, str) or not re.fullmatch(r"[a-z0-9]+", s)
        ]
        if bad:
            raise ValueError(
                f"bpe_apply: merge symbols must match ^[a-z0-9]+$ "
                f"(got {sorted(set(bad))[:3]}) — rules from bpe_train "
                f"satisfy this by construction"
            )
    docw = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word")
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    if trained_vocab is not None:
        vocab = trained_vocab.select("word", "syms")
    else:
        vocab = materialize(
            docw.select("word").distinct().select("word", F.split("word", "").alias("syms"))
        )
        for a, b in merges:
            vocab = materialize(vocab.select("word", F.expr(_bpe_fold_sql(a, b)).alias("syms")))
    enc = vocab.select(
        "word",
        F.length("word").cast("bigint").alias("_nc"),
        F.size("syms").cast("bigint").alias("_nb"),
    )
    return (
        docw.join(enc, "word")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("_nc").cast("bigint").alias("n_chars"),
            F.sum("_nb").cast("bigint").alias("n_bpe_tokens"),
        )
        .withColumn(
            "compression_r",
            F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 6),
        )
    )


def sft_spans(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    assistant_types: tuple[str, ...] = ("purchase", "signup"),
    sep: str = "\n",
) -> DataFrame:
    """Loss-mask SPAN computation for SFT chat assembly — the masking
    prep every supervised-fine-tuning pipeline runs: turns assemble into
    one training document per conversation, but the loss applies ONLY to
    assistant turns, so the packer must emit each assistant turn's exact
    [start, end) character offsets in the ASSEMBLED text. Done wrong
    (re-tokenize and search) it's quadratic and fragile; done here the
    offsets fall out of one cumulative length sum.

    Relational shape: per conversation, order turns by (ts, tiebreak);
    each turn's segment is 'role: type'; start = the window cumsum of
    prior segment lengths (+1 per separator), end = start + len(seg) —
    ONE window partitioned by the conversation key (turn count per
    conversation is a data invariant), zero folds, zero UDFs, and the
    span math is integer-exact on both engines. Output per conversation:
    (key, n_turns, n_assistant, text_len, spans_cat 'start:end|…' in
    turn order). The role mapping is a config dial; the offset machinery
    is the product."""
    from pyspark.sql import Window

    role = F.when(
        F.col(type_col).isin(*assistant_types), F.lit("assistant")
    ).otherwise(F.lit("user"))
    seg_len = F.length(F.concat(role, F.lit(": "), F.col(type_col)))
    w = Window.partitionBy("_k").orderBy(F.asc("_ts"), F.asc("_tb"))
    cum = Window.partitionBy("_k").orderBy(F.asc("_ts"), F.asc("_tb")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    turns = events.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_tb"),
        role.alias("_role"),
        seg_len.cast("bigint").alias("_len"),
    ).select(
        "_k", "_ts", "_tb", "_role", "_len",
        (
            F.coalesce(F.sum(F.col("_len") + len(sep)).over(cum), F.lit(0))
        ).alias("_start"),
        F.row_number().over(w).alias("_rn"),
    )
    spans = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_role") == "assistant",
                        F.struct(
                            F.col("_rn"),
                            F.concat_ws(
                                ":",
                                F.col("_start"),
                                F.col("_start") + F.col("_len"),
                            ).alias("s"),
                        ),
                    )
                )
            ),
            lambda e: e["s"],
        ),
        "|",
    )
    return turns.groupBy(F.col("_k").alias(key_col)).agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.sum(F.when(F.col("_role") == "assistant", 1).otherwise(0))
        .cast("bigint")
        .alias("n_assistant"),
        (F.sum("_len") + (F.count("*") - 1) * len(sep))
        .cast("bigint")
        .alias("text_len"),
        spans.alias("spans_cat"),
    )


def tokenizer_fertility(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    n_merges: int = 8,
) -> DataFrame:
    """Per-LANGUAGE tokenizer fertility report — the eval every
    multilingual tokenizer ships with (fertility = BPE tokens per word;
    a tokenizer trained on a corpus-dominant language fragments the
    others, silently taxing their context budget and training FLOPs):
    train `n_merges` BPE rules on the corpus (bpe_train), encode it
    (bpe_apply's vocab-level replay — the corpus is scanned once, the
    fold runs on the DISTINCT-word table), then aggregate per language:
    doc count, word/char/token sums, fertility, and chars-per-token
    compression.

    Scale shape: everything corpus-scale is bpe_apply's one doc→word
    equi-join + per-doc integer sums; this adds ONE slim join of those
    per-doc rows onto (id, lang) and ONE partial-aggregated groupBy on
    the language key (languages are a data invariant). Sums are
    integers — exact in any order; the two ratios divide once per
    GROUP and round 6dp (never summed post-division, the isotropy
    rule). Output: (lang, n_docs, n_words, n_bpe_tokens, fertility_r,
    compression_r) — fertility_r is the headline number, lower is
    better, 1.0 = every word survives as one token."""
    enc = bpe_apply(df, text_col, id_col, n_merges=n_merges)
    return (
        enc.join(df.select(F.col(id_col), F.col(lang_col).alias("lang")), id_col)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_bpe_tokens") / F.sum("n_words").cast("double"), 6
            ).alias("fertility_r"),
            F.round(
                F.sum("n_chars") / F.sum("n_bpe_tokens").cast("double"), 6
            ).alias("compression_r"),
        )
    )


def curriculum_order(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    n_shards: int = 4,
) -> DataFrame:
    """Curriculum SHARD assignment (Bengio et al. 2009 curriculum
    learning, as data prep: train on easy documents first, ramp to hard
    — the practical knob is pre-sharding the corpus so the loader walks
    shard 1..k in order): difficulty here is token count (length
    curriculum — the standard text proxy: short docs are easier and
    cheaper), ranked WITHIN each source so every shard preserves the
    corpus' source mix instead of front-loading whichever source skews
    short.

    Scale shape: this is a per-group ntile over the raw corpus — the
    exact shape the ccnet_buckets verdict flagged — so it is built
    scalable-ONLY: `relational.grouped_ranks` (range-partitioned
    two-level rank, task-sized window partitions by construction) plus
    the closed-form ntile shard = ((rank−1)·k)//n + 1 (reproduces SQL
    ntile's ceil-sized leading buckets exactly — the pinned ppl_buckets
    identity). One slim broadcast of per-group counts; no group-sized
    window exists at any size. Output: (id, group, n_tokens, shard),
    shard ∈ [1, n_shards], walk shards in order to ramp difficulty."""
    from ..functions.text import token_count

    from .relational import grouped_ranks

    base = materialize(df.select(
        F.col(id_col),
        F.col(group_col).alias("_g"),
        token_count(F.col(text_col)).alias("n_tokens"),
    ))
    ranked = grouped_ranks(
        base, "_g", [F.asc("n_tokens"), F.asc(id_col)], out="_rk"
    )
    counts = base.groupBy(F.col("_g").alias("_gc")).agg(F.count("*").alias("_n"))
    shard = (
        ((F.col("_rk") - 1) * n_shards / F.col("_n")).cast("int") + 1
    ).cast("bigint")
    return (
        ranked.join(F.broadcast(counts), F.col("_g").eqNullSafe(F.col("_gc")))
        .select(
            F.col(id_col),
            F.col("_g").alias(group_col),
            "n_tokens",
            shard.alias("shard"),
        )
    )


def domain_mix_plan(
    df: DataFrame,
    text_col: str,
    group_col: str,
    budget_factor: float = 2.0,
    tau: float = 0.5,
) -> DataFrame:
    """Per-domain data-mixing EPOCH PLAN (the budgeting step between
    doremi_weights/temperature weights and an actual training run —
    Muennighoff et al. 2023 showed repeating data up to ~4 epochs is
    near-free, so the planner's job is: given a token budget and target
    weights, how many EPOCHS of each domain does the mix imply, and
    which domains run out): per domain s with available tokens A_s,
    temperature weight w_s = A_s^tau / Σ A_s^tau (tau=1 proportional,
    tau→0 uniform — the mT5 convention), target tokens T_s = w_s · B
    with B = budget_factor · Σ A_s, and epochs_r = T_s / A_s — the
    repetition factor the loader applies (> ~4 = the diminishing-return
    red zone to rebalance away).

    Scale shape: ONE partial-aggregated groupBy on the domain key
    (domains are a data invariant) then scalar broadcast arithmetic —
    the whole plan after the token count is domain-cardinality-sized.
    Integer token sums (exact in any order); weights/epochs round 6dp.
    Output: (group, avail_tokens, weight_r, target_tokens, epochs_r),
    one row per domain."""
    from ..functions.text import token_count

    avail = (
        df.select(F.col(group_col).alias("grp"), token_count(F.col(text_col)).alias("_nt"))
        .groupBy("grp")
        .agg(F.sum("_nt").cast("bigint").alias("avail_tokens"))
    )
    tot = avail.agg(
        F.sum(F.pow(F.col("avail_tokens").cast("double"), F.lit(float(tau)))).alias("_wsum"),
        F.sum("avail_tokens").cast("double").alias("_tsum"),
    )
    # ANSI guards: a domain of empty-text docs has 0 tokens (0/0 throws)
    w = F.when(
        F.col("_wsum") > 0,
        F.pow(F.col("avail_tokens").cast("double"), F.lit(float(tau)))
        / F.col("_wsum"),
    )
    target = w * F.lit(float(budget_factor)) * F.col("_tsum")
    return (
        avail.crossJoin(F.broadcast(tot))
        .select(
            F.col("grp").alias(group_col),
            "avail_tokens",
            F.round(w, 6).alias("weight_r"),
            F.floor(target).cast("bigint").alias("target_tokens"),
            F.when(
                F.col("avail_tokens") > 0,
                F.round(target / F.col("avail_tokens"), 6),
            ).alias("epochs_r"),
        )
    )
