"""Empirical scaling probe: run headline queries at sf0.1 and at a 10×
replicated copy (~sf1) and report the time ratio per query.

A plan that is linear in input should show a ratio near the data ratio
(modulo fixed overheads); a quadratic candidate explosion or a
driver-side bottleneck shows up as a much larger ratio.

Interpretation caveats: replicating n× into the SAME geographic area
multiplies spatial density, so radius-join candidate pairs grow n² by
construction — geo_knn_join's ratio measures pairs processed per
second, not rows scanned (a ratio well under n² is the win). The
text/embedding perturbations below exist for the same reason: without
them every row gains n-1 near-duplicates and the dedup queries'
OUTPUT grows n², which benchmarks the data, not the engine. The 10× copy
keeps key distributions and join fan-outs honest: every key k becomes
k*10+copy, so FK joins match only within a copy (result = 10× original),
and document texts get a per-copy suffix token so the corpus is not a
pile of exact duplicates (which would stress-test LSH bucket skew
instead of throughput).

Each side is timed by bench.measure (noop sink, median of 3); query
names resolve through bench.resolve (REGISTRY plus EXTRA_BENCH twins).

Usage: python tools/scale_probe.py [n_copies] [query ...]
Writes nothing outside /tmp; prints one JSON line.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import measure, resolve  # noqa: E402
from team_126_spark.session import get_spark  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# key columns to remap per table (key -> key*n + copy keeps uniqueness,
# distribution shape, and per-copy FK consistency)
KEYS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}
# dimension-like tables stay at 1 copy (broadcast sides; replicating them
# would change join semantics, not throughput)
SINGLE_COPY = {"region", "nation"}

PROBE_QUERIES = [
    "agg_pricing_summary",
    "join_multi",
    "topk_per_group",
    "latest_per_group",
    "geo_knn_join_adaptive",
    "doc_exact_dedup",
    "doc_tfidf",
    "minhash_lsh_pairs",
    "simhash",
    "embedding_neardup_lsh",
    "decontaminate",
    "asof_join",
    "rolling_features",
    "vec_knn_batch",
    "corpus_curate",
    "dedup_components",
    "doc_rarity",
]


def build_scaled(spark, out_dir: str, n: int) -> None:
    from team_126_spark.tables import table

    copies = spark.range(n).withColumnRenamed("id", "_copy")
    for name, keys in KEYS.items():
        df = table(spark, BASE, name)  # handles the events nanos flavor
        if name in SINGLE_COPY:
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
            continue
        scaled = df.crossJoin(F.broadcast(copies))
        for k in keys:
            scaled = scaled.withColumn(k, F.col(k) * n + F.col("_copy"))
        if name == "documents":
            # Suffix EVERY word with the copy number: every shingle/ngram
            # differs across copies, so MinHash/SimHash see n independent
            # corpora of the original's dup-rate. A single appended token is
            # NOT enough — signatures stay near-identical across copies and
            # every document gains n-1 near-duplicates, which makes candidate
            # pairs grow ~n^2 (a property of that corpus, not of the engine).
            scaled = scaled.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(w, F.col("_copy").cast("string")),
                    ),
                    " ",
                ),
            )
        if name == "embeddings":
            # Rotate each vector by _copy positions: rotations of the same
            # vector are uncorrelated in expectation, so cosine-LSH buckets
            # don't collapse all n copies of a vector into one mega-bucket.
            d = F.size(F.col("embedding"))
            r = F.col("_copy")
            scaled = scaled.withColumn(
                "embedding",
                F.when(r == 0, F.col("embedding")).otherwise(
                    F.concat(
                        F.slice(F.col("embedding"), r + 1, d - r),
                        F.slice(F.col("embedding"), 1, r),
                    )
                ),
            )
        scaled.drop("_copy").write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 10
    names = [a for a in sys.argv[1:] if not a.isdigit()] or PROBE_QUERIES
    spark = get_spark("scale_probe")
    scaled_dir = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        build_scaled(spark, scaled_dir, n)
        out = {}
        for name in names:
            fn = resolve(name)
            t1 = measure(spark, functools.partial(fn, spark, BASE))["median"]
            tn = measure(spark, functools.partial(fn, spark, scaled_dir))["median"]
            out[name] = {"t_1x": t1, f"t_{n}x": tn, "ratio": round(tn / max(t1, 1e-9), 2)}
            print(f"  {name:24s} 1x={t1:7.3f}s {n}x={tn:7.3f}s ratio={out[name]['ratio']}", file=sys.stderr)
        print(json.dumps({"n_copies": n, "base": BASE, "queries": out}))
    finally:
        shutil.rmtree(scaled_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
