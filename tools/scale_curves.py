"""Reproduce SCALING.md's measured scale curves (r4).

Generates deterministic corpora with the synthdocs / synthvecs Python
DataSources, materializes them to parquet (so the curves time OPERATORS,
not Python row generation), then times the headline dedup/ANN/iterative
ops at two sizes and prints per-op seconds plus the size-ratio exponent.

Usage:
    python tools/scale_curves.py [small_rows] [big_rows]   # default 100000 400000

Each op is timed by bench.measure (noop sink, median of 3; SCALING.md's
older curves were min-of-2). Box load matters: the script prints
os.getloadavg() so a contended run is identifiable.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import measure, sink  # noqa: E402
from team_126_spark.operators import dedup as D  # noqa: E402
from team_126_spark.operators import textops as TO  # noqa: E402
from team_126_spark.operators import vector as OV  # noqa: E402
from team_126_spark.session import get_spark  # noqa: E402
from team_126_spark.sources.synth import register, register_vecs  # noqa: E402


def _materialize(spark, fmt, rows, parts, path, **opts):
    if not os.path.isdir(path):
        (
            spark.read.format(fmt)
            .options(rows=str(rows), partitions=str(parts), seed="7", **opts)
            .load()
            .write.mode("overwrite")
            .parquet(path)
        )
    return spark.read.parquet(path)


def main() -> None:
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    big = int(sys.argv[2]) if len(sys.argv) > 2 else 400_000
    spark = get_spark("scale-curves")
    register(spark)
    register_vecs(spark)
    tmp = os.path.join(os.environ.get("TMPDIR", "/tmp"), "team126_scale")

    docs = {
        n: _materialize(spark, "synthdocs", n, max(32, n // 8000), f"{tmp}/docs_{n}")
        for n in (small, big)
    }
    vecs = {
        n: _materialize(spark, "synthvecs", n, max(32, n // 8000), f"{tmp}/vecs_{n}", dim="64")
        for n in (small, big)
    }
    probe = [float(x) for x in vecs[small].first()["embedding"]]

    doc_ops = {
        "exact_dedup": lambda df: D.exact_dedup(df, "text", "doc_id"),
        "segment_dedup": lambda df: TO.segment_dedup(df, "text", "doc_id", seg_tokens=8),
        "boilerplate_report": lambda df: TO.boilerplate_report(df, "text", "doc_id", seg_tokens=8),
        "simhash": lambda df: D.simhash64(df, "text", "doc_id"),
        "minhash_lsh_pairs": lambda df: D.minhash_lsh_pairs(
            df, "text", "doc_id", k=3, bands=16, threshold=0.3
        ),
        "bpe_pair_counts": lambda df: TO.bpe_pair_counts(df, "text", top_n=50),
        "ngram_diversity": lambda df: TO.ngram_diversity(df, "text", "source", max_n=3),
    }
    vec_ops = {
        "knn_brute": lambda df: OV.knn(df, "embedding", probe, 10, "vec_id"),
        "ann_lsh": lambda df: OV.lsh_bucket_ann(df, "embedding", probe, 10, "vec_id", dim=64),
        "ann_ivf": lambda df: OV.ivf_ann(df, "embedding", probe, 10, "vec_id"),
        "ann_quantized": lambda df: OV.quantized_knn(df, "embedding", "vec_id", probe, 10),
        "kmeans_lloyd": lambda df: OV.kmeans_lloyd(df, "embedding", "vec_id", k=8, iters=5),
        "cosine_calibration": lambda df: OV.cosine_calibration(
            df, "embedding", "vec_id", n_buckets=64
        ),
    }

    print(f"load_avg={tuple(round(x, 2) for x in os.getloadavg())}")
    ratio = big / small
    for tables, ops in ((docs, doc_ops), (vecs, vec_ops)):
        # warm codegen on a slice
        for f in ops.values():
            sink(f(tables[small].limit(3000)))
        for name, f in ops.items():
            a = measure(spark, lambda: f(tables[small]))["median"]
            b = measure(spark, lambda: f(tables[big]))["median"]
            exp = math.log(b / a) / math.log(ratio) if a > 0 else float("nan")
            print(
                f"{name:20s} {small}: {a:7.2f}s   {big}: {b:7.2f}s   "
                f"x{b / a:5.2f} (scaling exponent {exp:4.2f})",
                flush=True,
            )


if __name__ == "__main__":
    main()
