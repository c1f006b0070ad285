"""Composed dedup-chain throughput with per-stage timings (SCALING.md's
"composed pipeline" row, reproducible): exact dedup → MinHash-LSH pairs →
connected components → canonical selection → leakage-safe split →
sequence packing, over the synthdocs corpus.

The r4 number (43.5 s at 400k docs, 32 s in "LSH signatures+banding") was
an ad-hoc measurement; this script is its committed form, so any future
signature-path optimization has a stable before/after harness
(VERDICT r4 "Next round" #5).

Usage: python tools/composed_chain.py [n_docs]   # default 400000
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import sink  # noqa: E402
from team_126_spark.metrics import materialize  # noqa: E402
from team_126_spark.operators import dedup as D  # noqa: E402
from team_126_spark.operators import textops as TO  # noqa: E402
from team_126_spark.session import get_spark  # noqa: E402
from team_126_spark.sources.synth import register  # noqa: E402
from tools.scale_curves import _materialize  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    spark = get_spark("composed-chain")
    register(spark)
    tmp = os.path.join(os.environ.get("TMPDIR", "/tmp"), "team126_scale")
    docs = _materialize(spark, "synthdocs", n, max(32, n // 8000), f"{tmp}/docs_{n}")
    print(f"load_avg={tuple(round(x, 2) for x in os.getloadavg())} n={n}")

    stages: list[tuple[str, float]] = []

    def timed(label, thunk):
        t0 = time.time()
        out = thunk()
        dt = time.time() - t0
        stages.append((label, dt))
        print(f"  {label:28s} {dt:6.1f}s", flush=True)
        return out

    t_all = time.time()
    # 1. exact dedup → canonical survivors (materialized: every later stage
    #    scans the deduped corpus, not the raw one)
    groups = D.exact_dedup(docs, "text", "doc_id")
    canon = docs.join(
        groups.select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi"
    )
    canon = timed("exact_dedup+materialize", lambda: materialize(canon))

    # 2a. signatures alone (the r4 bottleneck claim: 32 s of 43.5 s)
    sigs = timed(
        "minhash_signatures",
        lambda: materialize(
            D.minhash_signatures(canon, "text", "doc_id", 3).filter(F.col("signature").isNotNull())
        ),
    )
    # 2b. banding + candidate join + estimate verify, reusing the signatures
    pairs = D.lsh_pairs_from_signatures(sigs, 16, 0.5).select("id_a", "id_b")
    pairs = timed("banding+pairs", lambda: materialize(pairs))

    # 3. components + canonical select
    comps = timed(
        "components", lambda: materialize(D.dedup_components(pairs))
    )
    quality = TO.quality_score(canon, "text", "doc_id").select("doc_id", "quality")
    labeled = quality.join(comps, quality["doc_id"] == comps["id"], "left").select(
        quality["doc_id"],
        F.coalesce(comps["cluster_id"], quality["doc_id"]).alias("cluster_id"),
        quality["quality"],
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    keep = labeled.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    ).select("doc_id", "cluster_id")
    keep = timed("select", lambda: materialize(keep))

    # 4. model-based curation (round 8): quality-distill gate, then DSIR
    #    importance resampling toward the src0 target domain — the two
    #    content-selection stages a modern curation stack runs between
    #    dedup and split/pack
    survivors = canon.join(keep.select("doc_id"), "doc_id", "left_semi")

    def _distill_gate():
        # quality_distill trains eagerly (per-round GD checkpoints), so the
        # whole train+score+gate cost must sit inside this timed block.
        # train_pct=10: at corpus scale the teacher labels a SAMPLE and the
        # student scores everything — training on 80% of 400k docs is the
        # fixture-sized default, not the production shape (and the GD
        # rounds' shuffles scale with the train split: measured 70 -> 41 s
        # here with identical gate semantics; the remaining cost is the
        # corpus-wide feature build + scoring pass, which any student pays)
        scored = TO.quality_distill(survivors, "text", "doc_id", train_pct=10)
        gate_ids = scored.filter(F.col("p_keep") >= 0.5).select("doc_id")
        return materialize(survivors.join(gate_ids, "doc_id", "left_semi"))

    gated = timed("distill_gate", _distill_gate)
    n_gated = gated.count()
    print(f"    gate kept {n_gated:,} docs", flush=True)
    ratios = TO.dsir_bucket_ratios(
        gated, "text", "doc_id", is_target=F.col("source") == "src0"
    )
    wts = TO.dsir_score(
        gated.filter(F.col("source") != "src0"), "text", "doc_id", ratios
    ).select(
        "doc_id",
        F.round(
            F.exp(F.col("dsir_logw") / F.greatest(F.col("n_bigrams"), F.lit(1)) / 0.1), 6
        ).alias("wt"),
    )
    from team_126_spark.operators.relational import weighted_resample

    resampled = weighted_resample(wts, "wt", "doc_id")
    resampled = timed("dsir_resample", lambda: materialize(resampled))
    print(f"    resample emitted {resampled.count():,} rows", flush=True)

    # 5. leakage-safe split + packing over the CURATED corpus: target-domain
    #    (src0) docs pass through once, every other doc appears with the
    #    multiplicity DSIR resampling assigned it (copies get a unique
    #    pack id so the packer treats each as its own sequence) — the
    #    resample stage feeds downstream instead of being a side branch
    #    (ADVICE r8)
    pack_id = F.concat_ws(
        "#", F.col("doc_id").cast("string"), F.col("copy_idx").cast("string")
    ).alias("pack_id")
    curated = (
        gated.filter(F.col("source") == "src0")
        .withColumn("copy_idx", F.lit(0))
        .select(pack_id, "doc_id", "text")
        .unionByName(
            resampled.select("doc_id", "copy_idx")
            .join(gated, "doc_id")
            .select(pack_id, "doc_id", "text")
        )
    )
    split = TO.hash_split(keep, "cluster_id")
    kept_docs = curated.join(split.select("doc_id", "split"), "doc_id")
    packed = TO.pack_sequences(
        kept_docs.filter(F.col("split") == "train"), "text", "pack_id", budget=512
    )
    timed("split+pack", lambda: sink(packed))

    total = time.time() - t_all
    core = sum(dt for label, dt in stages if label not in ("distill_gate", "dsir_resample"))
    print(f"TOTAL {total:.1f}s  ({n / total:,.0f} docs/s)  "
          f"[r4-comparable core {core:.1f}s]")


if __name__ == "__main__":
    main()
