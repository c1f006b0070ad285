"""Capture .explain('formatted') output for declared queries into
plans/r{NN}/<query>_<tag>.txt — the judge-readable evidence for plan-shape
claims in OPTIMIZATION_r{NN}.md.

Usage: python tools/plan_capture.py <tag> [query ...]
  tag    = 'before' | 'after' (file suffix)
  query  = registry names; default is the TARGETS list below.

Also prints a one-line plan summary per query (#Exchange, join strategies,
Python-eval nodes) so before/after diffs are quick to eyeball.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from team_126_spark.queries import REGISTRY  # noqa: E402
from team_126_spark.session import get_spark  # noqa: E402

ROUND = int(os.environ.get("SPARK_GRAFT_ROUND", "11"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Default capture set: the bench-expensive rows this round targets.
TARGETS = [
    "bootstrap_ci",
    "pagerank_topk",
    "semdedup_index_probe",
    "label_propagation",
    "minhash_index_probe",
    "quality_distill_score",
    "influence_select",
    "shortest_paths",
    "tokenizer_bpe_apply",
    "dedup_select",
    "lsh_blocking_eval",
    "semdedup_select",
]


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def summarize(txt: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", txt))
    joins = sorted(set(re.findall(r"(\w+Join\w*)", txt)))
    pyev = sorted(set(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas)", txt)))
    return f"Exchange={n_ex} joins={joins} python={pyev}"


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or TARGETS
    out_dir = os.path.join(ROOT, "plans", f"r{ROUND}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan_capture")
    for name in names:
        df = REGISTRY[name].fn(spark, SF_DIR)
        txt = plan_text(df)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"{name:28s} {summarize(txt)}  -> {path}")


if __name__ == "__main__":
    main()
