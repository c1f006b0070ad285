"""Physical-plan audit over the whole declared-query registry.

For every query, renders the formatted physical plan at a small SF and
extracts the scale-relevant signals:

  - n_exchanges: shuffle count (lower given equal semantics = better)
  - cartesian:   CartesianProduct / BroadcastNestedLoopJoin present
                 (only legitimate for single-row probe broadcasts)
  - pushed:      parquet PushedFilters non-empty
  - broadcast:   BroadcastHashJoin present
  - codegen:     WholeStageCodegen span count

Prints one JSON line; `python tools/plan_audit.py [sf_dir]`. Used to spot
plan regressions that value-level checks cannot see (a query that silently
degrades to a cross join still returns the right rows at sf0.01).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from team_126_spark.queries import REGISTRY  # noqa: E402
from team_126_spark.session import get_spark  # noqa: E402
from tools.plan_capture import plan_text  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit")
    out: dict[str, dict] = {}
    for name, q in REGISTRY.items():
        try:
            plan = plan_text(q.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            out[name] = {"error": str(e).splitlines()[0][:120]}
            continue
        out[name] = {
            "n_exchanges": plan.count("Exchange"),
            "cartesian": ("CartesianProduct" in plan)
            or ("BroadcastNestedLoopJoin" in plan),
            "pushed": "PushedFilters: [" in plan
            and "PushedFilters: []" not in plan,
            "broadcast": "BroadcastHashJoin" in plan,
            "codegen": plan.count("WholeStageCodegen"),
        }
    n_cart = sorted(n for n, v in out.items() if v.get("cartesian"))
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_queries": len(out),
                "cartesian_queries": n_cart,
                "errors": {n: v["error"] for n, v in out.items() if "error" in v},
                "queries": out,
            }
        )
    )


if __name__ == "__main__":
    main()
