"""Run the reference's housing demo searches on the REAL reference CSVs —
the switch-over experience: same five searches search_housing.py:96-140
prints, same summary block convert_housing_to_json.py:92-103 prints,
produced by the engine's DataFrame plans instead of a driver-side Python
loop over a JSON file. Data derivation and predicates are shared with the
parity tests via team_126_spark/sources/housing.py.

Usage: python tools/reference_demo.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from team_126_spark.session import get_spark  # noqa: E402
from team_126_spark.sources import io as SIO  # noqa: E402
from team_126_spark.sources.housing import load_housing, searches  # noqa: E402

TITLES = {
    "vacant_high_density": "1.  SEARCH: Vacant high-density residential properties",
    "san_diego_50plus": "2.  SEARCH: City of San Diego properties with 50+ units",
    "commercial": "3.  SEARCH: Commercial zoning properties",
    "mixed_use": "4.  SEARCH: Mixed-use properties",
    "text_transit": "5.  SEARCH: Properties near transit (text search)",
}


def print_results(rows) -> None:
    print(f"\nFound {len(rows)} results:\n" + "=" * 80)
    for i, r in enumerate(rows, 1):
        print(f"\n{i}. {r['Jurisdiction']} - {r['ZoningSimplified']}")
        print(f"   Units: {r['units']}")
        print(f"   Status: {r['Vacancy']}")
        print(f"   Zoning: {r['Zoning']}")


def main() -> None:
    spark = get_spark("reference_demo")
    d = load_housing(spark).cache()

    print("=" * 80 + "\nHousing Elements Search Demo (engine-side)\n" + "=" * 80)
    for name, pred, _ in searches():
        print("\n\n" + TITLES[name] + "\n" + "-" * 80)
        # deterministic page: the reference takes file order; a distributed
        # scan has no file order, so page by the stable OBJECTID
        rows = (
            d.filter(pred)
            .orderBy(F.col("OBJECTID").try_cast("long").asc())
            .limit(5)
            .collect()
        )
        print_results(rows)

    s = SIO.summarize_envelope(
        d.select(
            "units",
            F.col("Vacancy").alias("vacancy_status"),
            F.col("Jurisdiction").alias("jurisdiction"),
            F.col("ZoningSimplified").alias("zoning_simplified"),
        )
    )
    print("\n\n" + "=" * 80 + "\nDataset Summary\n" + "=" * 80)
    print(f"Total Records:        {s['total_records']:,}")
    print(f"Total Units:          {s['total_units']:,}")
    print(f"Jurisdictions:        {len(s['jurisdictions'])}")
    print(f"Vacant Properties:    {s['vacancy_counts']['vacant']:,}")
    print(f"Unit Statistics:      min {s['unit_statistics']['min_units']}, "
          f"max {s['unit_statistics']['max_units']}, "
          f"avg {s['unit_statistics']['avg_units']:.2f}")


if __name__ == "__main__":
    main()
