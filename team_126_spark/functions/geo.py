"""Geo kernels as pure column expressions — no UDFs, fully codegen-able.

Parity targets in the reference:
  - haversine km, R=6371        (reference: backend/hybrid_search.py:13-33)
  - haversine miles, R=3959     (reference: backend/tools/dataset_search.py:14-29)
  - km→miles factor 0.621371    (reference: backend/hybrid_search.py:122)

Each kernel has a SQL twin (`*_sql`) that renders the structurally identical
arithmetic for the DuckDB oracle, so Spark and oracle evaluate the same
floating-point expression tree.

Scale note: a haversine predicate alone forces a full cross product in a
join. `geohash_cell` provides a deterministic integer grid cell so radius
joins become equi-joins on cell (plus neighbor cells) before the exact
haversine refine — see operators/geo.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0  # reference uses R=6371 exactly
EARTH_RADIUS_MILES = 3959.0  # reference's second variant
KM_TO_MILES = 0.621371


def haversine(lat1: Column, lon1: Column, lat2: Column, lon2: Column, radius: float = EARTH_RADIUS_KM) -> Column:
    """Great-circle distance between two (lat, lon) pairs in degrees."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon / 2), 2)
    )
    return F.lit(2.0 * radius) * F.asin(F.sqrt(a))


def haversine_km(lat1, lon1, lat2, lon2) -> Column:
    return haversine(lat1, lon1, lat2, lon2, EARTH_RADIUS_KM)


def haversine_miles(lat1, lon1, lat2, lon2) -> Column:
    return haversine(lat1, lon1, lat2, lon2, EARTH_RADIUS_MILES)


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str, radius: float = EARTH_RADIUS_KM) -> str:
    """Same expression tree as `haversine`, rendered for the DuckDB oracle."""
    return (
        f"(2.0 * {radius}) * asin(sqrt("
        f"pow(sin(radians({lat2} - {lat1}) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians({lon2} - {lon1}) / 2), 2)))"
    )


def km_to_miles(km: Column) -> Column:
    return km * F.lit(KM_TO_MILES)


def geohash_cell(lat: Column, lon: Column, cell_deg: float) -> Column:
    """Integer grid cell id for a (lat, lon) at `cell_deg` resolution.

    Equi-join key for radius joins: a radius r km fits within one cell ring
    when cell_deg >= r / 111.0 (1 degree latitude ≈ 111 km). Encoded as a
    single long so it shuffles cheaply: cell = floor((lat+90)/d) * 4096 +
    floor((lon+180)/d) would collide across rows of the grid if the world
    were wider than 4096 cells; use a 1e6 multiplier for safety.
    """
    return (F.floor((lat + 90.0) / cell_deg) * F.lit(1_000_000) + F.floor((lon + 180.0) / cell_deg)).cast("long")

