"""Seeded inputs for the benchmark workloads.

Everything the program receives is made here from the `--seed` argument:
the same seed gives byte-identical tables and the same request stream, a
different seed gives different ones. Table shapes follow the TPC-H-ish
fixtures of TESTDATA.md; the geo columns the program derives from
keys (tables.derived_lat/_lon) are not stored, exactly as in the fixtures.

Pure numpy/pyarrow/random: no Spark, so the unit tests can check
determinism without a session.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# San Diego box of tables.derived_lat/_lon (FIXTURES.md §1).
LAT_MIN, LAT_SPAN = 32.5, 0.8
LON_MIN, LON_SPAN = -117.6, 0.9

EMB_DIM = 64
NULL_EMB_EVERY = 50  # vec_id % 50 == 49 has no embedding (the V6 path)

# sf0.1 shapes for the search tables; sf0.01 shapes for the loops tables
# (their rows are bound by job count, not by data size — see README).
SEARCH_CUSTOMERS, SEARCH_EMBEDDINGS = 15_000, 2_000
LOOPS_ORDERS, LOOPS_LINEITEMS, LOOPS_CUSTOMERS, LOOPS_SUPPLIERS = 15_000, 60_000, 1_500, 100
LOOPS_DOCUMENTS = 200  # synthdocs rows; dedup_select's DuckDB oracle grows fast with it

# Request parameters, each from the reference's search route or the
# registry row of the same shape (README "search" gives the sources):
# - hybrid: top 10 of a 3x distance over-fetch inside 30 km
#   (SURVEY.md §3.1 step 2 and §6; registry `hybrid_fusion_fast`);
# - radius: the route's enrichment query, 3 nearest within 1 km
#   (SURVEY.md §3.1 step 3);
# - knn: exact cosine top 10 (registry `vec_knn`).
KINDS = ("hybrid", "radius", "knn")
RADIUS_KM = {"hybrid": 30.0, "radius": 1.0, "knn": 0.0}
TOP_K = {"hybrid": 10, "radius": 3, "knn": 10}
HYBRID_CANDIDATE_FACTOR = 3


def _rng(seed: int, label: str) -> np.random.Generator:
    """Independent stream per (seed, table) so adding a table never shifts
    another table's values."""
    digest = hashlib.sha256(f"{seed}:{label}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "big"))


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


def embeddings_table(seed: int, n: int = SEARCH_EMBEDDINGS) -> pa.Table:
    rng = _rng(seed, "embeddings")
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n, dtype=np.int32)
    emb = [None if i % NULL_EMB_EVERY == NULL_EMB_EVERY - 1 else vecs[i].tolist() for i in range(n)]
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(emb, type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def customer_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "customer")
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
            ),
        }
    )


def _dates(rng: np.random.Generator, n: int, start: datetime, days: int) -> pa.Array:
    offs = rng.integers(0, days, n)
    return pa.array([start + timedelta(days=int(d)) for d in offs], type=pa.timestamp("us"))


def orders_table(seed: int, n: int, n_customers: int) -> pa.Table:
    rng = _rng(seed, "orders")
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_customers, n, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
            "o_orderdate": _dates(rng, n, datetime(1995, 1, 1), 2404),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
            ),
        }
    )


def lineitem_table(seed: int, n: int, n_orders: int, n_suppliers: int) -> pa.Table:
    rng = _rng(seed, "lineitem")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
            "l_partkey": rng.integers(0, 2_000, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_suppliers, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _dates(rng, n, datetime(1995, 1, 2), 2498),
        }
    )


def write_search_tables(seed: int, sf_dir: Path) -> None:
    """customer + embeddings at sf0.1 shapes."""
    _write(customer_table(seed, SEARCH_CUSTOMERS), sf_dir / "customer.parquet")
    _write(embeddings_table(seed), sf_dir / "embeddings.parquet")


def write_loops_tables(seed: int, sf_dir: Path) -> None:
    """customer/orders/lineitem at sf0.01 shapes."""
    _write(customer_table(seed, LOOPS_CUSTOMERS), sf_dir / "customer.parquet")
    _write(orders_table(seed, LOOPS_ORDERS, LOOPS_CUSTOMERS), sf_dir / "orders.parquet")
    _write(
        lineitem_table(seed, LOOPS_LINEITEMS, LOOPS_ORDERS, LOOPS_SUPPLIERS),
        sf_dir / "lineitem.parquet",
    )


@dataclass(frozen=True)
class Request:
    """One kiosk request. Coordinates carry 4 decimals so the DuckDB check
    parses the exact double the program received."""

    kind: str
    lat: float
    lon: float
    radius_km: float
    k: int
    vec_id: int


def search_requests(seed: int, label: str = "timed"):
    """Endless seeded request stream. Every block of three holds one request
    of each kind in a seeded order, so any prefix is balanced to within one
    request per kind and the latency mix does not drift with the seed. The
    seed draws the order, the probe point and the probe vector; radius and k
    are fixed per kind."""
    rng = random.Random(f"{seed}:{label}")
    probes = [i for i in range(SEARCH_EMBEDDINGS) if i % NULL_EMB_EVERY != NULL_EMB_EVERY - 1]
    while True:
        for kind in rng.sample(KINDS, len(KINDS)):
            yield Request(
                kind=kind,
                lat=round(LAT_MIN + rng.random() * LAT_SPAN, 4),
                lon=round(LON_MIN + rng.random() * LON_SPAN, 4),
                radius_km=RADIUS_KM[kind],
                k=TOP_K[kind],
                vec_id=rng.choice(probes),
            )
