"""Vector kernels over `array<float>` columns — built-in higher-order
functions only (zip_with + aggregate), no UDFs, so Catalyst keeps the whole
pipeline JVM-side.

Parity targets in the reference:
  - cosine similarity with zero-norm guard (backend/embeddings.py:112-135)
  - pgvector `<=>` cosine-distance KNN     (backend/embeddings.py:165-173)
  - euclidean face-encoding match          (backend/auth.py:66-81)
  - hybrid rank fusion w*sim + (1-w)*dist  (backend/hybrid_search.py:169-170)

Every product is computed in double precision in strict element order
(left fold), so the DuckDB oracle can reproduce values bit-for-bit with the
`*_sql` twins (index-ordered list_transform + list_sum).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] in double precision, strict element order."""
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot/(‖a‖‖b‖) with the reference's zero-norm → 0.0 guard."""
    na, nb = norm(a), norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def py_norm(v) -> float:
    """Driver-side twin of the column `norm()`: left-fold sum of squares in
    double, then a correctly rounded sqrt — the same IEEE op sequence."""
    acc = 0.0
    for x in v:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def probe_lit(v) -> Column:
    """A driver-side vector as ONE `array<double>` literal: one py4j call,
    where `F.array(*[F.lit(x) ...])` makes one per element (64 elements:
    ~7 ms against ~45 ms on a 4-core box). Float widening is exact, so the
    doubles are the ones the per-element literals carried."""
    return F.lit(np.array([float(x) for x in v], dtype=np.float64))


def cosine_to_probe(a: Column, probe, a_norm: Column | None = None) -> Column:
    """`cosine_similarity(a, <probe as literals>)` bit for bit, for a probe
    held on the driver: the probe is one literal (`probe_lit`) and its norm
    folds once on the driver (`py_norm`, same fold order) instead of once
    per row. A zero probe gives 0.0 on every row, null rows included, as
    the column guard does (`null OR true`). `a_norm` passes a precomputed
    row norm (e.g. a carried column) so it is not refolded either."""
    pn = py_norm(probe)
    if pn == 0.0:
        return F.lit(0.0)
    na = norm(a) if a_norm is None else a_norm
    return F.when(na == 0.0, F.lit(0.0)).otherwise(dot(a, probe_lit(probe)) / (na * F.lit(pn)))


def euclidean(a: Column, b: Column) -> Column:
    diffs = F.zip_with(a, b, lambda x, y: F.pow(x.cast("double") - y.cast("double"), 2))
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v))


def fuse_scores(semantic: Column, distance_score: Column, weight: float = 0.5) -> Column:
    """Weighted rank fusion; weight=semantic share (reference default 0.5)."""
    return F.lit(weight) * semantic + F.lit(1.0 - weight) * distance_score


def distance_score(dist: Column, max_dist: float) -> Column:
    """1 - dist/max_dist normalization (reference: hybrid_search.py:163-167)."""
    return F.lit(1.0) - dist / F.lit(max_dist)


# ---------------------------------------------------------------- SQL twins

def dot_sql(a: str, b: str) -> str:
    """Index-ordered Σ a[i]*b[i] for DuckDB (1-based list indexing)."""
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine_similarity_sql(a: str, b: str) -> str:
    return (
        f"(CASE WHEN {norm_sql(a)} = 0 OR {norm_sql(b)} = 0 THEN 0.0 "
        f"ELSE {dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}) END)"
    )


def euclidean_sql(a: str, b: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> pow(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE), 2))))"
    )
