"""The two workloads: `search` (interactive kiosk requests) and `loops`
(job-count-bound registry rows). Each drives the program's public functions
with seeded inputs, times a closed loop, and checks every output against
DuckDB afterwards, outside the timed region."""

from __future__ import annotations

import time
from pathlib import Path
from statistics import median
from typing import Any

import duckdb
from pyspark.sql import functions as F

from team_126_spark import tables as T
from team_126_spark.functions.geo import haversine_sql
from team_126_spark.functions.vector import cosine_similarity_sql
from team_126_spark.operators import geo as OG
from team_126_spark.operators import vector as OV
from team_126_spark.queries import REGISTRY
from team_126_spark.sources import synth
from tools.oracle_check import compare

from . import inputs as I
from .measure import Outcome, Tally, check_outcomes, run_op

HYBRID_WEIGHT = 0.5


class Collected:
    """Rows already collected, shaped like the DataFrame `compare` expects,
    so checking does not run the query a second time."""

    def __init__(self, columns: list[str], rows: list[Any]):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[Any]:
        return self._rows


def _duck(sf_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for p in sorted(sf_dir.glob("*.parquet")):
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{src}')")
    return con


def _against(con, label: str, columns: list[str], rows: list[Any], sql: str) -> str | None:
    cur = con.execute(sql)
    o_cols = [d[0] for d in cur.description]
    return compare(label, Collected(columns, rows), cur.fetchall(), o_cols)


class Workload:
    """Shared shape: stage inputs (repeatable), warm, run a timed closed
    loop, check. `trace` is a Tracer or NullTracer; `probe` is set only in
    the traced run."""

    name = ""

    def __init__(self, spark, work: Path, seed: int, trace, probe=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.trace = trace
        self.probe = probe
        self.sf: Path | None = None

    def _op(self, label: str, fn) -> Outcome:
        # Nothing cached by an earlier operation may serve this one (the
        # program persists, e.g., MinHash signatures per session).
        self.spark.catalog.clearCache()
        before = self.probe.codegen() if self.probe else None
        with self.trace.span("op", label):
            start = time.time()
            out = run_op(label, fn)
            out.extra["start"], out.extra["end"] = start, time.time()
        if before:
            after = self.probe.codegen()
            out.extra["codegen"] = (after[0] - before[0], after[1] - before[1])
        return out


# ---------------------------------------------------------------- search


class Search(Workload):
    """Closed loop, one client: each request is hybrid geo+semantic fusion
    (over-fetch path), radius top-k, or exact cosine k-NN, and its result is
    collected to the driver the way the reference's HTTP layer serializes
    it."""

    name = "search"

    def stage(self, rep: int) -> None:
        sf = self.work / f"search{rep}"
        I.write_search_tables(self.seed, sf)
        cust = T.with_geo(T.table(self.spark, str(sf), "customer"), "c_custkey")
        emb = T.table(self.spark, str(sf), "embeddings")
        (
            cust.select("c_custkey", "lat", "lon")
            .withColumn("vec_id", F.col("c_custkey") % I.SEARCH_EMBEDDINGS)
            .join(emb, "vec_id")
            .drop("vec_id")
            .write.mode("overwrite")
            .parquet(str(sf / "resources.parquet"))
        )
        self.sf = sf
        self.vectors = I.embeddings_table(self.seed).column("embedding")

    def _request(self, req: I.Request) -> dict[str, Any]:
        if req.kind == "radius":
            res = T.table(self.spark, str(self.sf), "resources")
            df = OG.radius_topk(
                res, "lat", "lon", req.lat, req.lon, req.radius_km, req.k, "c_custkey"
            ).select("c_custkey", F.round("distance_km", 4).alias("distance_km"))
        elif req.kind == "hybrid":
            res = T.table(self.spark, str(self.sf), "resources")
            df = OV.hybrid_search(
                res, "embedding", self.vectors[req.vec_id].as_py(), req.lat, req.lon,
                req.radius_km, req.k, "c_custkey", weight=HYBRID_WEIGHT,
                candidate_factor=I.HYBRID_CANDIDATE_FACTOR,
            ).select(
                "c_custkey",
                F.round("distance_km", 4).alias("distance_km"),
                F.round("similarity", 6).alias("similarity"),
                F.round("combined_score", 6).alias("combined_score"),
            )
        else:
            emb = T.table(self.spark, str(self.sf), "embeddings")
            df = OV.knn(emb, "embedding", self.vectors[req.vec_id].as_py(), req.k, "vec_id").select(
                "vec_id", F.round("similarity", 6).alias("similarity")
            )
        return {"req": req, "df": df, "rows": df.collect()}

    def warm(self) -> None:
        stream = I.search_requests(self.seed, "warm")
        for _ in range(9):
            self._request(next(stream))

    def timed(self, seconds: float) -> list[Outcome]:
        stream = I.search_requests(self.seed)
        outcomes = []
        stop = time.perf_counter() + seconds
        while time.perf_counter() < stop:
            req = next(stream)
            outcomes.append(self._op(req.kind, lambda: self._request(req)))
        return outcomes

    def check(self, outcomes: list[Outcome]) -> Tally:
        con = _duck(self.sf)
        try:
            return check_outcomes(
                outcomes,
                lambda o: _against(
                    con, o.label, o.output["df"].columns, o.output["rows"], oracle_sql(o.output["req"])
                ),
            )
        finally:
            con.close()

    @staticmethod
    def units(outcomes: list[Outcome]) -> int:
        return len(outcomes)

    @staticmethod
    def end_to_end(outcomes: list[Outcome]) -> tuple[float, float]:
        """(median request ms, requests per second)."""
        secs = [o.seconds for o in outcomes]
        return median(secs) * 1000.0, len(secs) / sum(secs)


def _lit(x: float) -> str:
    return f"CAST('{x!r}' AS DOUBLE)"


def oracle_sql(req: I.Request) -> str:
    """DuckDB twin of one search request, built from the input tables with
    the registry oracles' SQL helpers."""
    resources = f"""
        SELECT c.c_custkey, {T.derived_lat_sql('c.c_custkey')} AS lat,
               {T.derived_lon_sql('c.c_custkey')} AS lon, e.embedding
        FROM customer c JOIN embeddings e ON e.vec_id = c.c_custkey % {I.SEARCH_EMBEDDINGS}"""
    dist = haversine_sql(_lit(req.lat), _lit(req.lon), "lat", "lon")
    probe = f"(SELECT embedding AS probe FROM embeddings WHERE vec_id = {req.vec_id})"
    r = _lit(req.radius_km)
    if req.kind == "radius":
        return f"""
            SELECT c_custkey, round(d, 4) AS distance_km
            FROM (SELECT c_custkey, {dist} AS d FROM ({resources})) WHERE d <= {r}
            ORDER BY d, c_custkey LIMIT {req.k}"""
    if req.kind == "knn":
        return f"""
            SELECT vec_id, round(sim, 6) AS similarity FROM (
              SELECT vec_id, {cosine_similarity_sql('embedding', 'p.probe')} AS sim
              FROM embeddings, {probe} p WHERE embedding IS NOT NULL)
            ORDER BY sim DESC, vec_id LIMIT {req.k}"""
    w = _lit(HYBRID_WEIGHT)
    return f"""
        WITH cands AS (
          SELECT c_custkey, embedding, d
          FROM (SELECT c_custkey, embedding, {dist} AS d FROM ({resources})) WHERE d <= {r}
          ORDER BY d, c_custkey LIMIT {req.k * I.HYBRID_CANDIDATE_FACTOR}
        ), scored AS (
          SELECT c_custkey, d,
                 CASE WHEN embedding IS NULL THEN 0.0
                      ELSE {cosine_similarity_sql('embedding', 'p.probe')} END AS sim
          FROM cands, {probe} p
        ), fused AS (
          SELECT c_custkey, d, sim,
                 {w} * sim + (CAST(1.0 AS DOUBLE) - {w}) * (CAST(1.0 AS DOUBLE) - d / {r}) AS score
          FROM scored
        )
        SELECT c_custkey, round(d, 4) AS distance_km, round(sim, 6) AS similarity,
               round(score, 6) AS combined_score
        FROM fused ORDER BY score DESC, c_custkey LIMIT {req.k}"""


# ---------------------------------------------------------------- loops

# Job-count-bound registry rows. PageRank's power iteration launches 54
# jobs while its DataFrame is built (checkpointed rank vectors, dangling and
# node-count probes). dedup_select runs MinHash (a pandas UDF), banded LSH,
# connected components and a textops quality score over a synthdocs corpus,
# so the dedup, textops and Python-UDF layers do their work here too.
LOOP_ROWS = ("pagerank_topk", "dedup_select")
WARM_PASSES = 1  # a fresh JVM runs its first pass ~3x slow; the timed median absorbs the ~10% slower second
MIN_PASSES = 2


class Loops(Workload):
    """Registry rows through the noop sink; one pass runs every row once."""

    name = "loops"

    def stage(self, rep: int) -> None:
        sf = self.work / f"loops{rep}"
        I.write_loops_tables(self.seed, sf)
        T.ship_package(self.spark)
        synth.register(self.spark)
        (
            self.spark.read.format("synthdocs")
            .options(rows=str(I.LOOPS_DOCUMENTS), partitions="4", seed=str(self.seed))
            .load()
            .write.parquet(str(sf / "documents.parquet"))
        )
        self.sf = sf

    def _row(self, name: str):
        with self.trace.span("queries.build", name):
            df = REGISTRY[name].fn(self.spark, str(self.sf))
        with self.trace.span("queries.action", name):
            df.write.format("noop").mode("overwrite").save()
        return df

    def warm(self) -> None:
        for _ in range(WARM_PASSES):
            for name in LOOP_ROWS:
                self._row(name)

    def timed(self, seconds: float) -> list[Outcome]:
        """At least MIN_PASSES passes; after that, a pass starts only when it
        is expected (at the mean pass time so far) to end within `seconds`."""
        outcomes: list[Outcome] = []
        spent, passes = 0.0, 0
        while passes < MIN_PASSES or spent + spent / passes <= seconds:
            passes += 1
            for name in LOOP_ROWS:
                o = self._op(name, lambda: self._row(name))
                spent += o.seconds
                o.extra["pass"] = len(outcomes) // len(LOOP_ROWS)
                if o.error is None:
                    # collected for the check, outside the row's timed span
                    df = o.output
                    try:
                        o.output = {"df": df, "rows": df.collect()}
                    except Exception as exc:  # the row's result is unreadable
                        o.error, o.output = f"collect: {type(exc).__name__}: {exc}"[:300], None
                outcomes.append(o)
        return outcomes

    def check(self, outcomes: list[Outcome]) -> Tally:
        con = _duck(self.sf)
        oracle: dict[str, tuple[list[str], list[Any]]] = {}
        try:

            def one(o: Outcome) -> str | None:
                if o.label not in oracle:
                    cur = con.execute(REGISTRY[o.label].oracle)
                    oracle[o.label] = ([d[0] for d in cur.description], cur.fetchall())
                cols, rows = oracle[o.label]
                return compare(o.label, Collected(o.output["df"].columns, o.output["rows"]), rows, cols)

            return check_outcomes(outcomes, one)
        finally:
            con.close()

    @staticmethod
    def units(outcomes: list[Outcome]) -> int:
        return len({o.extra["pass"] for o in outcomes})

    @staticmethod
    def end_to_end(outcomes: list[Outcome]) -> tuple[float, float]:
        """(ms of one pass, as the sum of each row's median time; rows per
        second over every timed row)."""
        by_row: dict[str, list[float]] = {}
        for o in outcomes:
            by_row.setdefault(o.label, []).append(o.seconds)
        pass_s = sum(median(v) for v in by_row.values())
        return pass_s * 1000.0, len(outcomes) / sum(o.seconds for o in outcomes)


WORKLOADS = {w.name: w for w in (Search, Loops)}
