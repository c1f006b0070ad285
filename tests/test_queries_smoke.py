"""Smoke: every declared query runs end-to-end at sf0.001 and returns a
deterministic result (two runs, identical canonical rows). Full value parity
vs DuckDB is tools/oracle_check.py; this catches schema/runtime breakage
fast inside pytest."""

from __future__ import annotations

from pathlib import Path

import pytest

from team_126_spark.queries import REGISTRY

SF_SMOKE = "/root/testdata/sf0.001"
ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs_and_is_deterministic(spark, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_SMOKE)
    rows = df.collect()
    assert df.columns, f"{name}: empty schema"
    # determinism: re-plan + re-run must produce the same multiset of rows
    again = q.fn(spark, SF_SMOKE).collect()
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, again)), f"{name}: nondeterministic"


def test_registry_contract():
    # every query has a doc string and oracle-or-None; names are snake_case
    for name, q in REGISTRY.items():
        assert name == name.lower()
        assert callable(q.fn)


def test_driver_sample_ordering_pinned():
    """The driver's CORRECTNESS gate samples the first 50 REGISTRY insertion
    positions. Pin that prefix to the round-12 rotation target so a future
    `@declared` insertion can't silently demote a query out of driver
    coverage. If you add a query, register it normally — the rotation at the
    bottom of queries.py keeps DRIVER_SAMPLE_R12 in front."""
    from team_126_spark.queries import DRIVER_SAMPLE_R12

    names = list(REGISTRY)
    assert len(DRIVER_SAMPLE_R12) == 50
    assert tuple(names[:50]) == DRIVER_SAMPLE_R12
    # the rotation must not drop or duplicate anything
    assert len(set(names)) == len(names)


def test_profile_approx_within_hll_error(spark):
    """profile_approx now emits the exact counts plus a deterministic
    within-3-sigma verdict per HLL sketch (driver-checkable form, VERDICT r4
    #2); this pytest keeps the independent bound check against DuckDB."""
    import duckdb

    row = REGISTRY["profile_approx"].fn(spark, SF_SMOKE).collect()[0]
    exact = duckdb.sql(
        "SELECT count(*), count(DISTINCT o_custkey), count(DISTINCT o_orderpriority) "
        f"FROM '{SF_SMOKE}/orders.parquet'"
    ).fetchone()
    assert row["n_rows"] == exact[0]
    assert row["n_custkeys"] == exact[1]
    assert row["n_priorities"] == exact[2]
    # HLL++ default rsd is 5%; the query's own verdict allows 3 sigma
    assert row["custkeys_ok"] is True
    assert row["priorities_ok"] is True


def test_percentile_approx_within_rank_error(spark):
    """The documented L20 scale path (column_quantiles docstring): at 100 TB
    exact percentile is swapped for percentile_approx. Bound its rank error
    against the exact quantile on real data: with accuracy=10000 the
    rank error is <= n/10000, so the approx p50/p90 must land within the
    value-span of that rank neighborhood."""
    from pyspark.sql import functions as F

    from team_126_spark.queries import load
    from team_126_spark.functions.text import token_count

    d = load(spark, SF_SMOKE, "documents").select(
        token_count(F.col("text")).cast("double").alias("nt")
    ).cache()
    n = d.count()
    acc = 10_000
    for q in (0.5, 0.9):
        exact = d.agg(F.percentile("nt", F.lit(q))).first()[0]
        approx = d.agg(F.percentile_approx("nt", F.lit(q), F.lit(acc))).first()[0]
        # translate the rank guarantee into a value bound: values at ranks
        # within n/acc of the target must bracket the approx answer
        ranked = sorted(r["nt"] for r in d.collect())
        slack = max(2, n // acc + 1)
        target = int(q * (n - 1))
        lo = ranked[max(0, target - slack)]
        hi = ranked[min(n - 1, target + slack)]
        assert lo <= approx <= hi, (q, approx, exact, lo, hi)
    d.unpersist()


def test_every_oracle_parses_in_duckdb():
    """EXPLAIN (no execution) every declared oracle with the driver's table
    views registered — a syntax error or misspelled column in an oracle
    surfaces here in seconds instead of at the correctness gate."""
    import duckdb

    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    )
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    bad = {}
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        try:
            con.execute(f"EXPLAIN {q.oracle}")
        except Exception as e:  # noqa: BLE001
            bad[name] = str(e).splitlines()[0]
    assert not bad, bad


def test_session_scale_confs_pinned(spark):
    """tune_session (what the driver contract's entry() applies to an
    externally built session) must set every conf the 100 TB story depends
    on: AQE re-planning, UTC oracle comparability, the Arrow boundary —
    the whole runtime list `configure` also puts on the engine's builder."""
    from team_126_spark.session import runtime_confs, tune_session

    pinned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    confs = runtime_confs()
    assert {k: confs[k] for k in pinned} == pinned
    tune_session(spark)
    assert {k: spark.conf.get(k) for k in confs} == confs


def test_temperature_mix_semantics_and_float_margins(spark):
    """alpha=0.5 temperature mixing: the smallest source's multiplier > 1
    (up-sampled), the largest < 1 (thinned), expected volume ≈ corpus size.
    Plus the ann_lsh-style margin guard: no multiplier sits within
    float-summation noise of a round-6 boundary, and no doc's md5-uniform
    sits at its fractional-part decision edge — so cross-engine
    summation-order ulps can't flip the gate."""
    import hashlib
    import math

    import duckdb

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        stats = duckdb.sql(
            "SELECT source, sum(CASE WHEN t IS NULL OR t = '' THEN 0"
            " ELSE len(str_split(t, ' ')) END) AS n FROM ("
            "  SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t,"
            f"        source FROM read_parquet('{sf}/documents.parquet'))"
            " GROUP BY source"
        ).fetchall()
        n = {s: int(c) for s, c in stats}
        n_tot = sum(n.values())
        r_tot = sum(math.sqrt(v) for v in n.values())
        mult = {s: (math.sqrt(v) / r_tot) / (v / n_tot) for s, v in n.items()}
        small = min(n, key=n.get)
        big = max(n, key=n.get)
        assert mult[small] > 1.0 > mult[big]
        for s, m in mult.items():
            d = abs(m * 1e6 - round(m * 1e6) - 0.5)
            assert d > 1e-6, (sf, s, m, "round-6 boundary")
        rows = duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{sf}/documents.parquet')"
        ).fetchall()
        for (doc_id,) in rows:
            h = hashlib.md5(f"{doc_id}:rs".encode()).hexdigest()
            u = int(h[17:32], 16) / float(1 << 60)
            for m in set(round(v, 6) for v in mult.values()):
                frac = m - math.floor(m)
                assert abs(u - frac) > 1e-9, (sf, doc_id, m, "frac edge")


def test_every_query_survives_empty_tables(spark, tmp_path_factory):
    """Empty-corpus totality sweep: every declared query over 0-row tables
    either returns a well-formed (possibly non-empty: generated grids,
    global aggregates, padded windows) result, or raises a deliberate
    ValueError naming the missing fixture — never a NoneType subscript,
    analyzer error, or executor crash. The failure mode this pins: a
    production partition pruned to nothing, or a truncated fixture table."""
    from pyspark.sql import functions as F

    from team_126_spark.tables import table

    dst = str(tmp_path_factory.mktemp("empty_sf"))
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        table(spark, SF_SMOKE, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{dst}/{t}.parquet")

    # queries that NEED a fixture probe row raise a deliberate ValueError
    EXPECT_RAISE = {
        "ann_lsh", "ann_ivf", "ann_quantized", "vec_knn_scoped", "multimodal_knn",
        "hybrid_fusion_adaptive", "matryoshka_eval",  # driver-side probe vec
        # centroid samples are a config error on an empty corpus,
        # exactly like the ANN index builds above (ivf_centroids raises)
        "semdedup_select", "cluster_keywords", "semdedup_index_probe",
        "hard_negatives_scoped", "kcenter_select", "lsh_index_probe",
        "mmr_select",
    }
    bad = {}
    for name, q in REGISTRY.items():
        try:
            q.fn(spark, dst).collect()
            if name in EXPECT_RAISE:
                bad[name] = "expected ValueError, got a result"
        except ValueError:
            if name not in EXPECT_RAISE:
                bad[name] = "unexpected ValueError"
        except Exception as e:  # noqa: BLE001
            bad[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:80]}"
    assert not bad, bad


def test_cluster_keywords_shape(spark):
    """Exactly top-5 terms per non-empty IVF cell, cells in [0, 16), n_tf
    positive, and scores non-increasing within a cell."""
    from team_126_spark.queries import REGISTRY

    rows = REGISTRY["cluster_keywords"].fn(spark, SF_SMOKE).collect()
    by_cell = {}
    for r in rows:
        assert 0 <= r["cell"] < 16 and r["n_tf"] >= 1
        by_cell.setdefault(r["cell"], []).append(r["score"])
    assert by_cell and all(len(v) <= 5 for v in by_cell.values())
    # the window emits scores in rank order per cell
    assert all(v == sorted(v, reverse=True) for v in by_cell.values())


def test_spark_entry_imports_its_own_checkout(tmp_path):
    """The driver contract puts its own directory first on sys.path, so a
    copy of the checkout that imports `__spark_entry__` runs the copy's
    modules, not those of another checkout on the path."""
    import shutil
    import subprocess
    import sys

    copy = tmp_path / "checkout"
    shutil.copytree(ROOT / "team_126_spark", copy / "team_126_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "__spark_entry__.py", copy)
    load = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location('__spark_entry__', sys.argv[1])\n"
        "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "import team_126_spark\n"
        "print(team_126_spark.__file__)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", load, str(copy / "__spark_entry__.py")],
        cwd=tmp_path, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()[-1]
    assert Path(out).resolve().is_relative_to(copy.resolve()), out
